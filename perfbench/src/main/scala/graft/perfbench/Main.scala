package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** The benchmark's workloads: SparkEntry query names, run in this order
  * once per pass. Each is a subset of the family it is named after,
  * sized so that a whole run (three set-ups, the first of them cold,
  * and four or five timed passes) takes about a minute on 4 cores:
  *  - course: the reference course's analytics; time goes to per-query
  *    fixed cost and single-task stages;
  *  - curate: LLM-data curation; both queries run a native kernel
  *    (minhash band keys, ccnet bigram keys), but time goes mostly to
  *    their jobs, shuffles and the eager jobs inside their operator
  *    calls: the kernels themselves are a few percent of a pass, and
  *    [[Kernels]] times them alone. */
object Workloads {
  val course: Seq[String] = Seq(
    "q1_multi_agg", "q10_star_join", "q13_wordcount", "q15_json_extract",
    "q17_time_range_filter", "q19_pivot_agg", "st3_sessionize")
  val curate: Seq[String] = Seq(
    "d2_dedup_minhash", "t17_ccnet_ppl")
  val all: Map[String, Seq[String]] =
    Map("course" -> course, "curate" -> curate)
  /** Wall seconds of one timed pass on a quiet 4-vCPU Xeon VM; `--seconds`
    * is divided by it to fix the number of timed passes. */
  val passSeconds: Map[String, Double] =
    Map("course" -> 4.0, "curate" -> 3.2)
}

/** One query of one pass: wall nanoseconds of the three calls. */
final case class QRec(name: String, startMs: Double, buildNs: Long,
                      planNs: Long, execNs: Long, error: String) {
  def ok: Boolean = error.isEmpty
  def totalNs: Long = buildNs + planNs + execNs
}

/** One timed pass: its queries, its process-level numbers, and (traced
  * passes only) the jobs and stages the listener saw. */
final case class PassRec(pass: Int, traced: Boolean, q: Seq[QRec],
                         wallS: Double, processCpuS: Double, jitS: Double,
                         gcS: Double, heapMb: Double,
                         liveBlocksMb: Double, builds: Long, diskMb: Double,
                         codegen: Long, jobs: Seq[JobRec],
                         stages: Seq[StageRec]) {
  /** CPU the queries cost: the whole process (driver, task threads,
    * GC and Spark's service threads) less the JIT compiler threads,
    * whose work is the JVM's warm-up rather than the queries'. */
  def cpuS: Double = processCpuS - jitS
}

/** Runs one workload on one `local[4]` Spark context and writes result.json
  * (timings, counters, the correctness dump's location) and, when
  * traced, spans.jsonl and layers.txt into `--out`.
  *
  * Protocol: [[Setups]] set-ups, each a session start and one untimed
  * warm-up pass (the first starts Spark and runs on the run's corpus,
  * writing each query's result to `<out>/check/<query>` instead of the
  * noop sink; the others run in new sessions on the same Spark context,
  * on new copies of the corpus) → in the last set-up's session,
  * [[passCount]] timed passes, about `--seconds` of pass time on a quiet
  * host → with `--trace 1`, kernel timings → the DuckDB
  * oracle SQL for the run's corpus into `<out>/check/oracle_sql.json`.
  * setup_s is the median set-up. The correctness check rides on the
  * first warm-up pass because a separate checked pass would cost a
  * fifth of the run.
  *
  * Between passes (untimed): cached relations are cleared and a full GC
  * runs. The heap still in use after the pass's GC is retained_heap_mb.
  *
  * A traced run alternates traced and untraced passes; per-layer
  * numbers come from the traced ones, and the ratio of the two medians
  * is the tracing overhead. */
object Main {
  /** Task threads (`local[Cores]`) and shuffle partitions. */
  val Cores = 4
  /** Timed passes a run makes at least: the median of three steadies
    * the per-query latencies, which fall pass by pass while the JIT
    * compiler warms up. A traced run makes one more, so that it has
    * two traced and two untraced passes. */
  val MinPasses = 3

  /** Timed passes of a run: `--seconds` over the workload's nominal pass
    * time, at least [[MinPasses]] (one more when traced). The count
    * depends on the arguments only, never on how fast the passes go:
    * passes keep getting faster while the JIT compiles the classes Spark
    * generates for them, so a count that grew with the host's speed
    * would move the median to a later, faster pass just when the host
    * is fast, and widen the spread between runs. */
  def passCount(workload: String, seconds: Double, trace: Boolean): Int =
    math.max(if (trace) MinPasses + 1 else MinPasses,
      math.round(seconds / Workloads.passSeconds(workload)).toInt)

  /** Set-ups a run times. The first is the JVM's and Spark's cold start;
    * the others run in a warmer JVM but on a corpus the library has not
    * seen (a copy at a new path, so every fingerprint-keyed table, memo
    * cache and persisted artifact is staged or built again), so their
    * median shows work a change moves into set-up without the JVM's own
    * warm-up noise. They also warm the JIT before the timed passes. */
  val Setups = 3

  final case class Opts(workload: String, corpus: String, out: String,
                        seconds: Double, trace: Boolean)

  private def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Opts(need("--workload"), need("--corpus"), need("--out"),
      need("--seconds").toDouble, need("--trace") == "1")
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val names = Workloads.all.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val out = new File(o.out)
    out.mkdirs()

    def startSpark(): SparkSession = {
      val s = GraftSession
        .builder(master = s"local[$Cores]", shufflePartitions = Cores)
        .config("spark.local.dir",
          new File(out, "spark-local").getAbsolutePath)
        .config("spark.sql.warehouse.dir",
          new File(out, "warehouse").getAbsolutePath)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    def noop(name: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def runPass(s: SparkSession, corpus: String, pass: Int, traced: Boolean,
                sink: (String, DataFrame) => Unit = noop): Seq[QRec] = fns.map {
      case (name, fn) =>
        val sc = s.sparkContext
        def phase(p: String)(body: => Unit): Long = {
          if (traced) sc.setJobGroup(s"p$pass/$name/$p", s"$name $p",
            interruptOnCancel = false)
          val a = System.nanoTime()
          body
          System.nanoTime() - a
        }
        val startMs = System.currentTimeMillis().toDouble
        var b, p, e = 0L
        try {
          var df: DataFrame = null
          b = phase("build") { df = fn(s, corpus) }
          p = phase("plan") { df.queryExecution.executedPlan }
          e = phase("exec") { sink(name, df) }
          QRec(name, startMs, b, p, e, "")
        } catch {
          case t: Throwable =>
            QRec(name, startMs, b, p, e,
              s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300))
        } finally if (traced) sc.clearJobGroup()
    }

    // -- set-ups: each starts a session and runs one untimed warm-up
    // pass. The first starts Spark, runs on the run's corpus and also
    // writes the correctness dump; the others open a new session (its
    // own catalog and SQL state) on the running Spark context and run on
    // new copies of the corpus. The timed passes run in the last set-up's
    // session, on its corpus. --
    val check = new File(out, "check")
    def dump(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite")
        .parquet(new File(check, name).getAbsolutePath)
    val ups = mutable.ArrayBuffer[(SparkSession, String, Double, Seq[QRec])]()
    for (k <- 1 to Setups) {
      val dir =
        if (k == 1) o.corpus
        else {
          val copy = new File(out, s"corpus$k")
          copy.mkdirs()
          new File(o.corpus).listFiles().foreach(f =>
            Files.copy(f.toPath, new File(copy, f.getName).toPath))
          copy.getAbsolutePath
        }
      val t0 = System.nanoTime()
      val s = if (k == 1) startSpark() else ups.last._1.newSession()
      val q = runPass(s, dir, -k, traced = false, if (k == 1) dump else noop)
      ups += ((s, dir, (System.nanoTime() - t0) / 1e9, q))
    }
    val setups = ups.toSeq
    val (spark, corpus, _, _) = setups.last
    val sc = spark.sparkContext
    val tracer = new Tracer

    // -- timed passes --
    val artifactRoot = new File("target")
    val passes = mutable.ArrayBuffer[PassRec]()
    for (pass <- 1 to passCount(o.workload, o.seconds, o.trace)) {
      val traced = o.trace && pass % 2 == 1
      spark.catalog.clearCache()
      System.gc()
      if (traced) sc.addSparkListener(tracer)
      val dirs0 = artifactDirs(artifactRoot)
      val builds0 = memoBuilds()
      val cpu0 = osBean.getProcessCpuTime
      val jit0 = jitCpuNs()
      val gc0 = gcMs()
      val cg0 = codegenCompiles()
      val w0 = System.nanoTime()
      val q = runPass(spark, corpus, pass, traced)
      val wallS = (System.nanoTime() - w0) / 1e9
      val processCpuS = (osBean.getProcessCpuTime - cpu0) / 1e9
      val jitS = (jitCpuNs() - jit0) / 1e9
      val gcS = (gcMs() - gc0) / 1e3
      val codegen = codegenCompiles() - cg0
      val builds = memoBuilds() - builds0 +
        (artifactDirs(artifactRoot) -- dirs0).size
      val (jobs, stages) =
        if (traced) {
          org.apache.spark.perfbench.Bus.drain(sc)
          sc.removeSparkListener(tracer)
          tracer.take()
        } else (Nil, Nil)
      val liveMb = sc.getExecutorMemoryStatus.values
        .map { case (max, free) => max - free }.sum / 1048576.0
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
        .getUsed / 1048576.0
      passes += PassRec(pass, traced, q, wallS, processCpuS, jitS, gcS,
        heapMb, liveMb, builds, duBytes(artifactRoot) / 1048576.0, codegen,
        jobs, stages)
    }

    val kernels =
      if (o.trace) Kernels.measure(spark, corpus) else Nil

    val oracle = SparkEntry.oracleSqlFor(spark, o.corpus)
      .filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(check.getPath, "oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Json.str(v) }))

    spark.stop()

    // -- results --
    val timed = passes.toSeq
    val plain = timed.filterNot(_.traced)
    val lat = timed.flatMap(_.q.filter(_.ok).map(_.totalNs / 1e9)).sorted
    val executed = setups.flatMap(_._4) ++ timed.flatMap(_.q)
    val failed = executed.filterNot(_.ok)
    val e2e = Seq(
      "setup_s" -> (median(setups.map(_._3)), "s"),
      "wall_s" -> (median(plain.map(_.wallS)), "s"),
      "query_p50_s" -> (quantile(lat, 0.5), "s"),
      "query_p90_s" -> (quantile(lat, 0.9), "s"),
      "cpu_s" -> (median(plain.map(_.cpuS)), "s"),
      "retained_heap_mb" -> (median(plain.map(_.heapMb)), "MB"))

    val tracedPasses = timed.filter(_.traced)
    val layerRows = tracedPasses.map(p => layers(p))
    val layerNames = layerRows.headOption.map(_.map(_._1)).getOrElse(Nil)
    val overhead =
      if (tracedPasses.nonEmpty && plain.nonEmpty)
        median(tracedPasses.map(_.wallS)) / median(plain.map(_.wallS)) - 1
      else 0.0
    val perLayer: Seq[(String, (Double, String))] =
      (if (o.trace) layerNames.map { n =>
        val vs = layerRows.map(_.find(_._1 == n).get._2)
        n -> (median(vs.map(_._1)), vs.head._2)
      } else Nil) ++
        kernels.map { case (k, ns) => s"functions.${k}_ns_per_row" -> (ns, "ns") } ++
        (if (o.trace) Seq("trace.overhead_frac" -> (overhead, "fraction"))
         else Nil)

    if (o.trace) writeSpans(out, tracedPasses.flatMap(spans))

    def metrics(xs: Seq[(String, (Double, String))]) =
      Json.obj(xs.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    def perPass(xs: Seq[PassRec]) = Json.arr(xs.map { p =>
      Json.obj(Seq(
        "pass" -> p.pass.toString, "traced" -> p.traced.toString,
        "wall_s" -> Json.num(p.wallS), "cpu_s" -> Json.num(p.cpuS),
        "process_cpu_s" -> Json.num(p.processCpuS),
        "jit_s" -> Json.num(p.jitS), "jvm_gc_s" -> Json.num(p.gcS),
        "heap_mb" -> Json.num(p.heapMb),
        "live_blocks_mb" -> Json.num(p.liveBlocksMb),
        "builds" -> p.builds.toString,
        "layers" -> (if (p.traced) metrics(layers(p)) else "null"),
        "queries" -> Json.obj(p.q.map(r => r.name -> Json.arr(Seq(
          Json.num(r.buildNs / 1e9), Json.num(r.planNs / 1e9),
          Json.num(r.execNs / 1e9))))),
      ))
    })
    Files.writeString(Paths.get(out.getPath, "result.json"), Json.obj(Seq(
      "workload" -> Json.str(o.workload),
      "queries" -> Json.arr(names.map(Json.str)),
      "passes" -> timed.size.toString,
      "setups_s" -> Json.arr(setups.map(x => Json.num(x._3))),
      "executions" -> executed.size.toString,
      "setup_queries" -> Json.arr(setups.map(x => Json.obj(x._4.map(r =>
        r.name -> Json.num(r.totalNs / 1e9))))),
      "latency_samples" -> lat.size.toString,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(perLayer),
      "failed" -> Json.arr(failed.map(r => Json.str(s"${r.name}: ${r.error}"))),
      "per_pass" -> perPass(timed),
    )) + "\n")
  }

  // ---------------------------------------------------------------------
  // per-layer counters of one traced pass

  private def layers(p: PassRec): Seq[(String, (Double, String))] = {
    val t = new TaskSums
    p.stages.foreach(s => t.add(s.t))
    val mb = 1048576.0
    // build time not covered by the jobs the build call itself started
    val driverS = p.q.map { r =>
      val lo = r.startMs
      val hi = lo + r.buildNs / 1e6
      val eager = p.jobs.filter(_.group == s"p${p.pass}/${r.name}/build")
        .map(j => (j.startMs.toDouble, j.endMs.toDouble))
      (r.buildNs / 1e6 - Spans.covered(lo, hi, eager)) / 1e3
    }.sum
    Seq(
      "operators.build_s" -> (p.q.map(_.buildNs).sum / 1e9, "s"),
      "operators.eager_jobs" ->
        (p.jobs.count(_.group.endsWith("/build")).toDouble, "count"),
      "operators.build_driver_s" -> (driverS, "s"),
      "planner.plan_s" -> (p.q.map(_.planNs).sum / 1e9, "s"),
      "exec.exec_s" -> (p.q.map(_.execNs).sum / 1e9, "s"),
      "exec.jobs" -> (p.jobs.size.toDouble, "count"),
      "exec.stages" -> (p.stages.size.toDouble, "count"),
      "exec.tasks" -> (t.tasks.toDouble, "count"),
      "exec.task_cpu_s" -> (t.cpuNs / 1e9, "s"),
      "exec.gc_s" -> (t.gcMs / 1e3, "s"),
      "exec.sched_wait_s" -> (t.waitMs / 1e3, "s"),
      "exec.cpu_util" -> (t.cpuNs / 1e9 / (p.wallS * Cores), "fraction"),
      "exec.codegen_compiles" -> (p.codegen.toDouble, "count"),
      "exec.jit_cpu_s" -> (p.jitS, "s"),
      "shuffle.write_mb" -> (t.shuffleWrite / mb, "MB"),
      "shuffle.read_mb" -> (t.shuffleRead / mb, "MB"),
      "shuffle.fetch_wait_s" -> (t.fetchWaitMs / 1e3, "s"),
      "shuffle.spill_mb" -> (t.spill / mb, "MB"),
      "shuffle.peak_task_mem_mb" -> (t.peakMem / mb, "MB"),
      "tables.input_mb" -> (t.inBytes / mb, "MB"),
      "tables.input_rows" -> (t.inRows.toDouble, "count"),
      "sources.output_mb" -> (t.outBytes / mb, "MB"),
      "sources.output_rows" -> (t.outRows.toDouble, "count"),
      "artifacts.live_blocks_mb" -> (p.liveBlocksMb, "MB"),
      "artifacts.builds" -> (p.builds.toDouble, "count"),
      "artifacts.disk_mb" -> (p.diskMb, "MB"))
  }

  /** The span tree of one traced pass. */
  private def spans(p: PassRec): Seq[Span] = {
    val passId = s"p${p.pass}"
    val qs = p.q.map { r =>
      val end = r.startMs + r.totalNs / 1e6
      Span(s"$passId/${r.name}", passId, "query", r.name, r.startMs, end)
    }
    val phases = p.q.flatMap { r =>
      val b = r.startMs + r.buildNs / 1e6
      val pl = b + r.planNs / 1e6
      Seq(("build", r.startMs, b), ("plan", b, pl),
        ("exec", pl, pl + r.execNs / 1e6)).map { case (k, a, z) =>
        Span(s"$passId/${r.name}/$k", s"$passId/${r.name}", k, r.name, a, z)
      }
    }
    val top = Span(passId, "", "pass", passId,
      qs.map(_.startMs).min, qs.map(_.endMs).max)
    val jobs = p.jobs.map { j =>
      Span(s"$passId/job${j.id}", if (j.group.isEmpty) passId else j.group,
        "job", s"job${j.id}", j.startMs, j.endMs)
    }
    val stages = p.stages.map { s =>
      Span(s"$passId/stage${s.id}.${s.attempt}", s"$passId/job${s.jobId}",
        "stage", s"stage${s.id}", s.startMs, s.endMs)
    }
    top +: (qs ++ phases ++ jobs ++ stages)
  }

  /** spans.jsonl (one span a line, with self time) and layers.txt (per
    * span kind: summed duration and self time, per traced pass). */
  private def writeSpans(out: File, all: Seq[Span]): Unit = {
    val self = Spans.selfTimes(all)
    Files.writeString(Paths.get(out.getPath, "spans.jsonl"), all.map { s =>
      Json.obj(Seq("id" -> Json.str(s.id), "parent" -> Json.str(s.parent),
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "dur_ms" -> Json.num(s.dur),
        "self_ms" -> Json.num(self(s.id))))
    }.mkString("", "\n", "\n"))
    val nPass = math.max(1, all.count(_.kind == "pass"))
    val kinds = Seq("pass", "query", "build", "plan", "exec", "job", "stage")
    val rows = kinds.map { k =>
      val xs = all.filter(_.kind == k)
      f"$k%-6s ${xs.size / nPass}%8d ${xs.map(_.dur).sum / nPass / 1e3}%10.3f" +
        f" ${xs.map(s => self(s.id)).sum / nPass / 1e3}%10.3f"
    }
    Files.writeString(Paths.get(out.getPath, "layers.txt"),
      f"${"span"}%-6s ${"n/pass"}%8s ${"dur_s"}%10s ${"self_s"}%10s\n" +
        rows.mkString("\n") + "\n")
  }

  // ---------------------------------------------------------------------

  /** CPU nanoseconds the JIT compiler threads ("C1 CompilerThread<n>",
    * "C2 CompilerThread<n>") have used so far, read from
    * /proc/self/task (Linux; 0 elsewhere). run.py keeps those threads
    * alive for the whole run, so none of their CPU is lost. */
  private def jitCpuNs(): Long = {
    val ticksNs = 1e9 / 100 // USER_HZ
    Option(new File("/proc/self/task").listFiles()).getOrElse(Array.empty[File])
      .map { t =>
        try {
          val comm = Files.readString(new File(t, "comm").toPath).trim
          if (!comm.startsWith("C1 Compiler") && !comm.startsWith("C2 Compiler")) 0L
          else {
            // fields after the parenthesised name: state is the 1st,
            // utime the 12th and stime the 13th
            val stat = Files.readString(new File(t, "stat").toPath)
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
            ((f(11).toLong + f(12).toLong) * ticksNs).toLong
          }
        } catch { case _: java.io.IOException => 0L } // thread just exited
      }.sum
  }

  /** Generated classes Spark has compiled with Janino so far: one per
    * miss of its code cache (spark.sql.codegen.cache.maxEntries). */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  /** GC milliseconds so far, all collectors. */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  /** Memo caches the library counts its own builds of. */
  private def memoBuilds(): Long = {
    import graft.operators.{Dedup, TextAnalysis}
    Seq(Dedup.confirmedBuildCount, Dedup.clusterBuildCount,
      Dedup.d9InvBuildCount, TextAnalysis.t11BuildCount).map(_.get.toLong).sum
  }

  /** Persisted artifacts: one directory per (kind, corpus) under the
    * working directory's target/. */
  private def artifactDirs(root: File): Set[String] =
    Option(root.listFiles()).getOrElse(Array.empty[File])
      .filter(_.isDirectory)
      .flatMap(k => Option(k.listFiles()).getOrElse(Array.empty[File])
        .map(f => s"${k.getName}/${f.getName}"))
      .toSet

  private def duBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(duBytes).sum

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  /** Linear-interpolated quantile of sorted `xs`; NaN when empty. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) Double.NaN
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }
}

/** Just enough JSON writing for the result files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
