package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line with per-query wall seconds.
  *
  * Each query is fully materialized through the `noop` sink (forces every
  * operator, unlike count() which lets Catalyst prune work). One global
  * untimed q1 run absorbs JVM/session startup; each query additionally
  * warms up once untimed inside sample() — that per-query warmup is what
  * governs steady-state numbers.
  *
  * Protocol (round-4 rework — the min-of-two numbers of earlier rounds
  * moved ±40% with machine load, making real regressions invisible):
  *  - every query is timed SPARK_GRAFT_BENCH_RUNS times (default 5,
  *    cache-cleared + GC'd between runs) and reports the MEDIAN;
  *  - per-query relative spread (max−min)/median lands in "spread", and
  *    "noise" is the median spread over all queries — the round's own
  *    noise bound, so a cross-round delta smaller than it is load, not
  *    regression;
  *  - three PINNED micro-benchmarks (pure spark.range pipelines that
  *    never touch graft code and never change between rounds) run under
  *    the same protocol into "pinned": cross-round machine-speed drift
  *    shows up there and can be divided out before attributing any
  *    per-query delta to a code change.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val spark: SparkSession = GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    /** Untimed inter-run cleanup: drop cached relations and collect the
      * previous run's broadcast/codegen garbage so one run's GC debt
      * doesn't land in the next run's wall time. */
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      System.gc()
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      try body
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] failed: ${e.getMessage}")
          return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    /** Classes Spark has compiled for generated code in this JVM (misses
      * of its generated-code cache, see [[GraftSession]]). */
    def codegenCompiles(): Long =
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
        .getCount

    /** Spark jobs started in each phase of a query: the jobs submitted
      * while [[inPhase]] has set the [[PhaseKey]] local property, "build"
      * around the query call (schema inference, size probes and eager
      * checkpoints inside the operator) and "exec" around its noop write
      * (the query's own stages, range sampling included). */
    val PhaseKey = "graft.bench.phase"
    val phaseJobs = Map("build" -> new java.util.concurrent.atomic.AtomicLong,
      "exec" -> new java.util.concurrent.atomic.AtomicLong)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
          .flatMap(phaseJobs.get).foreach(_.incrementAndGet())
    })
    def inPhase[T](phase: String)(body: => T): T = {
      spark.sparkContext.setLocalProperty(PhaseKey, phase)
      try body finally spark.sparkContext.setLocalProperty(PhaseKey, null)
    }
    def drainedJobs(phase: String): Long = {
      org.apache.spark.graftbridge.GraftScheduler
        .drainListenerBus(spark.sparkContext)
      phaseJobs(phase).get
    }

    /** One query's (or pin's) timed runs: median wall seconds (-1 when a
      * run failed), relative spread, and the codegen compiles, build jobs
      * and exec jobs summed over the timed runs. */
    case class Sample(median: Double, spread: Double, compiles: Long,
                      buildJobs: Long, execJobs: Long)

    /** [[Sample]] of `runs` timed executions after ONE untimed per-query
      * warmup (codegen compilation, file listing, and pay-once artifacts
      * like q23's bucketed rewrite otherwise land in the first run and
      * dominate the spread, drowning the steady-state noise the spread
      * exists to measure). A single failed run poisons the sample — a
      * transient failure must not hide behind the surviving runs'
      * timing. */
    def sample(body: => Unit): Sample = {
      // a failed WARMUP also poisons the sample: silently swallowing it
      // would both hide the failure and leak the pay-once costs the
      // warmup absorbs into timed run 1's spread
      val warm = { cleanup(); timed(body) }
      val c0 = codegenCompiles()
      val b0 = drainedJobs("build")
      val e0 = drainedJobs("exec")
      val xs = Seq.fill(runs) { cleanup(); timed(body) }
      val compiles = codegenCompiles() - c0
      val buildJobs = drainedJobs("build") - b0
      val execJobs = drainedJobs("exec") - e0
      if (warm < 0 || xs.exists(_ < 0))
        Sample(-1.0, -1.0, compiles, buildJobs, execJobs)
      else {
        val s = xs.sorted
        val n = s.length
        // conventional median: mean of the two middle elements for even n
        // (upper-middle alone biases high and skews cross-round deltas
        // when rounds were run with different run counts)
        val med = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
        Sample(med, if (med > 0) (s.last - s.head) / med else 0.0,
          compiles, buildJobs, execJobs)
      }
    }

    def noopWrite(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // pinned machine-load references: deterministic, corpus- and
    // graft-independent — one shuffle-bound, one sort-bound, one
    // CPU-bound. NEVER change these between rounds.
    val pinned: Seq[(String, () => Unit)] = Seq(
      "pin_shuffle_agg" -> (() => noopWrite(
        spark.range(50000000L).selectExpr("id % 1000 AS k")
          .groupBy("k").count())),
      "pin_sort" -> (() => noopWrite(
        spark.range(20000000L)
          .selectExpr("(id * 2654435761) % 100000000 AS k").orderBy("k"))),
      "pin_hash_cpu" -> (() => noopWrite(
        spark.range(8000000L).selectExpr("md5(CAST(id AS STRING)) AS h")
          .selectExpr("max(h)"))),
    )

    timed(noopWrite(SparkEntry.queries("q1_multi_agg")(spark, sfDir))) // warmup

    // Cold-path bound for the memoized subtrees: the per-query warmups
    // inside sample() mean the d6/d8/c1/c2/c4 medians are CACHE-HIT
    // numbers — without this, the sweep total silently excludes the
    // most expensive subtree in the engine (the d2→d4Confirm screen/
    // confirm chain + star contraction). Clear the registry and
    // time the first builds explicitly; the spec counters prove each
    // ran exactly once, so memo_build_sec + total bounds a cold sweep.
    Artifacts.clear()
    val cb0 = operators.Dedup.confirmedBuildCount.get()
    val kb0 = operators.Dedup.clusterBuildCount.get()
    val memoBuildSec = timed {
      operators.Dedup.confirmedPairs(spark, sfDir)
      operators.Dedup.clusterMembership(spark, sfDir)
      ()
    }
    val memoBuiltOnce =
      operators.Dedup.confirmedBuildCount.get() == cb0 + 1 &&
        operators.Dedup.clusterBuildCount.get() == kb0 + 1
    if (!memoBuiltOnce)
      System.err.println("[bench] memoized subtrees did not build exactly " +
        "once — memo_build_sec does not bound the cold path this run")

    // dev-only subset selector (csv of query names): lets a bisect time
    // one query under the EXACT bench protocol (same JVM flags, warmup,
    // runs, cleanup) without paying for the whole sweep. Unset = all.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // fail fast on unknown names (same guard as ScaleBench): a typo
    // would silently shrink the sweep and the output would look clean
    only.foreach { set =>
      val unknown = set -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names unknown queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = names.map { n =>
      n -> sample {
        val df = inPhase("build")(SparkEntry.queries(n)(spark, sfDir))
        inPhase("exec")(noopWrite(df))
      }
    }
    val pinnedResults = pinned.map { case (n, f) => n -> sample(f()) }

    // machine-speed context, stamped INTO the artifact (a fast-machine
    // total read without it misleads cross-round diffs): median ratio
    // of this run's pins to the reference pins (SURVEY §6). < 1 =
    // this machine ran faster than the reference rounds. References
    // are PER CORE COUNT: pins parallelize, so an 8-core run's pins
    // sit 2-3.4x above the 32-core numbers on an IDLE box, and
    // comparing them against 32-core references false-flagged the
    // driver's own 8-core scaling run as loaded (r17 verdict #4) —
    // poisoning the one axis that run exists to measure. 32-core refs
    // are the r4 originals (unchanged); 8-core refs are the driver's
    // r17 8-core run (BENCH_r17_c8.json — quiet per the r17 verdict's
    // adjudication, its 2.26 "pin_ratio" being exactly this artifact).
    // 4-core refs are the medians of three quiet pins-only runs on a
    // 4-core local[4] box (SPARK_GRAFT_BENCH_ONLY=q1_multi_agg, sf0.001).
    val referencePinsByCpus = Map(
      32 -> Map(
        "pin_shuffle_agg" -> 0.425, "pin_sort" -> 1.341,
        "pin_hash_cpu" -> 0.349),
      8 -> Map(
        "pin_shuffle_agg" -> 0.276, "pin_sort" -> 3.032,
        "pin_hash_cpu" -> 1.183),
      4 -> Map(
        "pin_shuffle_agg" -> 0.569, "pin_sort" -> 6.657,
        "pin_hash_cpu" -> 1.726))
    val pinRefKnown = referencePinsByCpus.contains(cpus.toInt)
    val referencePins = referencePinsByCpus.getOrElse(
      cpus.toInt, referencePinsByCpus(32))
    if (!pinRefKnown)
      System.err.println(s"[bench] no reference pins at $cpus cores — " +
        "pin_ratio is vs the 32-core references and the loaded-run " +
        "guard is skipped (direction-only evidence)")
    // guarded lookup: a pin added/renamed without a reference entry must
    // degrade to "not in the ratio" — not throw after the whole sweep ran
    val pinRatios = pinnedResults.flatMap { case (n, r) =>
      referencePins.get(n).filter(_ => r.median > 0).map(r.median / _)
    }.sorted
    val pinRatio =
      if (pinRatios.isEmpty) -1.0 else pinRatios(pinRatios.length / 2)

    // loaded-run guard (SURVEY §6 protocol): pinned drift bounds
    // DIRECTION, not magnitude — a total measured on a loaded machine is
    // an upper bound, never a regression signal. Stamp that verdict INTO
    // the artifact so a cross-round diff of raw BENCH jsons cannot
    // misread a 2.7x-loaded total (round 9's driver run) as a slowdown.
    val LoadedPinRatio = 1.5
    val loaded = pinRefKnown && pinRatio > LoadedPinRatio
    if (loaded)
      System.err.println(f"[bench] WARNING: pin_ratio $pinRatio%.2f > " +
        f"$LoadedPinRatio — machine is loaded; totals are an UPPER BOUND, " +
        "not comparable against quiet-run references")

    def fmtMap(xs: Seq[(String, Double)]): String = xs
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    def fmtCounts(f: Sample => Long): String = results
      .map { case (k, r) => "\"" + k + "\":" + f(r) }
      .mkString("{", ",", "}")
    // pinned failures count too: a -1.0 pinned median would silently
    // poison the cross-round drift correction it exists to provide
    val failed = (results ++ pinnedResults)
      .collect { case (n, r) if r.median < 0 => n }
    val fs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2.median).filter(_ >= 0).sum
    val spreads = results.map(_._2.spread).filter(_ >= 0).sorted
    // same even-n median convention as the per-query medians (upper-middle
    // alone biases the headline noise scalar high)
    val noise =
      if (spreads.isEmpty) 0.0
      else if (spreads.length % 2 == 1) spreads(spreads.length / 2)
      else (spreads(spreads.length / 2 - 1) + spreads(spreads.length / 2)) / 2.0
    // The harvester keeps only the LAST ~2000 chars of output and parses
    // the JSON line out of that tail; round 4's line (per-query spread +
    // pinned_spread maps) grew past the window and was truncated mid-line
    // → no parsed bench that round. Keep the stdout line compact (queries
    // + pinned medians + scalar noise) and put the full per-query spread
    // detail in a repo-local file instead.
    val detail =
      f"""{"metric":"total_wall","value":$total%.3f,"unit":"sec","runs":$runs,""" +
        s""""queries":${fmtMap(results.map(r => r._1 -> r._2.median))},""" +
        s""""spread":${fmtMap(results.map(r => r._1 -> r._2.spread))},""" +
        // classes compiled in each query's timed runs: 0 once every
        // class the query generates stays in Spark's codegen cache
        s""""codegen_compiles":${fmtCounts(_.compiles)},""" +
        // Spark jobs started while each query's frame was built, in its
        // timed runs: 0 for a query whose operators run no eager job
        s""""build_jobs":${fmtCounts(_.buildJobs)},""" +
        // Spark jobs started while each query executed, in its timed runs
        s""""exec_jobs":${fmtCounts(_.execJobs)},""" +
        s""""pinned":${fmtMap(pinnedResults.map(r => r._1 -> r._2.median))},""" +
        s""""pinned_spread":${fmtMap(pinnedResults.map(r => r._1 -> r._2.spread))},""" +
        f""""memo_build_sec":$memoBuildSec%.3f,"pin_ratio":$pinRatio%.3f,""" +
        s""""loaded":$loaded,""" +
        f""""noise":$noise%.3f,"failed":$fs,"sf":"$sfDir"}"""
    val detailPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_DETAIL", "target/bench-detail.json"))
    Option(detailPath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(
      detailPath, detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // ALSO write a core-count-stamped sibling: the driver benches the
    // same tree at two core counts, and each run OVERWRITING the one
    // default path blinded the driver's per-query and scaling
    // comparisons in r17 (PERF per_query empty — r17 verdict #3). The
    // stamped copies coexist, so bench-detail-c32/-c8 can be compared
    // after the fact; the stdout line points at the stamped path.
    val stampedPath = detailPath.resolveSibling(
      detailPath.getFileName.toString.replaceAll("\\.json$", "") +
        s"-c$cpus.json")
    java.nio.file.Files.write(
      stampedPath, detail.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // stdout gets a COMPACT line: the driver harvester keeps only the
    // last ~2000 chars of output and parses the JSON line from that
    // tail — at 145+ queries the full per-query map alone is ~4000
    // chars, so rounds 4 and 12 both harvested a truncated line
    // (parsed: null). Print the headline + the 10 slowest queries
    // (~1 KB total, fits the window with sbt's trailer); the FULL
    // per-query map lives in the detail file and in the committed
    // BENCH_local artifact (SURVEY §6).
    // committed DuckDB-oracle reference (tools/merge_bench.py writes
    // it from the round's bench_oracle run): riding the total in this
    // line makes the vs-baseline ratio a driver-artifact fact. The
    // source filename says WHICH round's oracle timing it is — the
    // oracle is re-timed when the surface changes, not per Bench run.
    val oracleRef: String =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("tools/oracle_ref.json")),
          java.nio.charset.StandardCharsets.UTF_8)
        val tot = """"oracle_total"\s*:\s*([0-9.]+)""".r
          .findFirstMatchIn(txt).map(_.group(1))
        val src = """"source"\s*:\s*"([^"]*)"""".r
          .findFirstMatchIn(txt).map(_.group(1))
        (tot, src) match {
          case (Some(t), Some(f)) =>
            s""""oracle_ref_total":$t,"oracle_ref_src":"$f","""
          case _ => ""
        }
      } catch { case _: Exception => "" }
    // the stdout "queries" map carries as many entries as fit, SLOWEST
    // first: the full 162-query map (~4.4 KB) cannot fit the driver
    // harvester's 2000-char tail window (rounds 4/12 lost the whole
    // line to exactly that), and r17's 10-entry cap left the driver's
    // per-query comparison empty (PERF n_common 0). Slowest-first fill
    // to a fixed char budget keeps every entry that meaningfully moves
    // the total inside the window whatever the query count; the FULL
    // map is in the detail file (and the committed BENCH_local
    // artifact). Reporting-only change — the timing protocol above is
    // untouched (declared in OPTIMIZATION_r18.md).
    val ranked = results.filter(_._2.median >= 0).sortBy(-_._2.median)
    def lineWith(qs: Seq[(String, Double)]): String =
      f"""{"metric":"total_wall","value":$total%.3f,"unit":"sec","runs":$runs,""" +
        s""""n_queries":${results.length},""" +
        s""""queries":${fmtMap(qs.map(r => r._1 -> r._2))},""" +
        s""""pinned":${fmtMap(pinnedResults.map(r => r._1 -> r._2.median))},""" +
        f""""memo_build_sec":$memoBuildSec%.3f,"pin_ratio":$pinRatio%.3f,""" +
        s""""loaded":$loaded,""" + oracleRef +
        f""""noise":$noise%.3f,"failed":$fs,""" +
        s""""queries_detail":"$stampedPath","sf":"$sfDir"}"""
    // 2000-char window minus sbt's "[success] Total time ..." trailer
    // (~80 chars) minus slack for a stray WARN line
    val LineBudget = 1800
    val keep = ranked.indices.reverse
      .find(i => lineWith(ranked.take(i + 1)
        .map(r => r._1 -> r._2.median)).length <= LineBudget)
      .map(_ + 1).getOrElse(ranked.length.min(10))
    println(lineWith(ranked.take(keep).map(r => r._1 -> r._2.median)))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
