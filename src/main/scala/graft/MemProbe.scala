package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Dev-only BOUNDED-MEMORY honesty probe (r15 verdict ask #1): every
  * other number in the repo was measured on local[32] with a 48 GiB
  * heap that never spills — but the 100 TB design claims rest on the
  * shuffle/spill path, which a per-executor memory budget makes the
  * binding constraint in production. This runs the shuffle/checkpoint
  * heavy gate entries against the 10× corpus (target/sf1sim, the
  * ScaleBench replication) inside a CONSTRAINED JVM and records, per
  * query: wall seconds, memory/disk spill bytes, the max per-task
  * peakExecutionMemory, shuffle write volume, and the heaviest stage's
  * spill — completion under pressure is the assertion, the metrics are
  * the evidence (SURVEY §5 table).
  *
  * Usage (the constrained shape the probe exists for):
  * {{{
  * SPARK_DRIVER_MEM=8g SPARK_GRAFT_CPUS=8 \
  *   sbt "runMain graft.MemProbe"            # all heavy entries
  * SPARK_GRAFT_MEMPROBE_ONLY=d14_containment,... # csv subset
  * }}}
  * build.sbt turns SPARK_DRIVER_MEM into -Xmx (local mode: executor
  * heap = driver heap); with spark.memory.fraction 0.6 that leaves
  * ~4.4 GiB of unified execution+storage memory shared by 8 task
  * threads ≈ 550 MiB per concurrent task at the 10× corpus — the
  * shape that forces ExternalSorter/ExternalAppendOnlyMap onto their
  * spill paths if any operator's per-task working set outgrows its
  * share. The probe prints the REAL heap it got, so an artifact
  * produced without the env pinch is self-describingly invalid.
  */
object MemProbe {
  /** The gate entries whose plans carry the big shuffles, window
    * sorts, iterative checkpoints, or candidate fan-outs — the r15
    * verdict's list. */
  val Heavy: Seq[String] = Seq(
    "d14_containment", "c28_admit_shard", "c30_curation_v2",
    "q36_pagerank", "q49_bfs_hops", "s12_knn_graph", "c27_histograms",
    "c8_split_leakfree", "d8_dedup_clusters", "m4_media_dedup",
    // round 17: owns the persisted kNN-graph artifact — its COLD run
    // measures the graph staging (s12 build + three partitioned
    // writes), the largest one-time job of the similarity family
    "s15_graph_admit")

  private final class SpillListener extends SparkListener {
    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val peakTask = new AtomicLong
    val shufWrite = new AtomicLong
    /** stageId → (memSpill, diskSpill, sum of task peaks). */
    val stages = new java.util.concurrent.ConcurrentHashMap[
      Int, (Long, Long, Long)]()
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peakTask.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        stages.merge(te.stageId,
          (m.memoryBytesSpilled, m.diskBytesSpilled, m.peakExecutionMemory),
          (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // partition count decoupled from the thread count: the production
    // lever when a per-task aggregation outgrows its memory share is
    // MORE (smaller) partitions at the same parallelism — the §5
    // partition-sizing rule, demonstrable here via
    // SPARK_GRAFT_MEMPROBE_PARTS (default = threads, the worst case)
    val parts = sys.env.getOrElse("SPARK_GRAFT_MEMPROBE_PARTS", cpus)
    // protected-storage knob (diagnosis lever for checkpoint-block vs
    // execution contention — see the §5 memory-probe notes)
    val storageFrac = sys.env.get("SPARK_GRAFT_MEMPROBE_STORAGEFRAC")
    val pageSize = sys.env.get("SPARK_GRAFT_MEMPROBE_PAGESIZE")
    val b = GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = parts.toInt)
    storageFrac.foreach(f => b.config("spark.memory.storageFraction", f))
    pageSize.foreach(p => b.config("spark.buffer.pageSize", p))
    val spark: SparkSession = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = "target/sf1sim"
    if (!new java.io.File(s"$out/lineitem.parquet").exists())
      ScaleBench.generate(spark, sfDir, out)

    val heapGb = Runtime.getRuntime.maxMemory / 1e9

    // names must come from the Heavy list itself — a valid gate-query
    // name outside it would pass a registry check and then be silently
    // filtered to an EMPTY probe run (r16 review finding #4)
    val only = sys.env.get("SPARK_GRAFT_MEMPROBE_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    only.foreach { set =>
      val unknown = set -- Heavy.toSet
      require(unknown.isEmpty,
        s"not in MemProbe.Heavy: ${unknown.mkString(",")}")
    }
    val names = Heavy.filter(n => only.forall(_.contains(n)))

    // Artifact-warmth contract (r16 review finding #2): fingerprint-
    // keyed WRITE-ONCE artifacts (d11/d14 signature indexes, trained
    // centroids/codebooks, c28's shard tree, d9 benchmarks) are NOT
    // cleared per query — they are the offline-train/offline-stage
    // production shape, so admission/search entries here measure the
    // QUERY's memory, not one-time staging. Set
    // SPARK_GRAFT_MEMPROBE_COLD=1 to wipe them once at startup and
    // measure the staging jobs under pressure too.
    val wiped: Seq[String] =
      if (sys.env.get("SPARK_GRAFT_MEMPROBE_COLD").contains("1")) {
        // the trained-model dirs are RESOLVED from the same confs the
        // operators read (a relocated artifact dir would otherwise be
        // missed and the probe would silently measure warm staging —
        // r16 ADVICE); the staged-data dirs come from the store's one
        // list of staged kinds. The env JSON line below records what
        // was actually wiped, so a cold artifact is self-describing.
        val dirs = Seq(
          spark.conf.get("spark.graft.centroids.dir",
            "target/graft-centroids"),
          spark.conf.get("spark.graft.pq.dir", "target/graft-pq")) ++
          Artifacts.StagedKinds.map(Artifacts.stagedDir(_))
        dirs.flatMap { d =>
          val p = new org.apache.hadoop.fs.Path(d)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(p)) { fs.delete(p, true); Some(d) } else None
        }
      } else Seq.empty
    println(f"""{"probe":"memprobe_env","heapGB":$heapGb%.1f,"cores":$cpus,""" +
      f""""memoryFraction":"${spark.conf.get("spark.memory.fraction", "0.6")}",""" +
      s""""coldWiped":[${wiped.map("\"" + _ + "\"").mkString(",")}]}""")

    for (n <- names) {
      // every query pays its OWN subtree: the artifacts one entry
      // builds would otherwise let the next ride them for free (the
      // ScaleBench rep rule) — a memory probe that measures a cache
      // hit proves nothing
      Artifacts.clear()
      spark.catalog.clearCache(); System.gc()
      val l = new SpillListener
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      val ok =
        try {
          SparkEntry.queries(n)(spark, out)
            .write.format("noop").mode("overwrite").save()
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[memprobe] $n FAILED: ${e.getMessage}")
            false
        }
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events are posted async — drain before reading
      org.apache.spark.graftbridge.GraftScheduler
        .drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
      import scala.jdk.CollectionConverters._
      val worstStage = l.stages.asScala.toSeq
        .sortBy { case (_, (ms, ds, _)) => -(ms + ds) }.headOption
      val (wsId, wsSpill) = worstStage
        .map { case (id, (ms, ds, _)) => (id, (ms + ds) / 1e6) }
        .getOrElse((-1, 0.0))
      println(f"""{"probe":"memprobe","q":"$n","ok":$ok,"sec":$sec%.1f,""" +
        f""""spillMemMB":${l.memSpill.get / 1e6}%.0f,""" +
        f""""spillDiskMB":${l.diskSpill.get / 1e6}%.0f,""" +
        f""""peakTaskMemMB":${l.peakTask.get / 1e6}%.0f,""" +
        f""""shufWriteMB":${l.shufWrite.get / 1e6}%.0f,""" +
        f""""worstStage":$wsId,"worstStageSpillMB":$wsSpill%.0f}""")
    }
    spark.stop()
  }
}
