package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.GraftBroadcasts
import org.apache.spark.sql.util.QueryExecutionListener

/** Central SparkSession factory with scale-oriented defaults.
  *
  * Settings are chosen for a large cluster and scale down cleanly to
  * local[n]: AQE handles runtime re-planning (coalescing small shuffle
  * partitions, skew-join splitting), broadcast threshold keeps dimension
  * joins shuffle-free, and shuffle.partitions is sized by the caller
  * (32 on the local harness, thousands on a real cluster).
  *
  * Generated code is compiled once per JVM. A plan that runs again
  * generates the same source, and Spark's generated-code cache hands
  * back the class compiled the first time, provided two things hold:
  *  - The cache holds the whole query surface: [[CodegenCacheEntries]]
  *    classes instead of Spark's 100. The cache is LRU and a pass
  *    reuses its classes in the same cyclic order, so a workload that
  *    needs more distinct classes than the cap has each one evicted
  *    just before it is needed again, and every repeated pass
  *    recompiles all of them with Janino, runs them interpreted and
  *    pays the JIT again. The seven course queries need 105 classes,
  *    d2 + t17 102 (both at sf0.001), and one pass over all 162 gate
  *    queries 2,356 at sf0.001 and 2,354 at sf0.01. With Spark's
  *    defaults for both settings, a steady-state pass of all 162 at
  *    sf0.001 (the third in one JVM) compiled 3,851 classes and took
  *    204.9 s; with these it compiles 0 and takes 151.4 s. Each cached
  *    class holds about 29 KB of heap, so the full surface costs about
  *    70 MB.
  *  - Class names leave out the codegen stage id
  *    (`spark.sql.codegen.useIdInClassName`). AQE numbers a query's
  *    codegen stages in the order it plans them, and that order moves
  *    between calls when independent stages finish in another order;
  *    with the id in the name, each renumbering was a new class (q51
  *    compiled 8 on its third identical call). Without it, the same
  *    pipeline in two stages or two queries also shares one class. The
  *    id stays in the generated comment, in explain output and in the
  *    plan.
  *
  * The status store behind the web UI keeps [[StatusHistory]] finished
  * SQL execution, job, stage and task per stage instead of
  * 1,000/1,000/1,000/100,000. With the UI off nothing reads that history
  * (graft's listeners are plain SparkListeners), yet it kept plan
  * strings and task records that grew the heap query by query; trimming
  * it pays back part of the cache's heap. A user who turns the UI on
  * should raise these four limits again.
  *
  * The builder installs [[functions.GraftExtensions]]: graft's native
  * functions and the AQE rule [[SmallSortInOneTask]]. A global sort
  * (`orderBy`) whose input AQE has measured as small runs in one task:
  * once the shuffle stages under it have materialized, the rule
  * replaces its range exchange with `CoalesceExec(1)`, so neither the
  * range-sampling job nor the range shuffle's map stage starts. It
  * fires only on an exchange that `EnsureRequirements` added, when
  * every leaf below it is a materialized shuffle stage, every operator
  * between them cannot add rows (project, filter, sort, aggregates,
  * window, limits; no generate, expand, union or join), and the stages'
  * summed map output is at most what AQE's own coalescing turns into one
  * partition (`coalescePartitions.minPartitionSize` under
  * `parallelismFirst`, else `advisoryPartitionSizeInBytes`). Each of the
  * seven course queries runs two jobs fewer.
  *
  * The builder also registers [[ReleaseBroadcasts]], which drops each
  * finished query's deserialized broadcast relations from the driver's
  * block manager under a local master (see
  * `org.apache.spark.sql.graftbridge.GraftBroadcasts`). Without it those
  * relations stay on the heap until a GC shows their plan gone and
  * `ContextCleaner` runs. The jobs the rule removes were the large
  * allocations that used to bring that GC on, so without the release a
  * full GC after a course pass still found q10's three hash relations
  * live.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries`: distinct generated classes
    * kept compiled per JVM (the whole 162-query surface fits). */
  val CodegenCacheEntries = 4096

  /** Finished SQL executions, jobs, stages and tasks per stage that
    * Spark's status store keeps (`spark.sql.ui.retainedExecutions`,
    * `spark.ui.retainedJobs`, `spark.ui.retainedStages`,
    * `spark.ui.retainedTasks`). */
  val StatusHistory = 1

  def builder(master: String = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      // Legacy-generation `events` corpora carry INT64(TIMESTAMP(NANOS))
      // which Spark refuses by default; read as long and convert in Tables
      // (a no-op for the current TIMESTAMP(MICROS) generation).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Permissive eval semantics (out-of-range element_at → null, etc.);
      // all graft operators guard their own arithmetic explicitly.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.sql.ui.retainedExecutions", StatusHistory.toString)
      .config("spark.ui.retainedJobs", StatusHistory.toString)
      .config("spark.ui.retainedStages", StatusHistory.toString)
      .config("spark.ui.retainedTasks", StatusHistory.toString)
      .withExtensions(new functions.GraftExtensions)
      .config("spark.sql.queryExecutionListeners",
        classOf[ReleaseBroadcasts].getName)
      // bucketed tables (Sources.writeBucketed) land here, not in cwd
      .config("spark.sql.warehouse.dir",
        sys.props("java.io.tmpdir") + "/graft-warehouse")

  def get(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Builder pre-sized for a real cluster instead of local[n].
    *
    * The two knobs that actually matter at 100 TB:
    *  - `spark.sql.shuffle.partitions` ≈ 2–3 tasks per core across the
    *    cluster, floored so the LARGEST shuffle stage's partitions fit
    *    in executor memory: partitions ≥ shuffledBytes / targetPartition
    *    (AQE coalesces the small stages back down, so oversizing is
    *    cheap and undersizing spills — size for the big stage);
    *  - `spark.sql.files.maxPartitionBytes` controls scan-task
    *    granularity; 256 MB halves task-scheduling overhead vs the
    *    128 MB default on long sequential parquet scans while staying
    *    comfortably in memory after column pruning.
    * Everything else (skew splitting, partition coalescing, broadcast
    * planning) is deliberately left to AQE at runtime. */
  def clusterBuilder(executors: Int, coresPerExecutor: Int,
                     largestShuffleGb: Long,
                     warehouseDir: String,
                     targetPartitionMb: Int = 128): SparkSession.Builder =
    builder(master = "yarn",
        shufflePartitions = clusterShufflePartitions(
          executors, coresPerExecutor, largestShuffleGb, targetPartitionMb))
      .config("spark.sql.files.maxPartitionBytes",
        (256L * 1024 * 1024).toString)
      // the local builder()'s java.io.tmpdir warehouse would scatter
      // bucketed tables across executor-private /tmp on a real cluster;
      // a cluster session must point at shared durable storage
      .config("spark.sql.warehouse.dir", warehouseDir)

  /** max(3 tasks per core, largest shuffle ÷ target partition size). */
  def clusterShufflePartitions(executors: Int, coresPerExecutor: Int,
                               largestShuffleGb: Long,
                               targetPartitionMb: Int = 128): Int = {
    val byCores = executors.toLong * coresPerExecutor * 3
    val byMemory = (largestShuffleGb * 1024L + targetPartitionMb - 1) /
      targetPartitionMb
    math.max(byCores, byMemory).toInt
  }
}

/** Query listener that drops a finished query's broadcast relations
  * from the driver's block manager (local master only; the serialized
  * pieces stay, so the same `Dataset` can run again). [[GraftSession]]
  * registers it through `spark.sql.queryExecutionListeners`. */
class ReleaseBroadcasts extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    GraftBroadcasts.releaseDriverValues(qe.executedPlan)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}
