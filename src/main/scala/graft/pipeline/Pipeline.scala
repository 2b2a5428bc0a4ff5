package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch-pipeline orchestration with the reference's Luigi/Airflow task
  * semantics (luigi/taxi_data_import.py, luigi/wordcount_map_reduce.py,
  * airflow/dags/twitter_airflow.py), re-expressed Spark-first:
  *
  *  - a task = a DataFrame transform + a parquet output target;
  *  - `requires` declares upstream tasks (Luigi `requires()`);
  *  - a task is complete iff its commit marker exists (Luigi
  *    `Target.exists()`), so re-running a pipeline only builds what's
  *    missing — idempotent re-runs, the property the reference gets from
  *    Luigi and emulates in airflow's csv_to_sqlite dedup;
  *  - transient failures retry with backoff (Celery `self.retry(exc)`,
  *    celery_app/tasks.py:78-81; Luigi's scheduler retries), and a
  *    permanently-failed task skips only its downstream dependents —
  *    independent branches still build;
  *  - all filesystem access goes through the Hadoop `FileSystem`
  *    resolved from the session's hadoopConfiguration, so targets can
  *    live on HDFS/S3/local alike. Publication is the marker-file
  *    commit of [[graft.Artifacts.staged]]: a crash mid-write leaves
  *    data files but no marker; the re-run sees "incomplete" and
  *    overwrites.
  *
  * Unlike Luigi's worker pool, execution here is just topological order
  * on the driver — the parallelism that matters lives INSIDE each task's
  * Spark job (cluster-wide), not in running Python tasks side by side.
  */
abstract class Task {
  def name: String
  def requires: Seq[Task] = Seq.empty
  /** Target path (a parquet directory). */
  def output: String
  /** The transform. Upstream outputs are read back from their targets so
    * each task is independently re-runnable and the DAG can resume. */
  def build(spark: SparkSession): DataFrame

  /** Transient-failure budget: total attempts = retries + 1. */
  def retries: Int = 0
  /** Backoff before attempt k+1, multiplied by k (linear backoff). */
  def retryBackoffMs: Long = 100

  final def markerPath: Path = new Path(output, graft.Artifacts.Marker)

  final def complete(spark: SparkSession): Boolean =
    graft.Artifacts.committed(spark, output)

  /** Read this task's materialized output (for downstream tasks). */
  final def read(spark: SparkSession): DataFrame =
    graft.Tables.parquet(spark, output)

  /** Stage this task's output into `scratch`; returns rows written.
    * The default materializes [[build]] as parquet; [[TextReportTask]]
    * overrides it to write a rendered text body through the same
    * publish protocol. */
  protected def writeStaged(spark: SparkSession, scratch: Path): Long = {
    // rows-written metric via an Observation: computed inside the write
    // job itself (Celery/Flower-style per-task stats with NO extra scan
    // — a count-back re-read would double the task's IO at 100 TB)
    val obs = org.apache.spark.sql.Observation()
    build(spark)
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
      .write.mode("overwrite").parquet(scratch.toString)
    obs.get("rows").asInstanceOf[Long]
  }

  /** One attempt: stage this task's output through
    * [[graft.Artifacts.staged]], the protocol every persisted artifact
    * shares (scratch write, rename, create-no-overwrite marker). A
    * marker-less target is crash debris the attempt replaces; a target
    * another run committed first is kept. Returns rows written (0 when
    * the target was already committed). */
  final def run(spark: SparkSession): Long = {
    var rows = 0L
    graft.Artifacts.staged(spark, output)(p =>
      rows = writeStaged(spark, new Path(p)))
    rows
  }
}

/** Report-DISTRIBUTION task: renders upstream results into a
  * deterministic TEXT body — the "email body" of the reference's report
  * DAG (airflow/dags/twitter_airflow.py:137-170 renders the
  * popular-links report with gen_tweet_report and ships it through an
  * EmailOperator). The delivery hop itself (SMTP/Slack/pager) is
  * deployment configuration, not a query capability; everything the
  * engine owns — rendering, byte determinism, atomic idempotent
  * publication next to the data — goes through the SAME
  * stage → rename → marker-commit protocol as data targets, so a
  * crashed render republishes and a re-run is a no-op. The body lands
  * as `[[TextReportTask.BodyFile]]` inside the target directory. */
abstract class TextReportTask extends Task {
  /** Render the full report body. Must be deterministic: same upstream
    * bytes ⇒ same body bytes (no timestamps/hostnames), so the
    * create-no-overwrite race resolution of the publish protocol — and
    * idempotent backfills — stay sound for reports too. */
  def render(spark: SparkSession): String

  /** The body as one `line` column (reports are leaf tasks and the text
    * file is the artifact; this exists so a downstream task COULD
    * consume the lines through the normal target contract). Unused by
    * [[writeStaged]], which publishes the raw text. */
  final def build(spark: SparkSession): DataFrame = {
    import spark.implicits._
    render(spark).split("\n", -1).toIndexedSeq.toDF("line")
  }

  final override protected def writeStaged(
      spark: SparkSession, scratch: Path): Long = {
    val body = render(spark)
    val fs = scratch.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(scratch, TextReportTask.BodyFile), true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    body.split("\n", -1).length.toLong
  }
}

object TextReportTask {
  /** Rendered-body filename inside the target directory. */
  val BodyFile = "report.txt"

  /** Read a published report body back (spec/consumer side). */
  def readBody(spark: SparkSession, output: String): String = {
    val p = new Path(output, BodyFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](8192)
      var n = in.read(chunk)
      while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
      new String(buf.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    } finally in.close()
  }
}

/** Per-task execution stats (the Celery-events/Flower and Luigi-UI
  * numbers an operator asks of a large backfill — Chapter 3 Monitoring
  * notebook): total wall time across all attempts, attempts used, and
  * rows written to the target. Failed tasks report rowsWritten = 0. */
final case class TaskMetrics(wallMs: Long, attempts: Int, rowsWritten: Long)

/** Outcome of a [[Pipeline.runReport]] pass. `failed` maps task name →
  * the final attempt's exception; `skipped` lists tasks not attempted
  * because an upstream dependency failed; `metrics` has one entry per
  * ATTEMPTED task (ran or failed — skipped/already-complete tasks never
  * execute, so they have no stats). */
final case class PipelineReport(ran: Seq[String],
    failed: Map[String, Throwable], skipped: Seq[String],
    metrics: Map[String, TaskMetrics] = Map.empty) {
  def ok: Boolean = failed.isEmpty && skipped.isEmpty
}

object Pipeline {
  /** Run every incomplete task reachable from `targets`, upstream-first.
    * Returns the names of the tasks that actually ran (complete tasks
    * are skipped — Luigi's "only build what's missing"). Any failure
    * propagates as an exception (wrapping the first failing task's
    * error) — callers that want partial-success isolation use
    * [[runReport]], which never throws. */
  def run(spark: SparkSession, targets: Seq[Task]): Seq[String] = {
    val report = runReport(spark, targets)
    report.failed.headOption.foreach { case (name, e) =>
      throw new RuntimeException(
        s"pipeline task '$name' failed (skipped dependents: " +
          s"${report.skipped.mkString(", ")})", e)
    }
    report.ran
  }

  /** [[run]] with failure isolation: a task failing all its attempts
    * marks its downstream dependents skipped, but independent branches
    * still build (Luigi keeps scheduling unaffected subtrees; one flaky
    * leaf must not abort a 1000-task DAG). */
  def runReport(spark: SparkSession, targets: Seq[Task]): PipelineReport = {
    val order = topoSort(targets)
    val ran = scala.collection.mutable.ListBuffer.empty[String]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    val dead = scala.collection.mutable.Set.empty[String] // failed ∪ skipped
    val skipped = scala.collection.mutable.ListBuffer.empty[String]
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, TaskMetrics]
    order.foreach { t =>
      // completeness FIRST: a task already materialized in a prior run
      // is usable regardless of its upstream's fate this run, so it must
      // not go dead and poison ITS dependents (Luigi reads targets, not
      // this run's task states)
      if (t.complete(spark)) ()
      else if (t.requires.exists(r => dead.contains(r.name))) {
        dead += t.name
        skipped += t.name
      } else {
        val (err, m) = runWithRetries(spark, t)
        metrics += t.name -> m
        err match {
          case None => ran += t.name
          case Some(e) =>
            failed += t.name -> e
            dead += t.name
        }
      }
    }
    PipelineReport(ran.toList, failed.toMap, skipped.toList, metrics.toMap)
  }

  /** (None, stats) = succeeded (possibly after retries);
    * (Some(e), stats) = exhausted. Stats cover ALL attempts. */
  private def runWithRetries(spark: SparkSession,
      t: Task): (Option[Throwable], TaskMetrics) = {
    val t0 = System.nanoTime()
    def wallMs = (System.nanoTime() - t0) / 1000000
    var attempt = 0
    var last: Throwable = null
    while (attempt <= t.retries) {
      if (attempt > 0) Thread.sleep(t.retryBackoffMs * attempt)
      try {
        val rows = t.run(spark)
        return (None, TaskMetrics(wallMs, attempt + 1, rows))
      }
      catch { case e: Exception => last = e; attempt += 1 }
    }
    (Some(last), TaskMetrics(wallMs, attempt, 0L))
  }

  /** Upstream-first topological order over the task DAG; cycles are a
    * definition error and throw. */
  def topoSort(targets: Seq[Task]): Seq[Task] = {
    val out = scala.collection.mutable.ListBuffer.empty[Task]
    val done = scala.collection.mutable.Set.empty[String]
    val inProgress = scala.collection.mutable.Set.empty[String]
    def visit(t: Task): Unit = {
      if (done.contains(t.name)) return
      require(!inProgress.contains(t.name),
        s"pipeline cycle through task '${t.name}'")
      inProgress += t.name
      t.requires.foreach(visit)
      inProgress -= t.name
      done += t.name
      out += t
    }
    targets.foreach(visit)
    out.toList
  }
}

/** Schedule-interval semantics (airflow/dags/twitter_airflow.py:30-33:
  * `schedule_interval=timedelta(days=1)` with catch-up): a logical run
  * date parameterizes each task, targets are date-partitioned, and
  * backfilling a date range only builds the dates whose targets are
  * missing — re-running a past date is a no-op. */
abstract class DatedTask(val runDate: java.time.LocalDate) extends Task {
  /** Base target directory; the date partition is appended. */
  def baseOutput: String
  final def output: String = s"$baseOutput/dt=$runDate"
}

object Schedule {
  /** Daily schedule dates in [start, endExclusive) — the catch-up window
    * Airflow derives from start_date + schedule_interval. */
  def dailyDates(start: java.time.LocalDate,
                 endExclusive: java.time.LocalDate): Seq[java.time.LocalDate] =
    Iterator.iterate(start)(_.plusDays(1)).takeWhile(_.isBefore(endExclusive))
      .toSeq

  /** Backfill: run the DAG for every schedule date; complete dates
    * no-op. `mkTargets` builds the date's task graph (tasks close over
    * their run date, like Airflow templating the execution_date into
    * each operator). */
  def backfill(spark: SparkSession, dates: Seq[java.time.LocalDate],
               mkTargets: java.time.LocalDate => Seq[Task])
      : Map[java.time.LocalDate, PipelineReport] =
    dates.map(d => d -> Pipeline.runReport(spark, mkTargets(d))).toMap
}

/** Reusable sub-DAG factory (the reference packages retry-wrapped task
  * subgraphs as subdags, airflow/dags/subdags/twitter_subdag.py:17-30):
  * one subgraph DEFINITION instantiates any number of times in a parent
  * DAG, each instance namespaced — task names prefixed with
  * `<prefix>.`, targets rooted under `<outBase>/<prefix>/` — so two
  * instances never collide on names or outputs.
  *
  * Tasks built here read their upstream DataFrames through the task
  * graph (`fn` receives `deps`' materialized outputs), so an instance is
  * self-contained: unlike wrapping pre-built Task objects, nothing
  * closes over another namespace's targets. */
final class SubDag(val prefix: String, val outBase: String) {
  private val built =
    scala.collection.mutable.LinkedHashMap.empty[String, Task]

  /** Define a namespaced task (idempotent per `local` name). `deps` may
    * mix this sub-DAG's tasks and external upstream tasks; `fn` receives
    * their outputs read back from their targets, in `deps` order. */
  def task(local: String, deps: Seq[Task] = Seq.empty, taskRetries: Int = 0)
          (fn: (SparkSession, Seq[DataFrame]) => DataFrame): Task =
    built.getOrElseUpdate(local, new Task {
      val name = s"$prefix.$local"
      override val requires: Seq[Task] = deps
      val output = s"$outBase/$prefix/$local"
      override def retries: Int = taskRetries
      def build(spark: SparkSession): DataFrame =
        fn(spark, deps.map(_.read(spark)))
    })

  /** All tasks defined so far, in definition order. */
  def tasks: Seq[Task] = built.values.toList
}
