package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One Spark job as the listener saw it. `group` is the job group the
  * benchmark set around the call that started it ("p<pass>/<query>/
  * <phase>"), or "" for a job started outside any tagged call. */
final case class JobRec(id: Int, group: String, startMs: Long, endMs: Long)

/** One completed stage attempt and the sums over its finished tasks. */
final case class StageRec(id: Int, attempt: Int, jobId: Int, startMs: Long,
                          endMs: Long, t: TaskSums)

/** Sums over tasks, in Spark's own units (ns for CPU, ms for times). */
final class TaskSums {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var peakMem = 0L
  var inBytes = 0L
  var inRows = 0L
  var outBytes = 0L
  var outRows = 0L

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    waitMs += o.waitMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; fetchWaitMs += o.fetchWaitMs
    spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
    inBytes += o.inBytes; inRows += o.inRows
    outBytes += o.outBytes; outRows += o.outRows
  }
}

/** The benchmark's own listener: records every job, stage and task of
  * the passes it is attached to. Callbacks arrive on the listener bus
  * thread; the driver reads through [[take]] after draining the bus. */
final class Tracer extends SparkListener {
  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val open = mutable.Map[Int, JobRec]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val running = mutable.Map[(Int, Int), TaskSums]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    open(e.jobId) = JobRec(e.jobId, g, e.time, -1L)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t = running.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new TaskSums)
    t.tasks += 1
    if (m != null) {
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.waitMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spill += m.diskBytesSpilled
      t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      t.inBytes += m.inputMetrics.bytesRead
      t.inRows += m.inputMetrics.recordsRead
      t.outBytes += m.outputMetrics.bytesWritten
      t.outRows += m.outputMetrics.recordsWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val t = running.remove((i.stageId, i.attemptNumber()))
        .getOrElse(new TaskSums)
      stages += StageRec(i.stageId, i.attemptNumber(),
        stageJob.getOrElse(i.stageId, -1),
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), t)
    }

  /** Everything finished since the last call, then forget it. */
  def take(): (Seq[JobRec], Seq[StageRec]) = synchronized {
    val r = (jobs.toList, stages.toList)
    jobs.clear(); stages.clear()
    r
  }
}

/** A timed interval in the span tree pass → query → build/plan/exec →
  * job → stage. Times are epoch milliseconds (the listener's clock). */
final case class Span(id: String, parent: String, kind: String,
                      name: String, startMs: Double, endMs: Double) {
  def dur: Double = math.max(0.0, endMs - startMs)
}

object Spans {
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, xs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var at = lo
    for ((a, b) <- xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
           .filter { case (a, b) => b > a }.sortBy(_._1)) {
      val s = math.max(a, at)
      if (b > s) { total += b - s; at = b }
    }
    total
  }

  /** Self time of every span: its duration minus the time its children
    * cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      s.id -> (s.dur - covered(s.startMs, s.endMs, c))
    }.toMap
  }
}
