package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graftbridge.GraftScheduler
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.GraftBroadcasts
import org.scalatest.funsuite.AnyFunSuite

/** [[SmallSortInOneTask]] and [[ReleaseBroadcasts]], both installed by
  * [[GraftSession.builder]]. A global sort over a small aggregate runs in
  * one task, without the range-sampling job and the range shuffle; a
  * sort whose input AQE has not measured as small keeps its range
  * exchange. A finished query's broadcast relations leave the driver's
  * block manager. */
class SmallSortSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private val course = Seq("q1_multi_agg", "q10_star_join", "q13_wordcount",
    "q15_json_extract", "q17_time_range_filter", "q19_pivot_agg",
    "st3_sessionize")

  private def finalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  private def rangeExchanges(df: DataFrame): Int =
    finalPlan(df).linesIterator.count(_.contains("Exchange rangepartitioning"))

  /** Rows of `df` and the Spark jobs its collect started. */
  private def collectCountingJobs(df: DataFrame): (Seq[String], Long) = {
    val sc = df.sparkSession.sparkContext
    val jobs = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    GraftScheduler.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val rows = df.collect().map(_.toString).toSeq
      GraftScheduler.drainListenerBus(sc)
      (rows, jobs.get)
    } finally sc.removeSparkListener(l)
  }

  private def query(session: SparkSession, name: String): DataFrame =
    SparkEntry.queries(name)(session, TestSpark.SfDir)

  test("each course query's final sort runs without a range exchange") {
    course.foreach { n =>
      val df = query(s, n)
      df.collect()
      assert(rangeExchanges(df) == 0, s"$n:\n${finalPlan(df)}")
      assert(finalPlan(df).contains("Coalesce 1"), s"$n:\n${finalPlan(df)}")
    }
  }

  test("above the one-partition size the range exchange stays, with the " +
      "same rows and two more jobs") {
    // Spark's own setting: AQE coalesces into one partition only what is
    // at most this size, so at 1 byte no course aggregate qualifies
    val big = s.newSession()
    big.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1")
    course.foreach { n =>
      // warm both sessions: artifacts, schemas and codegen are built on
      // the first call and must not count towards either side
      query(s, n).collect(); query(big, n).collect()
      val one = query(s, n)
      val (rows, jobs) = collectCountingJobs(one)
      val ranged = query(big, n)
      val (rowsRanged, jobsRanged) = collectCountingJobs(ranged)
      assert(rangeExchanges(one) == 0, s"$n:\n${finalPlan(one)}")
      assert(rangeExchanges(ranged) == 1, s"$n:\n${finalPlan(ranged)}")
      assert(rowsRanged == rows, n)
      assert(jobsRanged == jobs + 2,
        s"$n: $jobsRanged jobs with the range exchange, $jobs without")
    }
  }

  test("a sort over a Generate or a user range repartition keeps its " +
      "range exchange") {
    // d2 sorts the union of its exploded candidate pairs: a Generate or a
    // Union can add rows, so the size of the shuffles under it says
    // nothing about the sort's input
    val d2 = query(s, "d2_dedup_minhash")
    d2.collect()
    assert(rangeExchanges(d2) >= 1, finalPlan(d2))
    import org.apache.spark.sql.functions.{explode, sequence, lit}
    val exploded = s.range(100).groupBy((col("id") % 10).as("k")).count()
      .select(col("k"), explode(sequence(lit(1), col("count"))).as("i"))
      .orderBy("k", "i")
    assert(exploded.count() == 100)
    exploded.collect()
    assert(rangeExchanges(exploded) == 1, finalPlan(exploded))

    val byRange = query(s, "q1_multi_agg").repartitionByRange(2, col(
      query(s, "q1_multi_agg").columns.head))
    byRange.collect()
    assert(rangeExchanges(byRange) == 1, finalPlan(byRange))
  }

  test("a finished query's broadcast relations leave the driver's block " +
      "manager, and the Dataset runs again") {
    val df = query(s, "q10_star_join")
    val first = df.collect().map(_.toString).toSeq
    GraftScheduler.drainListenerBus(s.sparkContext)
    val plan = df.queryExecution.executedPlan
    assert(GraftBroadcasts.broadcastIds(plan).nonEmpty, finalPlan(df))
    assert(GraftBroadcasts.heldDriverValues(plan).isEmpty)
    System.gc()
    assert(df.collect().map(_.toString).toSeq == first)

    // control: in a session without query listeners the values stay
    val bare = s.newSession()
    bare.listenerManager.clear()
    val kept = query(bare, "q10_star_join")
    kept.collect()
    GraftScheduler.drainListenerBus(s.sparkContext)
    val keptPlan = kept.queryExecution.executedPlan
    assert(GraftBroadcasts.heldDriverValues(keptPlan).nonEmpty)
    GraftBroadcasts.releaseDriverValues(keptPlan)
    assert(GraftBroadcasts.heldDriverValues(keptPlan).isEmpty)
  }
}
