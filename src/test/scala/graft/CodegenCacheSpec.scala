package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A query that runs again compiles nothing: [[GraftSession]] sizes
  * Spark's generated-code cache to the query surface and leaves the
  * codegen stage id out of generated class names, so every repeated
  * plan is served the class compiled the first time. Spark's default
  * cache of 100 classes is smaller than either set below, and its LRU
  * evicts each class of a cyclic workload just before it is needed
  * again. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

  private def compiles: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled while every query runs once through the noop sink. */
  private def pass(names: Seq[String]): Long = {
    val c0 = compiles
    names.foreach { n =>
      SparkEntry.queries(n)(s, TestSpark.SfDir)
        .write.format("noop").mode("overwrite").save()
    }
    compiles - c0
  }

  test("the course queries and d2 compile nothing on their second pass") {
    val names = Seq("q1_multi_agg", "q10_star_join", "q13_wordcount",
      "q15_json_extract", "q17_time_range_filter", "q19_pivot_agg",
      "st3_sessionize", "d2_dedup_minhash")
    val first = pass(names)
    val second = pass(names)
    assert(second == 0,
      s"second pass compiled $second classes (first pass: $first)")
  }

  test("queries whose codegen stage ids moved from call to call compile " +
      "nothing once their artifacts are built") {
    // AQE numbers codegen stages in the order it plans them, which varies
    // between calls of these queries; with the id in the class name each
    // renumbering was a new class. The first pass builds the per-corpus
    // artifacts (t17's model, c25 through it), whose building call plans
    // differently from every later call. q46 and c30 are left out: AQE
    // picks their join shapes by which stage finishes first, so a shape
    // can first appear on any call.
    val names = Seq("c22_quantile_filter", "c25_curriculum",
      "q51_assoc_rules", "st11_stream_admission", "t16_keywords",
      "t17_ccnet_ppl")
    pass(names)
    val second = pass(names)
    val third = pass(names)
    assert(third == 0,
      s"third pass compiled $third classes (second pass: $second)")
  }
}
