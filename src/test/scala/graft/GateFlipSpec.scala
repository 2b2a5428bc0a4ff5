package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.{FilterExec, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Both branches of the size gates that never engage at the test
  * scales: each query is built once with its default (below-floor)
  * branch and once with the floor forced, the rows must be equal, and
  * the executed plan must show that the forced branch really ran. */
class GateFlipSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  /** (rows, executed plan) of `q`, built and run with `conf` set to
    * `value` (`None`: the default) and unset afterwards. */
  private def run(q: String, conf: String, value: Option[String])
      : (Seq[Row], SparkPlan) = {
    value.foreach(s.conf.set(conf, _))
    try {
      val df = SparkEntry.queries(q)(s, dir)
      (df.collect().toSeq, df.queryExecution.executedPlan)
    } finally s.conf.unset(conf)
  }

  /** rankedHist's two-phase spelling: the bucket prefix sums join back
    * through a broadcast keyed on (group, value bucket). */
  private def twoPhaseJoins(plan: SparkPlan): Int =
    TestSpark.flattenPlan(plan).count {
      case j: BroadcastHashJoinExec =>
        j.leftKeys.flatMap(_.references.map(_.name)).toSet ==
          Set("l_returnflag", "hb")
      case _ => false
    }

  Seq("q33_quantiles", "q39_tail_quantiles", "q48_robust_outliers")
    .foreach { q =>
      test(s"$q: rankedHist's serial and two-phase branches are row-equal") {
        val conf = "spark.graft.quantile.twoPhaseMinBytes"
        val (serial, serialPlan) = run(q, conf, None)
        val (twoPhase, twoPhasePlan) = run(q, conf, Some("0"))
        assert(serial.nonEmpty)
        assert(twoPhase == serial,
          s"branches diverged:\n$serial\nvs\n$twoPhase")
        assert(twoPhaseJoins(serialPlan) == 0,
          "the default branch at this scale is the serial window")
        assert(twoPhaseJoins(twoPhasePlan) >= 1,
          s"forced two-phase plan has no (grp, hb) broadcast join:\n" +
            twoPhasePlan)
      }
    }

  test("q33's two-phase result stays readable after q39 builds its own") {
    val conf = "spark.graft.quantile.twoPhaseMinBytes"
    s.conf.set(conf, "0")
    try {
      val q33 = SparkEntry.queries("q33_quantiles")(s, dir)
      val first = q33.collect().toSeq
      SparkEntry.queries("q39_tail_quantiles")(s, dir).collect()
      Thread.sleep(500) // room for a wrongful asynchronous release
      assert(q33.select("*").collect().toSeq == first)
    } finally s.conf.unset(conf)
  }

  test("s12: the broadcast and shuffled-hash cell joins are row-equal") {
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    /** Shuffled hash joins keyed on the cell id alone. */
    def cellHashJoins(plan: SparkPlan): Int =
      TestSpark.flattenPlan(plan).count {
        case j: ShuffledHashJoinExec =>
          j.leftKeys.flatMap(_.references.map(_.name)).toSet == Set("cell")
        case _ => false
      }
    val default = SparkEntry.queries("s12_knn_graph")(s, dir)
    val rows = default.collect().toSeq
    val prev = s.conf.get(conf)
    s.conf.set(conf, "-1")
    val (hashRows, hashPlan) =
      try {
        val df = SparkEntry.queries("s12_knn_graph")(s, dir)
        (df.collect().toSeq, df.queryExecution.executedPlan)
      } finally s.conf.set(conf, prev)
    assert(rows.nonEmpty)
    assert(hashRows == rows, "the shuffled-hash cell join changed rows")
    assert(cellHashJoins(default.queryExecution.executedPlan) == 0,
      "the default branch at this scale is the broadcast cell join")
    assert(cellHashJoins(hashPlan) == 1,
      s"no shuffled hash join keyed on cell:\n$hashPlan")
  }

  test("q53: the lazy and cut candidate branches are row-equal") {
    val conf = "spark.graft.linkage.q53CutMinNames"
    /** Levenshtein verifies reading a checkpointed candidate frame. */
    def cutVerifies(plan: SparkPlan): Int = TestSpark.flattenPlan(plan).count {
      case f: FilterExec if f.condition.toString.contains("levenshtein") =>
        TestSpark.flattenPlan(f).exists(_.isInstanceOf[RDDScanExec])
      case _ => false
    }
    val (lazyRows, lazyPlan) = run("q53_er_clusters", conf, None)
    val (cutRows, cutPlan) = run("q53_er_clusters", conf, Some("0"))
    assert(lazyRows.nonEmpty)
    assert(cutRows == lazyRows,
      s"branches diverged:\n$lazyRows\nvs\n$cutRows")
    assert(cutVerifies(lazyPlan) == 0,
      "the default branch at this scale is the lazy candidate plan")
    assert(cutVerifies(cutPlan) == 1,
      "forced cut plan has no checkpoint scan under the levenshtein " +
        s"filter:\n$cutPlan")
  }
}
