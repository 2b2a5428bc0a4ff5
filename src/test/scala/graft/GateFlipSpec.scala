package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** Both branches of a plan choice that never flips at the test
  * scales: the query is built once with its default branch and once
  * with the choice forced, the rows must be equal, and the executed
  * plan must show that the forced branch really ran. */
class GateFlipSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

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
}
