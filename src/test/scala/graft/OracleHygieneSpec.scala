package graft

import org.scalatest.funsuite.AnyFunSuite

/** Mechanical conventions over the ORACLE SQL map itself — the
  * tools/check_plans.sh idea applied to oracle text, so a hygiene rule
  * fixed once (round 12's q37/q15-family NULLIF guards) cannot
  * silently regress in a future entry. Runs against the corpus-aware
  * dump ([[SparkEntry.oracleSqlFor]]) so generated oracles are
  * covered too. */
class OracleHygieneSpec extends AnyFunSuite {

  private lazy val oracles: Map[String, String] =
    SparkEntry.oracleSqlFor(TestSpark.spark, TestSpark.SfDir)

  test("no oracle casts a raw regexp_extract — wrap in NULLIF or use " +
    "TRY_CAST (DuckDB throws on '' -> INTEGER where Spark yields null)") {
    val rawCast = "(?i)(?<!TRY_)CAST\\s*\\(\\s*regexp_extract".r
    val bad = oracles.collect {
      case (name, sql) if rawCast.findFirstIn(sql).isDefined => name
    }
    assert(bad.isEmpty,
      s"oracles cast a raw regexp_extract: ${bad.toSeq.sorted.mkString(", ")}")
  }

  test("the static oracle map equals the corpus-aware dump of the " +
    "corpus used last") {
    val dumped = SparkEntry.oracleSqlFor(TestSpark.spark, TestSpark.SfDir)
    val static = SparkEntry.oracleSql
    val differ = (dumped.keySet ++ static.keySet)
      .filter(k => dumped.get(k) != static.get(k))
    assert(differ.isEmpty,
      s"oracleSql and oracleSqlFor differ on: ${differ.toSeq.sorted.mkString(", ")}")
  }

  test("every gate query has an oracle and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = oracles.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }
}
