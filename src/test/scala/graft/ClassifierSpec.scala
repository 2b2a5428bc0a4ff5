package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Classifier

class ClassifierSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  test("t15 learns: accuracy beats the majority-class baseline, so the " +
      "hashed buckets carry the stopword signal the model never sees") {
    val rows = Classifier.t15ClfScores(s, dir).collect()
    val n = rows.length
    assert(n > 0)
    val pos = rows.count(_.getAs[Int]("y") == 1)
    val majority = math.max(pos, n - pos).toDouble / n
    val acc = rows.count(r =>
      r.getAs[Int]("pred") == r.getAs[Int]("y")).toDouble / n
    assert(majority < 0.6,
      s"weak label degenerated (majority $majority) — threshold drifted")
    assert(acc > 0.8 && acc > majority + 0.2,
      s"classifier failed to learn: acc $acc vs majority $majority")
  }

  test("t15 kernel scoring (ClfScore) is bit-identical to the " +
      "interpreted HOF walk AND the broadcast-join spelling corpus-wide " +
      "(the t11 kernel-vs-fallback pin)") {
    def tup(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("y"),
        r.getAs[Long]("score_micro"), r.getAs[Int]("pred"))).toSeq
    val kernel = tup(Classifier.t15ClfScores(s, dir))
    val hof = tup(Classifier.t15ScoresHofSpelling(s, dir))
    val join = tup(Classifier.t15ScoresJoinSpelling(s, dir))
    assert(kernel == hof)
    assert(kernel == join)
  }

  test("t15 model is a fingerprint-keyed once-per-corpus artifact, " +
      "bounded by the bucket count") {
    Artifacts.clear("classifier.model")
    val before = Artifacts.builds("classifier.model").get()
    Classifier.t15ClfScores(s, dir).collect()
    Classifier.t15ClfScores(s, dir).collect()
    assert(Artifacts.builds("classifier.model").get() == before + 1,
      "second scoring call must reuse the cached model")
    val m = Classifier.modelFor(s, dir)
    assert(m.weights.size <= Classifier.ClfBuckets)
    assert(m.weights.keys.forall(f => f >= 0 && f < Classifier.ClfBuckets))
    // the trained artifact is self-consistent: weight sign follows the
    // class-conditional rate comparison its counts encode
    val tp = m.train.map(_._2).sum + Classifier.ClfBuckets
    val tn = m.train.map(_._3).sum + Classifier.ClfBuckets
    m.train.foreach { case (f, cp, cn, w) =>
      val llr = math.log((cp + 1.0) / tp) - math.log((cn + 1.0) / tn)
      val expected = BigDecimal(llr * Classifier.ClfScale)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      assert(expected == w,
        s"bucket $f weight $w disagrees with its own counts")
    }
  }

  test("t15 docs with zero tokens score exactly the prior (the empty-" +
      "doc guard both engines share)") {
    import org.apache.spark.sql.functions._
    val m = Classifier.modelFor(s, dir)
    val empty = Tables.documents(s, dir)
      .withColumn("norm", lower(trim(regexp_replace(col("text"),
        "\\s+", " "))))
      .filter(expr("size(filter(split(norm, ' '), t -> t <> '')) = 0"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    if (empty.nonEmpty) {
      val scored = Classifier.t15ClfScores(s, dir).collect()
        .filter(r => empty(r.getAs[Long]("doc_id")))
      scored.foreach(r =>
        assert(r.getAs[Long]("score_micro") == m.priorMicro))
    }
  }
}
