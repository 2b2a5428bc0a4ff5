package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

import graft.Tables
import graft.functions.GraftFunctions
import graft.operators.Dedup

/** Per-row cost of the native kernels in `graft.functions`, each timed on
  * a column of the seeded corpus. The input column is cached first. For
  * every kernel two pipelines are timed: the kernel over the input
  * (`<kernel>`), and the same pipeline with the kernel left out
  * (`<kernel>_base`: what reading the cached input and the job itself
  * cost); both are reported, in wall nanoseconds per input row. Each
  * timing repeats its job until at least [[MinTimingNs]] have passed,
  * and the median of `reps` timings is reported. */
object Kernels {
  /** Rows each kernel sees: the corpus column repeated up to this. The
    * minhash kernels, at tens of microseconds a row, see the corpus's
    * documents once. */
  val TextRows = 50000
  val VecRows = 20000
  /** Shortest timing, so that no figure rests on one short job. */
  val MinTimingNs = 100e6

  def measure(spark: SparkSession, corpus: String,
              reps: Int = 3): Seq[(String, Double)] = {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, corpus).select("text")
    val text = repeat(docs, TextRows).cache()
    val shingles = docs
      .select(expr("word_shingles(split(text, ' '), 3)").as("sh"))
      .repartition(4).cache()
    val emb = Tables.embeddings(spark, corpus).select("embedding")
    val cents = emb.limit(graft.functions.IvfRankCellsKernel.K).collect()
      .flatMap(_.getSeq[Float](0))
    val centLit = cents.map(x => s"CAST($x AS FLOAT)").mkString("array(", ",", ")")
    val vecs = repeat(emb, VecRows).cache()
    val md5Chain =
      "CAST(conv(substring(md5(CAST(text AS STRING)), 1, 8), 16, 10) AS BIGINT)"
    // (kernel, input, kernel expression, the same pipeline without it)
    val cases: Seq[(String, DataFrame, String, String)] = Seq(
      ("minhash_sig", shingles, s"minhash_sig(sh, ${Dedup.NumHashes})", "sh"),
      // the fused kernel d2_dedup_minhash runs
      ("minhash_band_keys", shingles,
        s"minhash_band_keys(sh, ${Dedup.NumHashes}, ${Dedup.Bands})", "sh"),
      ("char_shingles", text, "char_shingles(text, 2)", "text"),
      ("hll_sketch", text, s"hll_sketch($md5Chain).hll_est", "count(text)"),
      ("ivf_rank_cells", vecs, s"ivf_rank_cells(embedding, $centLit)",
        "embedding"),
      ("t17_bigram_keys", text,
        s"t17_bigram_keys(text, ${graft.operators.TextAnalysis.T17Buckets})",
        "text"),
      ("pii_scrub", text, "pii_scrub(text)", "text"))
    // counting also fills each cache before timing
    val rowsOf = Seq(text, shingles, vecs).map(d => d -> d.count().toDouble)
    val out = cases.flatMap { case (name, in, kernel, base) =>
      val rows = rowsOf.find(_._1 eq in).get._2
      def perRow(e: String): Double = nsPerRow(in.select(expr(e).as("k")), rows)
      perRow(kernel); perRow(base) // warm codegen for both spellings
      val ks = Seq.fill(reps)((perRow(kernel), perRow(base)))
      Seq(name -> Main.median(ks.map(_._1)),
        s"${name}_base" -> Main.median(ks.map(_._2)))
    }
    Seq(text, shingles, vecs).foreach(_.unpersist(true))
    out
  }

  private def repeat(df: DataFrame, target: Int): DataFrame = {
    val n = math.max(1L, df.count())
    val copies = math.max(1L, (target + n - 1) / n)
    df.crossJoin(df.sparkSession.range(copies).select(col("id").as("_c")))
      .drop("_c").repartition(4)
  }

  /** Wall nanoseconds per input row to materialize `df` through the noop
    * sink, the job repeated until [[MinTimingNs]] have passed. */
  private def nsPerRow(df: DataFrame, rows: Double): Double = {
    val t0 = System.nanoTime()
    var jobs = 0
    while (System.nanoTime() - t0 < MinTimingNs) {
      df.write.format("noop").mode("overwrite").save()
      jobs += 1
    }
    (System.nanoTime() - t0) / (jobs * rows)
  }
}
