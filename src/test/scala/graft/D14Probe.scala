package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TextOps}

/** Dev-only stage decomposition of d14_containment's wall (the r17
  * q46 stage-probe protocol, OPTIMIZATION_r17.md): times each prefix
  * of the pipeline through the noop sink, 3 reps, medians. */
object D14Probe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val s = GraftSession.get()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.GraftFunctions.register(s)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def med(name: String)(body: => Unit): Unit = {
      body // warm
      val xs = (1 to 3).map { _ =>
        s.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      println(f"[d14probe] $name%-12s ${xs(1)}%.3f  (${xs.map(x => f"$x%.2f").mkString(" ")})")
    }

    def docsT = Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .select(col("doc_id"), col("toks"))
    def quotes = {
      val mx = docsT.agg(max(col("doc_id")).as("mxid"))
      docsT.crossJoin(broadcast(mx))
        .filter(col("doc_id") % Dedup.D14PlantMod === 0 &&
          size(col("toks")) >= Dedup.D14PlantMinToks)
        .select((col("doc_id") + col("mxid") + 1).as("doc_id"),
          concat(array(lit("begin"), lit("quote")),
            slice(col("toks"), Dedup.D14SliceFrom, Dedup.D14SliceLen),
            array(lit("end"), lit("quote"))).as("toks"))
    }
    def dfr = docsT.unionByName(quotes)
      .withColumn("shset", expr("array_distinct(word_shingles(toks))"))
      .select(col("doc_id"), col("shset"), size(col("shset")).as("nsh"))

    med("kernel")(noop(docsT))
    med("union+sh")(noop(dfr))
    med("ex")(noop(dfr.select(col("doc_id"), col("nsh"),
      explode(col("shset")).as("sh"))))
    med("df_agg") {
      val ex = dfr.select(col("doc_id"), explode(col("shset")).as("sh"))
      noop(ex.groupBy("sh").agg(count(lit(1)).as("dfc")))
    }
    med("indexed") {
      val d = dfr.localCheckpoint(true)
      val ex = d.select(col("doc_id"), col("nsh"), explode(col("shset")).as("sh"))
      val df = ex.groupBy("sh").agg(count(lit(1)).as("dfc"))
      noop(ex.join(df, "sh").filter(col("dfc") <= Dedup.D14MaxDf)
        .select(col("doc_id"), col("sh"), col("dfc")))
      org.apache.spark.sql.graftbridge.GraftCheckpoints.releaseLocalCheckpoint(d)
    }
    // tail stages over pre-built checkpoints (not timed): cand and inter
    val d = dfr.localCheckpoint(true)
    val ex = d.select(col("doc_id"), col("nsh"), explode(col("shset")).as("sh"))
    val df = ex.groupBy("sh").agg(count(lit(1)).as("dfc"))
    val indexed = ex.join(df, "sh").filter(col("dfc") <= Dedup.D14MaxDf)
      .select(col("doc_id"), col("sh"), col("dfc"))
      .localCheckpoint(true)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("dfc"), col("sh"))
    val index = indexed.select(col("doc_id"), col("sh"))
    val probe = indexed
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= Dedup.D14RareK)
      .select(col("doc_id"), col("sh"))
    def cand = probe.as("x").join(index.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b")).distinct()
    med("cand")(noop(cand))
    val candC = cand.localCheckpoint(true)
    med("inter") {
      noop(candC
        .join(ex.select(col("doc_id").as("a"), col("sh")), "a")
        .join(ex.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter")))
    }
    med("inter_arr") {
      noop(candC
        .join(d.select(col("doc_id").as("a"), col("shset").as("sha")), "a")
        .join(d.select(col("doc_id").as("b"), col("shset").as("shb")), "b")
        .select(col("a"), col("b"),
          size(array_intersect(col("sha"), col("shb"))).as("inter"),
          size(col("sha")).as("na"), size(col("shb")).as("nb")))
    }
    println(s"[d14probe] cand rows: ${candC.count()}, " +
      s"ex rows: ${ex.count()}, indexed rows: ${indexed.count()}")
    s.stop()
  }
}
