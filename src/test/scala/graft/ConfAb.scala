package graft

/** Dev-only same-JVM alternating A/B of GATE queries under a flipped
  * runtime conf — the r18 q46 cut-vs-pushed A/B protocol generalized: run the named
  * queries' noop-sink wall with the conf at valueA, then at valueB,
  * alternating A/B/A/B so box-weather waves hit both sides equally
  * (the only trustworthy comparison this box permits — SURVEY §6).
  * The conf must be a Spark conf the query's plan reads (an
  * optimizer or AQE threshold such as
  * `spark.sql.autoBroadcastJoinThreshold`); it is set before each
  * build.
  *
  * Usage: sbt "test:runMain graft.ConfAb <dir> <queriesCsv> <confKey>
  *   <valueA> <valueB> [reps=4]"
  */
object ConfAb {
  def main(args: Array[String]): Unit = {
    require(args.length >= 5,
      "args: dir queriesCsv confKey valueA valueB [reps]")
    val Array(dir, qcsv, key, va, vb) = args.take(5)
    val reps = if (args.length > 5) args(5).toInt else 4
    val names = qcsv.split(",").map(_.trim).toSeq
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val s = GraftSession.get()
    s.sparkContext.setLogLevel("WARN")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def runAll(v: String): Double = {
      s.conf.set(key, v)
      val t0 = System.nanoTime()
      names.foreach(n => noop(SparkEntry.queries(n)(s, dir)))
      (System.nanoTime() - t0) / 1e9
    }
    // warm both codegen paths untimed
    runAll(va); runAll(vb)
    val (as, bs) = (Array.newBuilder[Double], Array.newBuilder[Double])
    for (_ <- 1 to reps) {
      s.catalog.clearCache(); System.gc()
      as += runAll(va)
      s.catalog.clearCache(); System.gc()
      bs += runAll(vb)
    }
    def fmt(xs: Array[Double]) = {
      val m = xs.sorted.apply(xs.length / 2)
      xs.map(x => f"$x%.3f").mkString(" ") + f"  (median $m%.3f)"
    }
    println(s"[confab] $key=$va: ${fmt(as.result())}")
    println(s"[confab] $key=$vb: ${fmt(bs.result())}")
    s.stop()
  }
}
