package graft

import java.nio.file.{Files, Paths}

/** Dev-only per-query formatted-plan dump for the optimization-round
  * deliverables (`<outDir>/<query>_<tag>.txt`): materializes each
  * requested query through its own QueryExecution (so the AQE FINAL
  * plan is shown, the Explain.scala discipline) and writes
  * `.explain("formatted")` output to one file per query.
  *
  * Usage: sbt "Test/runMain graft.PlanDump <sfDir> <outDir> <tag>
  *   <q1,q2,...> [confKey=value ...]" — trailing key=value args set
  * runtime Spark confs first (dump the plan another join threshold or
  * AQE setting gives).
  *
  * Lives in src/test (not src/main) so a dump run never invalidates
  * the PLANS.txt product-source stamp.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, tag, csv) = args.take(4)
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty)
    val unknown = names.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")
    args.drop(4).foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.queryExecution.toRdd.count() // drive THIS QueryExecution to its AQE final plan
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.write(Paths.get(s"$outDir/${name}_$tag.txt"),
        (s"# query: $name  sfDir: $dir  tag: $tag\n" + txt).getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
