package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main: dumps the EXECUTED plan (`AdaptiveSparkPlan
  * isFinalPlan=true` — each query is materialized through the noop sink
  * first, so AQE's runtime re-planning and exchange reuse are visible,
  * unlike the static plan which double-counts a self-join's identical
  * subtrees) for every SparkEntry query to one file (default
  * PLANS.txt), plus a per-query one-line summary of the properties that
  * matter at scale — whether filters reached the scan (PushedFilters),
  * how many columns the scan reads (ReadSchema), the join strategies
  * chosen, and the number of exchanges actually executed vs reused.
  *
  * The output is stamped with the git commit it was generated at, and
  * generation REFUSES a dirty product-source tree (src/main, build.sbt)
  * unless SPARK_GRAFT_EXPLAIN_ALLOW_DIRTY=1 — round 9 shipped a
  * PLANS.txt whose t8 section audited a plan that no longer existed
  * because the plan swap and the regeneration landed in the wrong
  * order; with the stamp, staleness is mechanically checkable
  * (tools/check_plans.sh: stale iff product source changed between the
  * stamped commit and HEAD).
  *
  * Usage: sbt "runMain graft.Explain [sfDir] [outFile]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    // dev-only subset (csv of query names, the Verify/Bench third-arg
    // convention): audits one query's executed plan without the full
    // sweep; never overwrites the stamped artifact by default
    val subset: Option[Set[String]] =
      if (args.length > 2 && args(2).nonEmpty)
        Some(args(2).split(",").map(_.trim).toSet)
      else None
    subset.foreach { set =>
      val unknown = set -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    val out =
      if (args.length > 1) args(1)
      else if (subset.isDefined) "target/plans-subset.txt"
      else "PLANS.txt"
    // a subset audit may NEVER land on the stamped artifact path: a
    // PLANS.txt holding only the requested queries would read as a
    // complete audit (and the subset path also skips the dirty-tree
    // refusal below, so it could additionally stamp uncommitted code)
    if (subset.isDefined &&
      Paths.get(out).getFileName.toString == "PLANS.txt") {
      System.err.println("[explain] REFUSING subset output to PLANS.txt — " +
        "the stamped artifact must be the full sweep. Use another path.")
      sys.exit(1)
    }

    import scala.sys.process._
    def git(cmd: String*): String =
      try Process("git" +: cmd).!!.trim catch { case _: Exception => "" }
    val sha = git("rev-parse", "HEAD")
    val dirty =
      git("status", "--porcelain", "--", "src/main", "build.sbt").nonEmpty
    if (dirty && subset.isEmpty &&
      !sys.env.get("SPARK_GRAFT_EXPLAIN_ALLOW_DIRTY").contains("1")) {
      System.err.println("[explain] REFUSING to generate: src/main or " +
        "build.sbt has uncommitted changes, so the stamped commit would " +
        "not identify the audited code. Commit first (or set " +
        "SPARK_GRAFT_EXPLAIN_ALLOW_DIRTY=1 for a throwaway audit).")
      sys.exit(1)
    }

    val spark = GraftSession.get()
    spark.sparkContext.setLogLevel("WARN")

    val sb = new StringBuilder
    val summary = new StringBuilder
    summary.append(s"# generated-at-commit: $sha" +
      (if (dirty) " (DIRTY TREE — not authoritative)" else "") + "\n")
    summary.append("# stale iff: ! git diff --quiet <commit>..HEAD -- " +
      "src/main build.sbt   (tools/check_plans.sh)\n")
    summary.append("# stages(S/T): shuffle-map/total STAGES executed " +
      "during query build+run, from a SparkListener — unlike the plan " +
      "columns this sees THROUGH localCheckpoint lineage cuts (q36's " +
      "per-iteration shuffles, d8's contraction rounds) and through " +
      "construction-time artifact jobs; a stage served by exchange " +
      "reuse never re-runs, so reuse lowers S. First consumer of a " +
      "memoized subtree (alphabetical order) carries its build stages. " +
      "That cold column also counts the jobs that stage a unit under " +
      "target/ for the first time, so it depends on what target/ already " +
      "holds; warm(S/T) counts the same for a second call of the query in " +
      "the same JVM, once every unit is staged and every memo built, and " +
      "reads the same on every regeneration of one commit, except " +
      "c30_curation_v2 and c30_report, whose total can move by one " +
      "stage (likely AQE flipping the d8 membership join they reach " +
      "between sort-merge and broadcast).\n")
    summary.append("query | shuffles(exec+reused) | stages(S/T) | " +
      "warm(S/T) | joins | pushed | readCols\n")

    val joinRe = """([A-Za-z]*Join)""".r

    // stage-level audit: the executed-plan text cannot see past a
    // localCheckpoint (the round-11 verdict's blind spot — q36 read
    // "0+0 shuffles" while running two keyed shuffles per iteration);
    // a listener counts what the scheduler actually ran, checkpoint
    // cuts and all. shuffleDepId identifies shuffle-map stages.
    val allStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffleStages = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        allStages.incrementAndGet()
        if (org.apache.spark.graftbridge.GraftScheduler
            .isShuffleMapStage(e.stageInfo)) shuffleStages.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    /** Builds and runs one query; returns its frame and the
      * (shuffle-map, total) stages that build and run executed. */
    def audited(name: String) = {
      org.apache.spark.graftbridge.GraftScheduler
        .drainListenerBus(spark.sparkContext)
      allStages.set(0); shuffleStages.set(0)
      val df = SparkEntry.queries(name)(spark, dir)
      // drive the DATASET'S OWN QueryExecution to its AQE final plan (a
      // write action builds a separate QueryExecution and leaves df's at
      // isFinalPlan=false) WITHOUT buffering rows on the driver: count()
      // on the internal-row RDD executes the adaptive plan but ships only
      // per-partition counts back, so a large sfDir argument can't blow
      // driver memory on the pairwise queries the way collect() could
      df.queryExecution.toRdd.count()
      org.apache.spark.graftbridge.GraftScheduler
        .drainListenerBus(spark.sparkContext)
      (df, s"${shuffleStages.get}/${allStages.get}")
    }

    for (name <- SparkEntry.queries.keys.toSeq.sorted
        .filter(n => subset.forall(_.contains(n)))) {
      val (df, cold) = audited(name)
      val warm = audited(name)._2
      val plan = df.queryExecution.executedPlan.toString
      sb.append(s"===== $name =====\n$plan\n")
      // the adaptive plan prints "== Final Plan ==" AND "== Initial
      // Plan =="; audit only what actually ran
      val lines = plan.split("== Initial Plan ==")(0).linesIterator.toSeq
      def exchanges(ls: Seq[String]) =
        ls.count(l => (l.contains("Exchange hashpartitioning") ||
          l.contains("Exchange rangepartitioning") ||
          l.contains("Exchange SinglePartition")) &&
          !l.contains("ReusedExchange"))
      val executed = exchanges(lines)
      val reused = lines.count(_.contains("ReusedExchange"))
      val joins = lines.flatMap(l => joinRe.findFirstIn(l))
        .filterNot(_ == "Join").mkString("+")
      val pushed = lines.exists(l =>
        l.contains("PushedFilters: [") && !l.contains("PushedFilters: []"))
      val readCols = lines.filter(_.contains("ReadSchema"))
        .map(l => l.substring(l.indexOf("ReadSchema")).count(_ == ':') - 1)
        .mkString(",")
      summary.append(s"$name | $executed+$reused | $cold | $warm | " +
        s"$joins | $pushed | $readCols\n")
    }
    spark.sparkContext.removeSparkListener(listener)
    Files.write(Paths.get(out), (summary.toString + "\n" + sb.toString).getBytes)
    println(s"[explain] wrote $out")
    println(summary.toString)
    spark.stop()
  }
}
