package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale probe: builds 10×-scaled variants of the embeddings
  * table under target/probe and times d5_dedup_embedding on each, so
  * the "blocking stays linear in corpus size" claim is measured, not
  * asserted (the d2/d4 analog probed a 20×-duplicated documents corpus
  * in round 1, SURVEY §5).
  *
  *  - `x10distinct`: each copy is per-component perturbed — 10× DISTINCT
  *    vectors, exercising the corpus-scaled bits-per-band growth
  *    (d5BitsPerBand at occupancy target 16: 2000 → 8 bits,
  *    20000 → 11 bits, 200000 → 14 bits);
  *  - `x10dup`: exact copies — 10× rows but the same distinct set,
  *    exercising the group-collapse path (quadratic per bucket if the
  *    collapse ever regresses).
  *
  * Usage: sbt "runMain graft.Probe [sfDir]"; prints one line per case.
  * SPARK_GRAFT_PROBE_SECTIONS (csv of d5,d3,q25,d8; default all) picks
  * which probe families run — each is minutes of wall, and iterating on
  * one should not pay for the others.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val sections = sys.env.getOrElse("SPARK_GRAFT_PROBE_SECTIONS",
      "d5,d3,q25,d8").split(",").map(_.trim).toSet
    val spark: SparkSession = GraftSession
      .builder(master = s"local[$cpus]", shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (sections("d5")) probeD5(spark, sfDir)
    if (sections("d3")) probeD3(spark)
    if (sections("q25")) probeQ25(spark)
    if (sections("d8")) probeD8(spark)
    if (sections("d8ab")) probeD8AB(spark) // not in the default set
    if (sections("q36")) probeQ36(spark, sfDir) // not in the default set
    if (sections("bpe")) probeBpe(spark) // not in the default set
    if (sections("q36b")) probeQ36B(spark) // not in the default set
    if (sections("decade")) probeDecade(spark, sfDir) // not in the default set
    if (sections("ev100")) probeEv100(spark, sfDir) // not in the default set
    if (sections("cdc")) probeCdc(spark) // not in the default set
    if (sections("s10")) probeS10(spark, sfDir) // not in the default set
    if (sections("d14")) probeD14(spark, sfDir) // not in the default set
    if (sections("d4")) probeD4(spark, sfDir) // not in the default set
    if (sections("lp")) probeLp(spark) // not in the default set
    spark.stop()
  }

  /** ---- LP + bounded-SSSP planted-graph scale probe (round 17): the
    * two newest iterative cores at 10×/100× node counts — the same
    * planted-graph treatment d8/q36/q49 got. Claims measured: (1) LP
    * cost is linear in edges with rounds FIXED (the per-round
    * edge-join + combinable mode shape), verified on planted
    * 10-cliques where 4 synchronous rounds provably settle every
    * clique on its minimum id — communities must equal n/10 exactly
    * at every tier; (2) a hub-free giant component prices the
    * worst-case relabel traffic (no assertion beyond completion —
    * wall is the datum); (3) delta-relaxation SSSP cost follows the
    * REACHED set, not the graph (the q49 output-bounded argument,
    * now measured for the weighted core). Not in the default set. */
  private def probeLp(spark: SparkSession): Unit = {
    import graft.operators.Graph
    println("== lp/sssp: planted graphs at 10x/100x node counts ==")
    // all 45 intra-clique pairs per 10-node block, both directions
    def cliques(n: Long) = {
      val base = spark.range(n).select(col("id"),
        (col("id") - col("id") % 10).as("g"))
      val e = base.select(col("id").as("src"), col("g").as("g1"))
        .join(base.select(col("id").as("dst"), col("g").as("g2")),
          col("g1") === col("g2") && col("src") =!= col("dst"))
        .select("src", "dst")
      e
    }
    // one giant component, skew-free pseudo-random attachment
    def giant(n: Long) = {
      val fwd = spark.range(1, n)
        .select(expr("pmod(xxhash64(id), id)").as("src"), col("id").as("dst"))
      fwd.unionAll(fwd.select(col("dst").as("src"), col("src").as("dst")))
    }
    def run(name: String, n: Long, mk: Long => org.apache.spark.sql.DataFrame,
        expectComms: Long): Unit = {
      spark.catalog.clearCache(); System.gc()
      val edges = mk(n).localCheckpoint(true)
      val t0 = System.nanoTime()
      val labels = Graph.labelPropagation(edges, rounds = 4)
      labels.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val comms = labels.agg(countDistinct("label")).head().getLong(0)
      if (expectComms > 0) require(comms == expectComms,
        s"$name: $comms communities, expected $expectComms")
      println(f"""{"probe":"$name","nodes":$n,"communities":$comms,""" +
        f""""sec":$sec%.2f}""")
      org.apache.spark.sql.graftbridge.GraftCheckpoints
        .releaseLocalCheckpoint(edges)
    }
    def runSssp(name: String, n: Long): Unit = {
      spark.catalog.clearCache(); System.gc()
      val edges = giant(n)
        .withColumn("cost", (pmod(col("dst"), lit(7L)) + 1).cast("long"))
        .localCheckpoint(true)
      val sources = spark.range(3).select(col("id").as("node"))
      val t0 = System.nanoTime()
      val dist = Graph.boundedSssp(edges, sources, rounds = 4)
      dist.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val reached = dist.count()
      println(f"""{"probe":"$name","nodes":$n,"reached":$reached,""" +
        f""""sec":$sec%.2f}""")
      org.apache.spark.sql.graftbridge.GraftCheckpoints
        .releaseLocalCheckpoint(edges)
    }
    run("lp_warmup", 50000, cliques, 5000)
    for (n <- Seq(50000L, 500000L, 5000000L)) {
      run(s"lp_cliques_n$n", n, cliques, n / 10)
      run(s"lp_giant_n$n", n, giant, -1)
      runSssp(s"sssp_giant_n$n", n)
    }
  }

  /** ---- d4's round-13 scale claim: df-capped rarest-K blocking
    * bounds candidate volume LINEARLY, with the recall trade explicit.
    * Tiers replicate the corpus into k near-copy families
    * (ScaleBench's distinct-suffix rule): at 10× family df = 10 ≤
    * MaxDf = 16, so the blocked output must EQUAL the unbounded brute
    * force (recall measured); at 100× family df = 100 > cap — the
    * replicated families fall OUT of the blocking by design (the
    * documented miss: 100-copy families are what d1-collapse and the
    * d2→d4Confirm production chain own at that density) and the wall
    * must stay ~linear in rows while the old spelling's Σdf² term
    * would have grown 100× per family. Not in the default set. */
  private def probeD4(spark: SparkSession, sfDir: String): Unit = {
    println("== d4: df-capped blocking vs 1x/10x/100x near-copy corpora ==")
    val docs = Tables.documents(spark, sfDir)
    val mId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    def tier(tag: String, k: Int): String = {
      val path = s"target/probe/d4$tag"
      docs.crossJoin(spark.range(k).withColumnRenamed("id", "copy"))
        .select((col("doc_id") + col("copy") * mId).as("doc_id"),
          concat(col("text"), lit(" copyword"), col("copy").cast("string"))
            .as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$path/documents.parquet")
      path
    }
    val dirs = Seq(("1x", sfDir), ("10x", tier("x10", 10)),
      ("100x", tier("x100", 100)))
    for ((tag, dir) <- dirs) {
      val t0 = System.nanoTime()
      val n = operators.Dedup.d4NgramJaccard(spark, dir).count()
      println(f"[d4] $tag%-5s wall=${(System.nanoTime() - t0) / 1e9}%7.2fs " +
        s"pairs=$n")
    }
    val got = operators.Dedup.d4NgramJaccard(spark, dirs(1)._2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t0 = System.nanoTime()
    val full = operators.Dedup.d4BruteForce(spark, dirs(1)._2)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    println(f"[d4] 10x brute force wall=${(System.nanoTime() - t0) / 1e9}%7.2fs" +
      f" pairs=${full.size} recall=${got.size.toDouble / full.size}%.4f" +
      s" invented=${(got -- full).size}")
  }

  /** ---- d14's scale claim: containment dedup cost rides the
    * df-capped blocking buckets, ~linear in the corpus (round 12,
    * fourth sitting). The 10× tier tags every TOKEN with its copy id,
    * so each copy is a DISJOINT shingle universe — exact replication
    * would multiply every df by 10, blow the [[operators.Dedup.D14MaxDf]]
    * cap and erase the blocking keys (measuring an artifact, not the
    * operator); a real 10× crawl brings new content, which disjoint
    * universes simulate while preserving the per-copy df profile and
    * the planted quote pairs. Not in the default set. */
  private def probeD14(spark: SparkSession, sfDir: String): Unit = {
    println("== d14: containment dedup vs 1x/10x corpus ==")
    val docs = Tables.documents(spark, sfDir)
    val mId = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val x10 = "target/probe/d14x10"
    docs
      .withColumn("norm", operators.TextOps.normText(col("text")))
      .withColumn("toks", expr(operators.TextOps.toksExpr))
      .crossJoin(spark.range(10).withColumnRenamed("id", "copy"))
      .select((col("doc_id") + col("copy") * mId).as("doc_id"),
        expr("array_join(transform(toks, t -> concat('c', copy, t)), ' ')")
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$x10/documents.parquet")
    for ((tier, dir) <- Seq(("1x", sfDir), ("10x", x10))) {
      val t0 = System.nanoTime()
      val n = operators.Dedup.d14Containment(spark, dir).count()
      val t1 = System.nanoTime()
      println(f"[d14] $tier%-4s wall=${(t1 - t0) / 1e9}%6.2fs pairs=$n")
    }
  }

  /** ---- s10's scale claim: the MMR greedy is CANDIDATE-BOUNDED —
    * its cost rides the fixed (queries × S10Cand) pool, not the
    * corpus (round 12, fourth sitting). Times s1 (the candidate
    * scan alone) and s10 (scan + pairwise sims + k greedy rounds) on
    * 1×/10×/100× embedding corpora: the s10−s1 overhead must stay
    * ~flat while both scans grow with the corpus (the 1× tier doubles
    * as JVM warmup). Not in the default set. */
  private def probeS10(spark: SparkSession, sfDir: String): Unit = {
    println("== s10: candidate-bounded greedy vs 1x/10x corpus ==")
    val e = Tables.embeddings(spark, sfDir)
    val mId = e.agg(max(col("vec_id"))).head().getLong(0) + 1
    val tiers = Seq(("10x", 10), ("100x", 100)).map { case (tag, k) =>
      val dir = s"target/probe/s10$tag"
      e.crossJoin(spark.range(k).withColumnRenamed("id", "copy"))
        .withColumn("vec_id", col("vec_id") + col("copy") * mId)
        .withColumn("embedding", expr("transform(embedding, (x, i) -> " +
          "CAST(x + CAST(copy AS FLOAT) * CAST(0.003 AS FLOAT) * " +
          "CAST(i % 7 AS FLOAT) AS FLOAT))"))
        .select("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      (tag, dir)
    }
    for ((tier, dir) <- ("1x", sfDir) +: tiers) {
      val t0 = System.nanoTime()
      val ns1 = operators.Similarity.s1BruteForce(spark, dir).count()
      val t1 = System.nanoTime()
      val ns10 = operators.Similarity.s10MmrDiversify(spark, dir).count()
      val t2 = System.nanoTime()
      val scan = (t1 - t0) / 1e9; val mmr = (t2 - t1) / 1e9
      println(f"[s10] $tier%-4s s1scan=$scan%6.2fs s10=$mmr%6.2fs " +
        f"greedyOverhead=${mmr - scan}%6.2fs rows=$ns1/$ns10")
    }
  }

  /** ---- merge/upsert cost ∝ touched partitions, not table size
    * (round 12; the c13/c15/c17/st10 machinery's scale claim): a
    * FIXED changeset (500 scattered keys in 3 of 100 date partitions,
    * plus one whole-partition erase) applied to 1× and 10× tables via
    * [[graft.sources.Sources.mergeIntoPartitioned]], against the
    * NAIVE spelling (anti-join + full-table overwrite) as the
    * contrast. The naive pass runs FIRST, off the pristine table (it
    * writes to a probe dir, never mutating the table), so both
    * spellings apply the identical changeset to identical input. The
    * merge's wall rides the touched directories' bytes; the naive
    * rewrite pays the whole table — the gap must WIDEN with table
    * size, which is the entire reason lakes do partition-scoped
    * MERGE. Also re-proves the emptied-partition fix at scale: one
    * touched partition's keys are deleted entirely and must vanish.
    * Not in the default set. */
  private def probeCdc(spark: SparkSession): Unit = {
    println("== cdc: fixed changeset merge vs 1x/10x table; naive contrast ==")
    import spark.implicits._
    val nParts = 100
    for ((tier, rows) <- Seq(("1x", 1000000L), ("10x", 10000000L))) {
      val t = s"graft_probe_cdc_$tier"
      if (spark.catalog.tableExists(t)) spark.sql(s"DROP TABLE $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(loc, true)
      graft.sources.Sources.writePartitioned(
        spark.range(rows).select(col("id").as("k"),
          md5(col("id").cast("string")).as("v"),
          pmod(col("id"), lit(nParts)).as("dt")), t, "dt")
      // fixed changeset: 400 upserts in dt 0/1, 100 scattered deletes in
      // dt 2, plus ALL of dt 3's keys deleted (the emptied-partition case)
      val upserts = spark.range(200).select((col("id") * nParts).as("k"))
        .union(spark.range(200).select((col("id") * nParts + 1).as("k")))
        .select(col("k"), lit("updated").as("v"),
          pmod(col("k"), lit(nParts)).as("dt"))
        .localCheckpoint(true)
      val deletes = spark.range(100)
        .select((col("id") * nParts + 2).as("k"))
        .union(spark.table(t).filter(col("dt") === 3).select(col("k")))
        .select(col("k"), pmod(col("k"), lit(nParts)).as("dt"))
        .localCheckpoint(true)
      spark.catalog.clearCache(); System.gc()
      // naive contrast FIRST, off the pristine table: anti-join the
      // keys over the WHOLE table and rewrite everything to a probe
      // dir (what a partition-unaware sink would do; the table itself
      // is untouched, so the merge below sees identical input)
      val touched = upserts.select("k").union(deletes.select("k")).distinct()
      val t2 = System.nanoTime()
      val naive = spark.table(t).join(touched, Seq("k"), "left_anti")
        .unionByName(upserts.select(spark.table(t).columns.map(col): _*))
        .localCheckpoint(true)
      naive.write.mode("overwrite")
        .parquet(s"target/probe/cdc_naive_$tier")
      val t3 = System.nanoTime()
      val t0 = System.nanoTime()
      graft.sources.Sources.mergeIntoPartitioned(
        spark, t, "dt", "k", upserts, deletes)
      val t1 = System.nanoTime()
      val emptied = !loc.getFileSystem(
        spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(loc, "dt=3"))
      println(f"[cdc] $tier%-4s rows=$rows%9d merge=${(t1 - t0) / 1e9}%6.2fs " +
        f"naiveRewrite=${(t3 - t2) / 1e9}%6.2fs emptiedDropped=$emptied")
    }
  }

  /** ---- event-family analytics at 100× events + q37's adversarial
    * bot (round 12, closing the r11 verdict's "cap/window claims are
    * argued from 10× rows" gap). 100× replication shifts event and
    * user ids (per-user profile size constant, users ×100 — the
    * realistic growth); the bot corpus adds ONE user clicking 5000
    * distinct items 20× each — uncapped, that single profile emits
    * C(5000,2) ≈ 12.5M co-occurrence pairs, more than the rest of the
    * corpus combined; with the top-12 cap it emits 66. q37's wall at
    * 100×+bot must sit at its 100× time. q34's per-user state is
    * calendar-bounded and q38's matrix type²-bounded, so both should
    * scale ≤ linearly in events on fixed cores. Not in the default
    * set. */
  private def probeEv100(spark: SparkSession, sfDir: String): Unit = {
    println("== ev100: q34/q37/q38 at 100x events + q37 planted bot ==")
    val ev = Tables.events(spark, sfDir)
    val cols = ev.columns
    def maxOf(c: String) = ev.agg(max(col(c))).head().getLong(0) + 1
    val mEv = maxOf("event_id"); val mUser = maxOf("user_id")
    val copies = spark.range(100).withColumnRenamed("id", "copy")
    val x100 = ev.crossJoin(copies)
      .withColumn("event_id", col("event_id") + col("copy") * mEv)
      .withColumn("user_id", col("user_id") + col("copy") * mUser)
      .select(cols.map(col).toIndexedSeq: _*)
    val base = "target/probe/ev100"
    x100.write.mode("overwrite").parquet(s"$base/events.parquet")
    val bot = ev
      .withColumn("event_id", col("event_id") + lit(101L) * mEv)
      .withColumn("user_id", lit(mUser * 200))
      .withColumn("event_type", lit("click"))
      .withColumn("props", concat(lit("{\"k\": "),
        (col("event_id") % 5000).cast("string"), lit("}")))
      .select(cols.map(col).toIndexedSeq: _*)
    val botDir = "target/probe/ev100bot"
    x100.unionAll(bot).write.mode("overwrite")
      .parquet(s"$botDir/events.parquet")

    def time(name: String, f: => org.apache.spark.sql.DataFrame): Unit = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      f.write.format("noop").mode("overwrite").save()
      println(f"[ev100] $name%-14s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
    }
    import operators.Relational.{q34RetentionCohorts, q37Cooccur, q38Transitions}
    time("warmup", q34RetentionCohorts(spark, sfDir))
    time("q34_1x", q34RetentionCohorts(spark, sfDir))
    time("q34_100x", q34RetentionCohorts(spark, base))
    time("q38_1x", q38Transitions(spark, sfDir))
    time("q38_100x", q38Transitions(spark, base))
    time("q37_1x", q37Cooccur(spark, sfDir))
    time("q37_100x", q37Cooccur(spark, base))
    time("q37_100x_bot", q37Cooccur(spark, botDir))
    // round-12 windowed family: q41's one-exchange sessionize and
    // q40's register-bounded HLL should scale ≤ linearly (the 100×
    // replica multiplies USERS — per-user session/window state is
    // constant, sketch state fixed at m registers per key); q43 runs
    // on orders, covered by the sort-family pins instead
    import operators.Relational.{q40HllDistinct, q41SessionizeBatch}
    time("q41_1x", q41SessionizeBatch(spark, sfDir))
    time("q41_100x", q41SessionizeBatch(spark, base))
    time("q40_1x", q40HllDistinct(spark, sfDir))
    time("q40_100x", q40HllDistinct(spark, base))
  }

  /** ---- second-decade linearity check (round 17, r16 ask #7): the
    * ≥5× rows of the 10× sweep (c26 7.3×, q11 6.8×, q28 6.0×, q1
    * 5.8×, q23 5.8×) carry a "linear with constants" claim argued
    * from ONE decade (sf0.1 → 10×). This measures the two cheapest
    * (q1, q23) at a THIRD tier — 100× of their input tables — so the
    * claim gets a second decade: wall(100×)/wall(10×) ≤ ~10 reads
    * linear-or-better. Each tier runs the query TWICE: run1 includes
    * q23's per-JVM bucket staging (what the sweep measures — staging
    * is ∝ data and re-paid per session), run2 is the steady-state
    * query over warm bucket tables. Not in the default set. */
  private def probeDecade(spark: SparkSession, sfDir: String): Unit = {
    println("== decade: q1/q23 at 10x and 100x (second-decade check) ==")
    val out10 = "target/sf1sim"
    // _SUCCESS, not bare existence: a generation that died mid-write
    // must regenerate, not silently time q1/q23 over truncated data
    // (the out100 branch below always checked this; r17 review)
    if (!new java.io.File(s"$out10/lineitem.parquet/_SUCCESS").exists())
      ScaleBench.generate(spark, sfDir, out10)
    val out100 = "target/probe/decade100"
    if (!new java.io.File(s"$out100/lineitem.parquet/_SUCCESS").exists()) {
      val copies = spark.range(100).withColumnRenamed("id", "copy")
      val o = Tables.orders(spark, sfDir)
      val mOrd = o.agg(max(col("o_orderkey"))).head().getLong(0) + 1
      val oc = o.columns
      o.crossJoin(copies)
        .withColumn("o_orderkey", col("o_orderkey") + col("copy") * mOrd)
        .select(oc.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").parquet(s"$out100/orders.parquet")
      val l = Tables.lineitem(spark, sfDir)
      val lc = l.columns
      l.crossJoin(copies)
        .withColumn("l_orderkey", col("l_orderkey") + col("copy") * mOrd)
        .select(lc.map(col).toIndexedSeq: _*)
        .write.mode("overwrite").parquet(s"$out100/lineitem.parquet")
    }
    for (q <- Seq("q1_multi_agg", "q23_bucketed_join")) {
      for ((tier, dir) <- Seq(("10x", out10), ("100x", out100))) {
        for (run <- 1 to 2) {
          spark.catalog.clearCache(); System.gc()
          val t0 = System.nanoTime()
          SparkEntry.queries(q)(spark, dir)
            .write.format("noop").mode("overwrite").save()
          println(f"[decade] $q%-18s $tier%-5s run$run " +
            f"wall=${(System.nanoTime() - t0) / 1e9}%7.2fs")
        }
      }
    }
  }

  /** ---- q36's size-adaptive rank join on planted graphs (round 12,
    * closing the r11 verdict's hard-coded-broadcast weakness): a
    * deterministic bipartite trade graph at 1×/10×/100× node counts,
    * driving BOTH branches (broadcast fast path / two-shuffle
    * degradation) through the same iteration core. The printed
    * checksum (order-free wrapping sum of rank×node-hash) must match
    * between branches at every tier — bit-identity at probe scale,
    * beside the spec's gate-corpus pin. Not in the default set. */
  private def probeQ36B(spark: SparkSession): Unit = {
    println("== q36b: adaptive rank join, planted graphs, both branches ==")
    for ((tier, n) <- Seq(("1x", 25000L), ("10x", 250000L),
        ("100x", 2500000L))) {
      val trade = spark.range(n * 4)
        .selectExpr("(id div 4) * 2 AS a",
          s"((id * 2654435761) % $n) * 2 + 1 AS b")
        .distinct()
      for ((label, mx) <- Seq(("broadcast", Long.MaxValue), ("shuffle", 0L))) {
        val t0 = System.nanoTime()
        val ranks = operators.Graph.pagerankRanks(trade, mx)
        val check = ranks
          .agg(sum(expr("rank * ((node * 2654435761) % 1000003)")))
          .head().getLong(0)
        val t1 = System.nanoTime()
        println(f"[q36b] $tier%-4s nodes=${2 * n}%8d $label%-9s " +
          f"wall=${(t1 - t0) / 1e9}%6.1fs checksum=$check")
      }
    }
  }

  /** ---- c10 BPE trainer bound at 100× DISTINCT vocabulary (round 12,
    * closing the r11 verdict's "uncapped vocab collect" weakness):
    * corpora whose distinct-word count grows 1×/10×/100× — a 1k-word
    * HEAD repeated enough to carry the merge statistics plus a tail of
    * exactly-twice words that PASSES the BpeMinFreq floor (the
    * adversarial shape: floored vocab far beyond BpeVocabCap). The
    * distributed count+TakeOrdered collect and the driver merge loop
    * are timed separately; the collected array must sit AT the cap for
    * the 10×/100× tiers (collect bounded by the cap, not the corpus)
    * and the merge loop's cost must be flat across tiers (it sees at
    * most cap words whatever the corpus). Not in the default set. */
  private def probeBpe(spark: SparkSession): Unit = {
    println("== bpe: vocab-bounded trainer at 1x/10x/100x distinct words ==")
    val headArr = "array(" +
      (0 until 1000).map(i => f"'h$i%04d'").mkString(",") + ")"
    for ((tier, nDocs) <- Seq(("1x", 800), ("10x", 8000), ("100x", 80000))) {
      val dir = s"target/bpeprobe/$tier"
      val tailVocab = nDocs * 25 // 50 tail slots/doc → each word twice
      val headExpr = "array_join(transform(sequence(0, 19), j -> " +
        s"element_at($headArr, CAST(1 + (id * 31 + j) % 1000 AS INT))), ' ')"
      val tailExpr = "array_join(transform(sequence(0, 49), j -> " +
        s"concat('t', (id * 50 + j) % $tailVocab)), ' ')"
      spark.range(nDocs)
        .selectExpr("id AS doc_id",
          s"concat($headExpr, ' ', $tailExpr) AS text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val t0 = System.nanoTime()
      val wc = operators.Bpe.wordCounts(spark, dir)
      val t1 = System.nanoTime()
      val merges = operators.Bpe.train(wc)
      val t2 = System.nanoTime()
      println(f"[bpe] $tier%-4s docs=$nDocs%6d " +
        f"flooredVocab=${1000 + tailVocab}%8d collected=${wc.length}%6d " +
        f"(cap=${operators.Bpe.BpeVocabCap}) " +
        f"count+collect=${(t1 - t0) / 1e9}%6.2fs " +
        f"train=${(t2 - t1) / 1e9}%6.2fs " +
        s"merges=${merges.map(m => m.lhs + m.rhs).mkString(",")}")
    }
  }

  /** The d5 replication rule shared by the embedding-scale probes:
    * copy k = base vector circularly rotated by k components (negated
    * for k ≥ 64, so 100 copies stay distinct) — norm-preserving and
    * DECORRELATED from the other copies (a shared additive
    * perturbation would point every copy-k vector at the same
    * direction and manufacture bucket skew the base corpus doesn't
    * have); vec_ids re-key by copy·n so they stay unique. */
  private def replicatedEmbeddings(e: org.apache.spark.sql.DataFrame,
      n: Long, copies: org.apache.spark.sql.DataFrame) =
    e.crossJoin(copies)
      .select((col("vec_id") + col("copy") * n).as("vec_id"),
        expr("""transform(sequence(0, 63), i ->
          CAST(element_at(embedding, CAST((i + copy) % 64 AS INT) + 1) *
               IF(copy < 64, CAST(1 AS FLOAT), CAST(-1 AS FLOAT))
          AS FLOAT))""").as("embedding"),
        col("label"))

  private def probeD5(spark: SparkSession, sfDir: String): Unit = {
    val e = Tables.embeddings(spark, sfDir)
    val n = e.count()
    val copies = spark.range(10).withColumnRenamed("id", "copy")
    val copies100 = spark.range(100).withColumnRenamed("id", "copy")

    def distinctScaled(cs: org.apache.spark.sql.DataFrame) =
      replicatedEmbeddings(e, n, cs)
    val dupScaled = e.crossJoin(copies)
      .select((col("vec_id") + col("copy") * n).as("vec_id"),
        col("embedding"), col("label"))

    val base = "target/probe"
    distinctScaled(copies).write.mode("overwrite")
      .parquet(s"$base/x10distinct/embeddings.parquet")
    distinctScaled(copies100).write.mode("overwrite")
      .parquet(s"$base/x100distinct/embeddings.parquet")
    dupScaled.write.mode("overwrite")
      .parquet(s"$base/x10dup/embeddings.parquet")

    def time(name: String, dir: String): Unit = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      graft.operators.Dedup.d5Embedding(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = Tables.embeddings(spark, dir).count()
      println(f"""{"probe":"$name","rows":$rows,"sec":$sec%.2f}""")
    }

    time("d5_base_warmup", sfDir) // absorbs codegen/session startup
    time("d5_base", sfDir)
    time("d5_x10_distinct", s"$base/x10distinct")
    time("d5_x100_distinct", s"$base/x100distinct")
    time("d5_x10_dup", s"$base/x10dup")
  }

  private def probeD3(spark: SparkSession): Unit = {
    // ---- d3 banding: 10×/100× distinct-fingerprint curve + a planted
    // dense region. Fingerprints are synthesized directly (xxhash64 of
    // a range — uniform over the 60-bit space, like simhash over
    // diverse text) so the probe isolates CANDIDATE GENERATION: the
    // round-2 design pairs ~occ² inside each of the ~2^8.5
    // constant-cardinality buckets; the round-4 hot-bucket split
    // re-bands any bucket past D3HotBucketOcc on its remaining bits,
    // bounding pairs by occ_sub². `dense` plants 10% of the corpus into
    // ONE band-0 bucket (50k members at n=500k: unsplit that is 1.25e9
    // pairs; split it is ~2^7× less), the adversarial shape the split
    // exists for.
    def d3Probe(name: String, n: Long, dense: Boolean): Unit = {
      val mask60 = (1L << 60) - 1
      var df = spark.range(n)
        .withColumn("simhash", expr(s"CAST(xxhash64(id) & $mask60 AS BIGINT)"))
      if (dense) df = df.withColumn("simhash",
        expr("IF(id % 10 = 0, (simhash & -512) | 427, simhash)"))
      val groups = df.groupBy("simhash")
        .agg(sort_array(collect_list(col("id"))).as("members"))
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val pairs = graft.operators.Dedup
        .d3CandidatesFromGroups(groups, maxHamming = 6,
          hotBucketOcc = graft.operators.Dedup.D3HotBucketOcc)
        .count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"$name","fingerprints":$n,"pairs":$pairs,"sec":$sec%.2f}""")
    }
    d3Probe("d3_n5k", 5000, dense = false)
    d3Probe("d3_n50k", 50000, dense = false)
    d3Probe("d3_n500k", 500000, dense = false)
    d3Probe("d3_n500k_dense", 500000, dense = true)
  }

  private def probeQ25(spark: SparkSession): Unit = {
    // ---- q25 salting under a planted power-law key: ONE user owns 10%
    // of a 20M-row fact side (the shape q25's oracle proves transparent
    // but the gate corpus never stresses). Broadcast and AQE are off so
    // the join actually shuffles on the key and nothing re-splits the
    // hot partition at runtime — isolating what STATIC salting buys:
    // the hot key's rows land on `salt` tasks instead of one, so the
    // max-task time (the straggler every other core waits on) drops
    // ~salt×, while total work is unchanged.
    {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // hot user owns 1/hotMod of the fact side; two ratios probed —
      // at 10% on a single shared-memory box the lone straggler enjoys
      // full memory bandwidth while salted's balanced tasks contend,
      // so the wall gap is modest; at 50% the straggler owns the job
      def mkLarge(hotMod: Int) = spark.range(20000000L)
        .select(
          expr(s"IF(id % $hotMod = 0, 0, pmod(xxhash64(id), 100000))")
            .as("user_id"),
          (col("id") % 97).cast("double").as("value"))
      val small = spark.range(100000L)
        .select(col("id").as("user_id"), (col("id") % 7).as("n_purch"))
      def skewRun(join: => org.apache.spark.sql.DataFrame): (Double, Long) = {
        spark.catalog.clearCache(); System.gc()
        val maxTask = new java.util.concurrent.atomic.AtomicLong(0)
        val listener = new SparkListener {
          override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
            // only REDUCE tasks (they read shuffle data): the hot key
            // lands in one of them — map tasks are uniform by
            // construction and would drown the straggler signal
            val isReduce = te.taskMetrics != null &&
              te.taskMetrics.shuffleReadMetrics.totalBytesRead > 0
            if (isReduce)
              maxTask.updateAndGet(m => math.max(m, te.taskInfo.duration))
            ()
          }
        }
        spark.sparkContext.addSparkListener(listener)
        val t0 = System.nanoTime()
        join.groupBy("n_purch").agg(count(lit(1)).as("n_clicks"))
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        // the listener bus is ASYNC: the straggler's TaskEnd (the event
        // this probe exists to capture — it finishes last) may still be
        // in flight when the action returns; poll until the max is
        // stable across a settling window before reading it
        var settled = maxTask.get()
        var same = 0
        while (same < 4) {
          Thread.sleep(250)
          val cur = maxTask.get()
          if (cur == settled) same += 1 else { settled = cur; same = 0 }
        }
        spark.sparkContext.removeSparkListener(listener)
        (sec, maxTask.get())
      }
      // median of 3 BY WALL TIME, reporting that run's own task max —
      // independent medians could pair a wall and a straggler from
      // different runs (max_task_ms > sec·1000 in the worst case)
      def skewProbe(name: String, join: => org.apache.spark.sql.DataFrame): Unit = {
        val (sec, mt) = Seq.fill(3)(skewRun(join)).sortBy(_._1).apply(1)
        println(f"""{"probe":"$name","sec":$sec%.2f,"max_task_ms":$mt}""")
      }
      for ((pct, hotMod) <- Seq((10, 10), (50, 2))) {
        val large = mkLarge(hotMod)
        skewProbe(s"q25_skew${pct}_plain", large.join(small, "user_id"))
        skewProbe(s"q25_skew${pct}_salted",
          graft.operators.Skew.saltedJoin(large, small, "user_id", salt = 32))
      }
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
    }
  }

  /** ---- d8 star contraction: planted-graph scaling curves through
    * [[graft.operators.Graph.connectedComponentsWithRounds]], so the
    * O(log² n) round bound and near-linear per-round cost are MEASURED
    * (the last dedup-family member whose 100 TB claim was argued, not
    * probed). Three shapes at 10×/100× node counts:
    *  - chain: diameter = n — the adversarial case star contraction
    *    exists for (naive min-label propagation needs n rounds; the
    *    round count here must grow ~log n, the wall ~n·log n);
    *  - giant: one random-tree component (edge i → xxhash64(i) mod i) —
    *    everything reachable, O(log n) diameter, stresses the
    *    groupBy-min fan-in once contraction funnels the whole graph
    *    into a single component id (the hot-key shape);
    *  - smalls: n/10 ready-made stars of 10 — converges in ~2 rounds,
    *    isolating per-round fixed cost from contraction work.
    * Components are sanity-checked after timing (1, 1, n/10) so a probe
    * that converged WRONG can't publish a flattering curve. */
  private def probeD8(spark: SparkSession): Unit = {
    def d8Probe(name: String, n: Long, edges: DataFrame,
        expectComponents: Long): Unit = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val (comp, rounds) = graft.operators.Graph
        .connectedComponentsWithRounds(edges, maxIter = 40)
      comp.write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      // untimed (membership re-derives from checkpointed RDDs — cheap)
      val nComp = comp.agg(countDistinct("component")).head().getLong(0)
      require(nComp == expectComponents,
        s"$name converged to $nComp components, expected $expectComponents")
      println(f"""{"probe":"$name","nodes":$n,"rounds":$rounds,""" +
        f""""components":$nComp,"sec":$sec%.2f}""")
    }
    def chain(n: Long) = spark.range(1, n)
      .select((col("id") - 1).as("src"), col("id").as("dst"))
    def giant(n: Long) = spark.range(1, n)
      .select(expr("pmod(xxhash64(id), id)").as("src"), col("id").as("dst"))
    def smalls(n: Long) = spark.range(n).filter(col("id") % 10 =!= 0)
      .select((col("id") - col("id") % 10).as("src"), col("id").as("dst"))

    // untimed warmup absorbs codegen/session startup like the d5 probe
    d8Probe("d8_warmup", 50000, chain(50000), 1)
    for (n <- Seq(50000L, 500000L, 5000000L)) {
      d8Probe(s"d8_chain_n$n", n, chain(n), 1)
      d8Probe(s"d8_giant_n$n", n, giant(n), 1)
      d8Probe(s"d8_smalls_n$n", n, smalls(n), n / 10)
    }
  }

  /** ---- q36 phase timing: where do the PageRank seconds go — the
    * one-time edge materialization (orders⋈lineitem distinct,
    * symmetrize, outdeg, eager localCheckpoint) or the five
    * broadcast-join + dst-agg + checkpoint rounds? */
  private def probeQ36(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast => bcast}
    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[q36probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val trade = Tables.orders(spark, sfDir)
      .join(Tables.lineitem(spark, sfDir),
        col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("a"),
        (col("l_suppkey").cast("long") * 2 + 1).as("b"))
      .distinct()
    val edges = t("edges checkpoint")(trade
      .select(col("a").as("src"), col("b").as("dst"))
      .unionAll(trade.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true))
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val eo = t("eo checkpoint")(
      edges.join(bcast(outdeg), "src").localCheckpoint(true))
    println(s"[q36probe] eo rows: ${t("eo count")(eo.count())}")
    var ranks = t("pr0 checkpoint")(outdeg
      .select(col("src").as("node"),
        lit(graft.operators.Graph.PrScale).as("rank"))
      .localCheckpoint(true))
    for (i <- 1 to graft.operators.Graph.PrIters) {
      ranks = t(s"iter $i") {
        eo.join(bcast(ranks), col("src") === col("node"))
          .select(col("dst"), expr("rank div outdeg").as("contrib"))
          .groupBy("dst").agg(sum("contrib").as("inflow"))
          .select(col("dst").as("node"),
            expr("150000 + (85 * inflow) div 100").as("rank"))
          .localCheckpoint(true)
      }
    }
    t("topk")(ranks
      .select(when(col("node") % 2 === 0,
          concat(lit("c"), expr("node div 2")))
        .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
        .as("node"), col("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(graft.operators.Graph.PrTopK).collect())
    // end-to-end warm repeats — the number the bench sweep sees
    for (r <- 1 to 3)
      t(s"q36 full (warm $r)")(
        graft.operators.Graph.q36Pagerank(spark, sfDir).collect())
  }

  /** ---- d8 round-spelling A/B: composed smallStar∘largeStar round
    * (one eager lineage cut per round) vs additionally checkpointing
    * BETWEEN the stars (kills smallStar's triple re-execution of the
    * largeStar subtree, pays one more materialization barrier per
    * round). Separate sequential probe runs could not settle this —
    * chain_n500000 swung 36–118s across runs of the SAME binary on the
    * shared box — so the variants run INTERLEAVED in one JVM, several
    * pairs, and the verdict is the per-pair ordering, not absolute
    * seconds. Not in the default section set: it exists to justify the
    * production spelling, not to re-measure it every round. */
  private def probeD8AB(spark: SparkSession): Unit = {
    def chain(n: Long) = spark.range(1, n)
      .select((col("id") - 1).as("src"), col("id").as("dst"))
    def giant(n: Long) = spark.range(1, n)
      .select(expr("pmod(xxhash64(id), id)").as("src"), col("id").as("dst"))
    def run(edges: org.apache.spark.sql.DataFrame, split: Boolean): Double = {
      spark.catalog.clearCache(); System.gc()
      val t0 = System.nanoTime()
      val (comp, _) = graft.operators.Graph
        .connectedComponentsWithRounds(edges, maxIter = 40,
          splitRoundCheckpoints = split)
      comp.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // within-pair order alternates across reps: a systematic
    // first-runner effect (JIT/GC/page-cache drift inside a pair) would
    // otherwise bias the per-pair ordering this probe uses as its verdict
    def order(rep: Int): Seq[Boolean] =
      if (rep % 2 == 1) Seq(false, true) else Seq(true, false)
    run(chain(50000), split = false) // untimed warmup
    for (rep <- 1 to 3; split <- order(rep)) {
      val sec = run(chain(500000), split)
      println(f"""{"probe":"d8ab_chain_n500000","rep":$rep,"split":$split,"sec":$sec%.2f}""")
    }
    for (rep <- 1 to 2; split <- order(rep)) {
      val sec = run(giant(500000), split)
      println(f"""{"probe":"d8ab_giant_n500000","rep":$rep,"split":$split,"sec":$sec%.2f}""")
    }
  }
}
