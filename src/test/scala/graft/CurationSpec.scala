package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CatalogStats, Curation, Dedup, TextAnalysis}

class CurationSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  test("c2 keeps exactly one representative per small cluster: highest score, min-id ties") {
    val clusters = Dedup.d8DedupClusters(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val scores = TextAnalysis.t2QualityScore(s, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(4)).toMap
    // independent reference: group docs by cluster id, cap, argmax
    val byCluster = clusters.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    val expected = byCluster
      .filter(_._2.length <= Curation.MaxClusterSize)
      .map { case (cid, members) =>
        val best = members.minBy(id => (-scores(id), id))
        best -> (cid, members.length.toLong, scores(best))
      }
    val out = Curation.c2ClusterCuration(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out == expected)
    // the corpus must actually exercise both policies, or this test
    // proves nothing: some multi-member cluster kept, some cluster
    // dropped whole by the size cap
    assert(expected.exists(_._2._2 > 1), "no multi-member cluster kept")
    assert(byCluster.exists(_._2.length > Curation.MaxClusterSize),
      "no cluster large enough to be dropped by the cap")
    // a kept representative is NOT always the cluster minimum id —
    // otherwise c2 would be indistinguishable from the greedy keep-list
    val notMin = expected.exists { case (kept, (cid, sz, _)) =>
      sz > 1 && kept != byCluster(cid).min
    }
    assert(notMin, "every representative was the min id; argmax untested")
  }

  test("c3 keeps each source's top-quality docs and group-limits map-side") {
    import graft.operators.TextAnalysis
    val scores = TextAnalysis.t2QualityScore(s, dir)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val bySource = graft.Tables.documents(s, dir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2)
    val expected = bySource.toSeq.flatMap { case (src, docs) =>
      docs.map(_._1).sortBy(id => (-scores(id), id))
        .take(Curation.C3PerSourceCap)
        .zipWithIndex.map { case (id, i) => (id, src, i + 1) }
    }.toSet
    val df = Curation.c3SourceCap(s, dir)
    val got = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    assert(got == expected)
    // the cap binds: every source carries more docs than it may keep
    assert(bySource.forall(_._2.length > Curation.C3PerSourceCap))
    // scale shape: the window runs under a WindowGroupLimit, so each
    // map partition forwards at most cap rows per source
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("c4 equals the composition of its stages, and every stage bites") {
    import graft.operators.{Dedup, TextAnalysis}
    val scores = TextAnalysis.t2QualityScore(s, dir)
      .select("doc_id", "score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // c4's dedup stage is the CLUSTER-AWARE c2 policy (kept
    // representatives), not d6's greedy pair keep-list
    val keep = Curation.c2ClusterCuration(s, dir).collect()
      .map(_.getLong(0)).toSet
    val contaminated = Dedup.d9Decontaminate(s, dir).collect()
      .map(_.getLong(0)).toSet
    def bucket(id: Long): Int = TestSpark.sampleBucket(id)
    val docs = graft.Tables.documents(s, dir)
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val survivors = docs.filter { case (id, _) =>
      bucket(id) >= Dedup.D9BenchPct && scores(id) >= Curation.QualityMin &&
        keep.contains(id) && !contaminated.contains(id)
    }
    val expected = survivors.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.map(_._1).sortBy(id => (-scores(id), id))
        .take(Curation.C3PerSourceCap)
        .zipWithIndex.map { case (id, i) => (id, src, i + 1) }
    }.toSet
    val got = Curation.c4CurationFull(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(3))).toSet
    assert(got == expected)
    // every stage removes something FROM WHAT REACHES IT — a witness
    // that an earlier stage already dropped proves nothing about the
    // later filter, so each witness must survive all prior stages
    val ids = docs.map(_._1)
    assert(ids.exists(id => bucket(id) < Dedup.D9BenchPct),
      "bench-slice filter bites nothing")
    assert(ids.exists(id =>
      bucket(id) >= Dedup.D9BenchPct && scores(id) < Curation.QualityMin),
      "quality floor bites nothing after the bench filter")
    assert(ids.exists(id =>
      bucket(id) >= Dedup.D9BenchPct &&
        scores(id) >= Curation.QualityMin && !keep.contains(id)),
      "cluster dedup policy bites nothing after quality")
    assert(ids.exists(id =>
      bucket(id) >= Dedup.D9BenchPct &&
        scores(id) >= Curation.QualityMin && keep.contains(id) &&
        contaminated.contains(id)),
      "decontamination bites nothing after dedup")
    assert(survivors.groupBy(_._2)
      .exists(_._2.length > Curation.C3PerSourceCap),
      "source cap bites nothing after decontamination")
    assert(got.nonEmpty)
    // the swap from the greedy pair keep-list (d6) to the cluster
    // policy (c2) must be OBSERVABLE within c4's reach: some doc that
    // survives the earlier stages is kept by one policy and dropped by
    // the other (else the flagship's cluster stage is indistinguishable
    // from the pair-greedy stage it replaced)
    val d6keep = Dedup.d6DedupPipeline(s, dir).collect()
      .map(_.getLong(0)).toSet
    assert(ids.exists(id =>
      bucket(id) >= Dedup.D9BenchPct &&
        scores(id) >= Curation.QualityMin &&
        keep.contains(id) != d6keep.contains(id)),
      "cluster policy and greedy keep-list agree on every doc c4 sees")
  }

  test("confirmedPairs builds the screen/confirm chain once across d6/d8/c1/c2") {
    Artifacts.clear("dedup.confirmed")
    val before = Dedup.confirmedBuildCount.get()
    val d6 = Dedup.d6DedupPipeline(s, dir).collect()
    Dedup.d8DedupClusters(s, dir).collect()
    Curation.c1CurationPipeline(s, dir).collect()
    Curation.c2ClusterCuration(s, dir).collect()
    assert(Dedup.confirmedBuildCount.get() == before + 1,
      "screen/confirm chain executed more than once across the four consumers")
    // cached result must be indistinguishable from the uncached spelling
    val uncached = Dedup.dedupKeepList(s, dir,
      Dedup.d4Confirm(s, dir, Dedup.d2Minhash(s, dir))).collect()
    assert(d6.map(_.getLong(0)).sameElements(uncached.map(_.getLong(0))))
  }

  test("clusterMembership runs the contraction once across d8/c2") {
    Artifacts.clear("dedup.cluster")
    val before = Dedup.clusterBuildCount.get()
    val d8 = Dedup.d8DedupClusters(s, dir).collect()
    Curation.c2ClusterCuration(s, dir).collect()
    assert(Dedup.clusterBuildCount.get() == before + 1,
      "star contraction executed more than once across d8 and c2")
    // cached membership must be indistinguishable from the uncached
    // spelling (contraction straight over the confirmed edges)
    import org.apache.spark.sql.functions.{coalesce, col}
    val edges = Dedup.confirmedPairs(s, dir)
      .filter(col("jaccard") >= Dedup.KeepMinJaccard)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val comp = graft.operators.Graph.connectedComponents(edges)
      .select(col("id").as("doc_id"), col("component"))
    val uncached = graft.Tables.documents(s, dir).select("doc_id")
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id").collect()
    assert(d8.map(r => (r.getLong(0), r.getLong(1))).sameElements(
      uncached.map(r => (r.getLong(0), r.getLong(1)))))
  }

  test("c5 matches a per-language brute force; nested in baseFrac; cap exercised") {
    val docs = graft.Tables.documents(s, dir).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val counts = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val nMax = counts.values.max
    // SAME IEEE arithmetic as both engines: divide, sqrt, multiply,
    // floor — no hand-written thresholds
    def keepBuckets(n: Long, baseFrac: Double): Int =
      math.floor(math.min(1.0,
        baseFrac * math.sqrt(nMax.toDouble / n.toDouble))
        * Curation.C5Buckets).toInt
    def bucket10k(id: Long): Int =
      TestSpark.bucketMod(id, Curation.C5Buckets)
    val expected = docs.collect {
      case (id, lang) if bucket10k(id) < keepBuckets(counts(lang), Curation.C5BaseFrac) =>
        id -> ((lang, keepBuckets(counts(lang), Curation.C5BaseFrac)))
    }.toMap
    val got = Curation.c5MixtureSample(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(got == expected)
    // the corpus must exercise BOTH branches of the cap: the head
    // language below 1.0, at least one low-resource language capped
    // (keeping every doc it has)
    val threshs = counts.map { case (l, n) =>
      l -> keepBuckets(n, Curation.C5BaseFrac) }
    assert(threshs.values.exists(_ < Curation.C5Buckets), "no language uncapped")
    val capped = threshs.filter(_._2 == Curation.C5Buckets).keySet
    assert(capped.nonEmpty, "no language hit the 1.0 cap")
    capped.foreach { l =>
      assert(got.count(_._2._1 == l).toLong == counts(l),
        s"capped language $l did not keep every doc")
    }
    // upweighting really happened: every smaller language's kept RATE
    // strictly exceeds the head language's
    val headLang = counts.maxBy(_._2)._1
    val rate = counts.map { case (l, n) =>
      l -> got.count(_._2._1 == l).toDouble / n }
    assert(counts.keys.filter(_ != headLang).forall(l =>
      rate(l) > rate(headLang)), s"rates not upweighted: $rate")
    // nested: a smaller budget's sample is a subset of a larger one's
    val lo = Curation.c5Sample(s, dir, 0.4).collect().map(_.getLong(0)).toSet
    val hi = Curation.c5Sample(s, dir, 0.8).collect().map(_.getLong(0)).toSet
    assert(lo.subsetOf(hi) && lo.nonEmpty && lo.size < hi.size)
  }

  test("c9 DSIR selection matches a driver-side integer brute force") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def wordBucket(w: String): Int = {
      val d = md.digest(w.getBytes("UTF-8"))
      (d(0) & 0xff) % Curation.C9Buckets
    }
    val docs = graft.Tables.documents(s, dir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getString(2).split(" ").filter(_.nonEmpty).map(wordBucket)))
    val src = new Array[Long](Curation.C9Buckets)
    val tgt = new Array[Long](Curation.C9Buckets)
    docs.foreach { case (_, lang, bs) =>
      bs.foreach { b =>
        src(b) += 1
        if (lang == Curation.C9TargetLang) tgt(b) += 1
      }
    }
    val (sTot, tTot) = (src.sum, tgt.sum)
    val aff = Array.tabulate(Curation.C9Buckets) { b =>
      ((tgt(b) + 1) * (sTot + Curation.C9Buckets) * Curation.C9Scale) /
        ((src(b) + 1) * (tTot + Curation.C9Buckets))
    }
    val expect = docs.map { case (id, lang, bs) =>
      val w = bs.map(aff).sum
      val dl = bs.length.toLong
      val acc = math.min(Curation.C9Scale, w / (Curation.C9BaseDen * dl)).toInt
      val sel = if (TestSpark.bucketMod(id, 10000) < acc) 1 else 0
      (id, (lang, w / dl, acc, sel))
    }.toMap
    val got = Curation.c9DsirSelect(s, dir).collect()
      .map(r => (r.getLong(0),
        (r.getString(1), r.getLong(2), r.getInt(3), r.getInt(4)))).toMap
    assert(got == expect)
    assert(got.values.exists(_._4 == 1) && got.values.exists(_._4 == 0),
      "both selection outcomes should occur on this corpus")
  }

  test("c28 composite equals its three stages run separately; all four " +
    "screen combinations occur; the written tree is the intersection") {
    import org.apache.spark.sql.functions._
    val out = Curation.c28AdmitShard(s, dir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(3), r.getInt(4))))
      .toMap
    val shardPath = Curation.c28ShardPath(s, dir)
    val shard = s.read.parquet(shardPath)
    val sig = Artifacts.scoped(s, "spec.c28.sig")(
        Dedup.d11Admit(_, dir, shard.select("doc_id", "text")))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val sem = Artifacts.scoped(s, "spec.c28.sem")(
        graft.operators.Similarity.d12Admit(_, dir,
          shard.select(col("doc_id").as("vec_id"), col("embedding"))))
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out.keySet == sig.keySet && out.keySet == sem.keySet)
    out.foreach { case (id, (sg, sm, ix)) =>
      assert(sg == sig(id), s"doc $id: composite sig $sg vs stage ${sig(id)}")
      assert(sm == sem(id), s"doc $id: composite sem $sm vs stage ${sem(id)}")
      assert(ix == sg * sm, s"doc $id: indexed $ix != $sg*$sm")
    }
    // the plant must exercise every screen combination
    val combos = out.values.map(v => (v._1, v._2)).toSet
    assert(combos == Set((0, 0), (0, 1), (1, 0), (1, 1)),
      s"missing screen combinations: ${Set((0,0),(0,1),(1,0),(1,1)) -- combos}")
    // the physically written tree holds exactly the intersection
    val written = s.read.parquet(new org.apache.hadoop.fs.Path(shardPath)
        .getParent.toString + "/indexed")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(written == out.filter(_._2._3 == 1).keySet)
  }

  /** Build `a`, build `b`, re-read `a`: the operators share helpers, and
    * `b` must not free the checkpoints `a`'s unread result needs. */
  private def assertSurvives(a: String, b: String): Unit = {
    val first = SparkEntry.queries(a)(s, dir)
    val rows = first.collect().toSeq
    SparkEntry.queries(b)(s, dir).collect()
    Thread.sleep(500) // room for a wrongful asynchronous release
    assert(first.select("*").collect().toSeq == rows, s"$b changed $a's rows")
  }

  test("c30_curation_v2's result stays readable after c30_report") {
    assertSurvives("c30_curation_v2", "c30_report")
  }

  test("d11_dedup_incremental's result stays readable after c28_admit_shard") {
    assertSurvives("d11_dedup_incremental", "c28_admit_shard")
  }

  test("c25_curriculum's result stays readable after t17_ccnet_ppl") {
    assertSurvives("c25_curriculum", "t17_ccnet_ppl")
  }

  test("catalog stats from the c26 scan flip a join from sort-merge to " +
    "broadcast under CBO") {
    import org.apache.spark.sql.functions._
    val c = s.newSession()
    c.conf.set("spark.sql.cbo.enabled", "true")
    // isolate the STATIC planner decision: AQE could rescue the plan
    // only AFTER materializing the first shuffle — catalog stats make
    // the starting plan right, which is the point being asserted
    c.conf.set("spark.sql.adaptive.enabled", "false")
    CatalogStats.stage(c, "g13_orders", Tables.orders(c, dir))
    CatalogStats.stage(c, "g13_lineitem", Tables.lineitem(c, dir))
    try {
      val fileBytes =
        c.table("g13_orders").queryExecution.optimizedPlan.stats.sizeInBytes
      c.conf.set("spark.sql.autoBroadcastJoinThreshold",
        (fileBytes / 2).toString)
      val loKey = Tables.orders(c, dir)
        .agg(min("o_custkey")).collect()(0).getLong(0)
      def q = c.table("g13_lineitem").join(
        c.table("g13_orders").filter(col("o_custkey") <= loKey),
        col("l_orderkey") === col("o_orderkey"))
      val before = q.queryExecution.executedPlan.toString
      assert(before.contains("SortMergeJoin"),
        s"without stats the filtered side must look file-sized:\n$before")
      CatalogStats.analyze(c, "g13_orders",
        Seq("o_custkey", "o_totalprice"))
      CatalogStats.analyze(c, "g13_lineitem", Seq("l_quantity"))
      val after = q.queryExecution.executedPlan.toString
      assert(after.contains("BroadcastHashJoin") &&
        !after.contains("SortMergeJoin"),
        s"CBO + column stats must see the filter shrink orders:\n$after")
    } finally {
      c.sql("DROP TABLE IF EXISTS g13_orders")
      c.sql("DROP TABLE IF EXISTS g13_lineitem")
    }
  }

  test("analyze rejects histogram columns whose domain cannot ride " +
    "double, and measures string lengths in CHARACTERS") {
    import org.apache.spark.sql.functions._
    val c = s.newSession()
    val sess = c
    import sess.implicits._
    CatalogStats.stage(c, "g15_guard",
      Seq((1L, 1L << 54, "héllo", "12345678901234567.89"))
        .toDF("k", "big", "str", "dec")
        .withColumn("dec", col("dec").cast("decimal(20,2)")))
    try {
      // scalar stats stay exact for any BIGINT — only the
      // double-bucketed histogram must refuse a >2^53 domain
      val st = CatalogStats.analyze(c, "g15_guard", Seq("big", "str"))
      assert(st.colStats("big").max.contains((1L << 54).toString))
      // string lengths are CHARACTER counts (upstream ANALYZE
      // semantics): "héllo" is 5 chars / 6 UTF-8 bytes
      assert(st.colStats("str").maxLen.contains(5L) &&
        st.colStats("str").avgLen.contains(5L))
      val e1 = intercept[IllegalArgumentException] {
        CatalogStats.analyze(c, "g15_guard", Seq("big"),
          histCols = Set("big"))
      }
      assert(e1.getMessage.contains("2^53"))
      val e2 = intercept[IllegalArgumentException] {
        CatalogStats.analyze(c, "g15_guard", Seq("dec"),
          histCols = Set("dec"))
      }
      assert(e2.getMessage.contains("precision"))
    } finally c.sql("DROP TABLE IF EXISTS g15_guard")
  }

  test("the c27 equi-height histogram corrects a skewed-column estimate " +
    "scalar stats get wrong, flipping the plan") {
    import org.apache.spark.sql.functions._
    val c = s.newSession()
    c.conf.set("spark.sql.cbo.enabled", "true")
    c.conf.set("spark.sql.adaptive.enabled", "false")
    val sess = c
    import sess.implicits._
    // 99% of values are 1; the 1% tail spreads to 1000. Uniform
    // min/max interpolation estimates v > 500 at ~50% of rows; the
    // equi-height histogram sees seven bins pinned at 1.
    val rows = (0 until 9900).map(i => (i.toLong, 1L)) ++
      (0 until 100).map(i => (9900L + i, (i * 10 + 1).toLong))
    CatalogStats.stage(c, "g13_skew", rows.toDF("k", "v"))
    CatalogStats.stage(c, "g13_probe",
      (0L until 20000L).toDF("k").withColumn("pad", lit("x")))
    // .stats is computed lazily on THIS thread — it must read the CBO
    // session's conf, not the default test session's
    org.apache.spark.sql.SparkSession.setActiveSession(c)
    try {
      def q = c.table("g13_probe").join(
        c.table("g13_skew").filter(col("v") > 500), "k")
      def estBytes: BigInt = q.queryExecution.optimizedPlan.stats.sizeInBytes
      CatalogStats.analyze(c, "g13_probe", Seq("k"))
      CatalogStats.analyze(c, "g13_skew", Seq("k", "v"))
      val scalarEst = estBytes
      CatalogStats.analyze(c, "g13_skew", Seq("k", "v"),
        histCols = Set("v"))
      val histEst = estBytes
      assert(histEst * 2 < scalarEst,
        s"histogram must cut the skewed-range estimate: $histEst " +
          s"vs $scalarEst")
      // pick the threshold BETWEEN the two estimates: the same query
      // broadcasts exactly iff the histogram is present
      c.conf.set("spark.sql.autoBroadcastJoinThreshold",
        ((histEst + scalarEst) / 2).toString)
      val withHist = q.queryExecution.executedPlan.toString
      assert(withHist.contains("BroadcastHashJoin"),
        s"histogram estimate must clear the threshold:\n$withHist")
      CatalogStats.analyze(c, "g13_skew", Seq("k", "v")) // drop histogram
      val scalarOnly = q.queryExecution.executedPlan.toString
      assert(scalarOnly.contains("SortMergeJoin"),
        s"scalar-only estimate must overshoot the threshold:\n$scalarOnly")
    } finally {
      c.sql("DROP TABLE IF EXISTS g13_skew")
      c.sql("DROP TABLE IF EXISTS g13_probe")
      org.apache.spark.sql.SparkSession.setActiveSession(s)
    }
  }

  test("histogramFor on a near-unique column runs the two-phase " +
    "cumulative — no task receives the whole distinct-value histogram") {
    val c = s.newSession()
    c.conf.set("spark.sql.shuffle.partitions", "16")
    // AQE would coalesce this spec's ~2 MB shuffle into one partition
    // (fine at scale, where partitions are real-sized); turn it off so
    // task shuffle-read counts measure the WINDOW shape, not coalescing
    c.conf.set("spark.sql.adaptive.enabled", "false")
    val sess = c
    import sess.implicits._
    // 120k DISTINCT values, one row each — the id/timestamp shape that
    // serialized the retired Window.orderBy(u) spelling into one task
    val nDistinct = 120000
    CatalogStats.stage(c, "g14_hist",
      (0 until nDistinct).map(i => (i.toLong, i.toLong)).toDF("k", "v"))
    val maxTaskShuffleRecords = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          val r = m.shuffleReadMetrics.recordsRead
          var cur = maxTaskShuffleRecords.get()
          while (r > cur && !maxTaskShuffleRecords.compareAndSet(cur, r)) {
            cur = maxTaskShuffleRecords.get()
          }
        }
      }
    }
    c.sparkContext.addSparkListener(listener)
    try {
      val stats = CatalogStats.analyze(c, "g14_hist", Seq("v"),
        histCols = Set("v"))
      org.apache.spark.graftbridge.GraftScheduler
        .drainListenerBus(c.sparkContext)
      // the serial shape would put all 120k distinct values in ONE
      // window task; two-phase caps any task at ~ndv/shufflePartitions
      val worst = maxTaskShuffleRecords.get()
      assert(worst < nDistinct / 4,
        s"a task read $worst shuffle records — the whole histogram " +
          "landed in one task (serial window shape)")
      // and the fences are the exact nearest-rank answer: with u = 0..n-1
      // once each, ub_i = smallest u with (u+1)*8 >= i*n
      val h = stats.colStats("v").histogram.get
      val b = Curation.C27Buckets
      assert(h.bins.length == b)
      (1 to b).foreach { i =>
        val expect = math.ceil(i.toDouble * nDistinct / b).toLong - 1
        assert(h.bins(i - 1).hi == expect.toDouble,
          s"fence $i: ${h.bins(i - 1).hi} != $expect")
      }
      assert(h.bins.map(_.ndv).sum == nDistinct.toLong)
      assert(h.height == nDistinct.toDouble / b)
    } finally {
      c.sparkContext.removeSparkListener(listener)
      c.sql("DROP TABLE IF EXISTS g14_hist")
    }
  }

  test("analyze writes type-correct external min/max for date, " +
    "timestamp, decimal, and string columns, readable by the planner") {
    val c = s.newSession()
    c.conf.set("spark.sql.cbo.enabled", "true")
    val df = c.sql(
      """SELECT * FROM VALUES
        (DATE'2021-03-04', TIMESTAMP'2021-03-04 05:06:07.123456',
         CAST(1.25 AS DECIMAL(12,2)), 'alpha'),
        (DATE'2023-11-30', TIMESTAMP'2024-01-02 03:04:05.987654',
         CAST(987654321.99 AS DECIMAL(12,2)), 'omega_long'),
        (NULL, NULL, NULL, NULL)
        AS t(d, ts, dec, st)""")
    CatalogStats.stage(c, "g14_typed", df)
    org.apache.spark.sql.SparkSession.setActiveSession(c)
    try {
      // expected catalyst-internal bounds, computed from the staged
      // table itself so the session timezone cannot skew the check
      import org.apache.spark.sql.functions.{col, datediff, max, min,
        to_date, lit, unix_micros}
      val exp = c.table("g14_typed").agg(
        min(datediff(col("d"), to_date(lit("1970-01-01")))).as("dmn"),
        max(datediff(col("d"), to_date(lit("1970-01-01")))).as("dmx"),
        min(unix_micros(col("ts"))).as("tmn"),
        max(unix_micros(col("ts"))).as("tmx")).collect()(0)
      CatalogStats.analyze(c, "g14_typed", Seq("d", "ts", "dec", "st"))
      // .stats parses the external strings back — a wrong format would
      // throw here or carry a wrong value into every later plan
      val stats = c.table("g14_typed").queryExecution.optimizedPlan.stats
      val byName = stats.attributeStats.map { case (a, cs) => a.name -> cs }
      assert(byName("d").min.get == exp.getAs[Int]("dmn"))
      assert(byName("d").max.get == exp.getAs[Int]("dmx"))
      assert(byName("ts").min.get == exp.getAs[Long]("tmn"))
      assert(byName("ts").max.get == exp.getAs[Long]("tmx"))
      val dmn = byName("dec").min.get
        .asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal
      val dmx = byName("dec").max.get
        .asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal
      assert(dmn == BigDecimal("1.25") && dmx == BigDecimal("987654321.99"))
      // strings carry lengths, never bounds (Spark's own ANALYZE rule)
      assert(byName("st").min.isEmpty && byName("st").max.isEmpty)
      assert(byName("st").maxLen.contains("omega_long".length.toLong))
      assert(byName("st").nullCount.contains(BigInt(1)))
      // complex types are rejected loudly, not written wrong
      CatalogStats.stage(c, "g14_arr",
        c.sql("SELECT array(1, 2) AS a, 1 AS k"))
      val err = intercept[IllegalArgumentException] {
        CatalogStats.analyze(c, "g14_arr", Seq("a"))
      }
      assert(err.getMessage.contains("unsupported type"))
    } finally {
      c.sql("DROP TABLE IF EXISTS g14_typed")
      c.sql("DROP TABLE IF EXISTS g14_arr")
      org.apache.spark.sql.SparkSession.setActiveSession(s)
    }
  }

  test("c9 affinity is exact past the Long wrap and fails loudly past " +
    "BIGINT ratio range") {
    val sess = s
    import sess.implicits._
    // counts sized so s_tot = 9e14 sits just UNDER the provable range
    // guard (Long.Max/10⁴ ≈ 9.22e14) while the product
    // (tgt+1)·(s_tot+64)·10⁴ ≈ 9·10²⁷ is 10⁹× past Long.MaxValue. The
    // retired BIGINT spelling wrapped here silently while the DuckDB
    // oracle promoted to HUGEINT; DECIMAL(38,0) must reproduce the
    // exact BigInt value.
    val src = 450000000000000L // 4.5e14 per bucket
    val tgt = 1000000000L      // 1e9 per bucket
    val buckets = Seq((0, src, tgt), (1, src, tgt))
      .toDF("b", "src_c", "tgt_c")
    val got = Curation.c9Affinity(buckets).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val (sTot, tTot) = (BigInt(src) * 2, BigInt(tgt) * 2)
    val product =
      (BigInt(tgt) + 1) * (sTot + Curation.C9Buckets) * Curation.C9Scale
    assert(product > BigInt(Long.MaxValue),
      "plant must actually exceed Long, or the test is vacuous")
    val expect =
      (product / ((BigInt(src) + 1) * (tTot + Curation.C9Buckets))).toLong
    assert(got == Map(0 -> expect, 1 -> expect))
    // a ratio past BIGINT itself (all source mass in one bucket, all
    // target mass in the other) must abort loudly — never NULL scores
    val bad = Seq((0, 0L, 1000000000000000L),
      (1, 4000000000000000000L, 0L)).toDF("b", "src_c", "tgt_c")
    val e = intercept[Throwable] {
      Curation.c9Affinity(bad).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("BIGINT")),
      s"wanted the loud range-guard assert, got: ${messages(e).take(3)}")
  }

  test("c9 importance is monotone in target-likeness (planted corpus)") {
    // target (en) docs are pure 'alpha'; probe docs mix alpha/beta —
    // score_10k must rise strictly with their alpha share
    import s.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft-c9").toString
    val en = (0 until 10).map(i =>
      (100L + i, Array.fill(20)("alpha").mkString(" "), "en"))
    val probes = (0 until 20).map { j =>
      (200L + j,
        (Array.fill(j)("alpha") ++ Array.fill(20 - j)("beta")).mkString(" "),
        "xx")
    }
    (en ++ probes).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val scores = Curation.c9DsirSelect(s, out).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val probeScores = (0 until 20).map(j => scores(200L + j))
    probeScores.sliding(2).foreach { case Seq(a, b) =>
      assert(a < b, s"not strictly monotone: $probeScores")
    }
    assert(en.forall(e => scores(e._1) >= probeScores.last),
      "pure-target docs must score at least any mixed doc")
    assert(probeScores.head < Curation.C9Scale &&
      probeScores.last > Curation.C9Scale,
      "probe range should straddle the neutral 1.0 affinity")
  }

  test("c7 dataset card matches a driver-side brute force") {
    import graft.operators.TextAnalysis
    val docs = graft.Tables.documents(s, dir)
      .select("doc_id", "source", "lang", "n_chars", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getString(4)))
    val scores = TextAnalysis.t2QualityScore(s, dir).select("doc_id", "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    def md5hex(t: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    def norm(t: String): String = t.replaceAll("\\s+", " ").trim.toLowerCase
    val expected = docs.groupBy(_._2).map { case (src, ds) =>
      src -> ((ds.length.toLong,
        ds.map(d => md5hex(norm(d._5))).distinct.length.toLong,
        ds.map(_._3).distinct.length.toLong,
        ds.map(_._4).sum,
        ds.map(_._5.split(" ", -1).count(_.nonEmpty).toLong).sum,
        ds.count(d => scores(d._1) < Curation.QualityMin).toLong))
    }
    val got = Curation.c7DatasetCard(s, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(got == expected)
    // the card must actually discriminate on this corpus: multiple
    // languages per source, and the low-quality share is non-trivial
    // somewhere without being everything everywhere
    assert(got.values.exists(_._3 > 1), "no source with >1 language")
    assert(got.values.exists(_._6 > 0), "no low-quality docs anywhere")
    assert(got.values.forall(v => v._6 < v._1), "a source entirely low-quality")
  }

  test("c6 packing matches a per-shard sequential fill; budget closes sequences") {
    val B = Curation.C6PackBudget
    val K = Curation.C6PackShards
    val docs = graft.Tables.documents(s, dir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    def ntok(t: String): Int = t.split(" ").count(_.nonEmpty)
    // independent spelling: a literal sequential scan per shard
    // accumulating tokens — the definition of contiguous-fill packing
    val expected = docs.groupBy(_._1 % K).toSeq.flatMap { case (shard, ds) =>
      var cum = 0L
      ds.sortBy(_._1).toSeq.map { case (id, t) =>
        val n = ntok(t)
        val seq = (cum / B).toInt
        cum += n
        (id, shard.toInt, n, seq)
      }
    }.toSet
    val got = Curation.c6PackSequences(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == expected)
    // seq ids are non-decreasing along each shard's doc order, and the
    // parameters actually exercise the close path (some seq_id > 0)
    got.groupBy(_._2).foreach { case (shard, rows) =>
      val seqs = rows.toSeq.sortBy(_._1).map(_._4)
      assert(seqs == seqs.sorted, s"shard $shard seq ids regress")
    }
    assert(got.exists(_._4 > 0), "budget never closed a sequence")
    // docs of one sequence are contiguous: no doc of another sequence
    // interleaves a (shard, seq) id range
    got.groupBy(r => (r._2, r._4)).foreach { case ((shard, seq), rows) =>
      val ids = rows.map(_._1)
      val others = got.filter(r => r._2 == shard && r._4 != seq
        && r._1 > ids.min && r._1 < ids.max)
      assert(others.isEmpty, s"shard $shard seq $seq not contiguous")
    }
  }

  test("packSequences composes after t9: chunks pack under the same fill rule") {
    import org.apache.spark.sql.functions._
    val B = 64
    val chunks = TextAnalysis.t9DocChunks(s, dir)
      .select(
        (col("doc_id") * 1000 + col("chunk_idx")).as("chunk_uid"),
        expr("size(filter(split(chunk, ' '), t -> t <> ''))").as("n_tok"),
        (col("doc_id") % 4).cast("int").as("shard"))
    val packed = Curation.packSequences(chunks, "chunk_uid", "n_tok", "shard", B)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    // independent sequential fill per shard over the same chunk stream —
    // the definition the generic operator must reproduce
    packed.groupBy(_._3).foreach { case (shard, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (_, n, _, seq) =>
        assert(seq == (cum / B).toInt, s"shard $shard fill-rule mismatch")
        cum += n
      }
    }
    assert(packed.exists(_._4 > 0), "chunk packing never closed a sequence")
  }

  test("confirmedPairs cache invalidates when the corpus fingerprint changes") {
    Artifacts.clear("dedup.confirmed")
    val before = Dedup.confirmedBuildCount.get()
    Dedup.confirmedPairs(s, dir).count()
    Dedup.confirmedPairs(s, dir).count()
    assert(Dedup.confirmedBuildCount.get() == before + 1)
    // a different corpus dir is a different fingerprint -> fresh build
    Dedup.confirmedPairs(s, "/root/testdata/sf0.01").count()
    assert(Dedup.confirmedBuildCount.get() == before + 2)
  }

  test("c8 split is cluster-coherent, total, and roughly 80/10/10") {
    val rows = Curation.c8SplitLeakfree(s, dir).collect()
    val nDocs = Tables.documents(s, dir).count()
    assert(rows.length == nDocs, "split must cover every document")
    // leakage-freedom: every cluster lives entirely in one split
    rows.groupBy(_.getLong(1)).foreach { case (cid, members) =>
      assert(members.map(_.getString(3)).distinct.length == 1,
        s"cluster $cid straddles splits")
    }
    // no confirmed near-dup pair straddles the fence either (the
    // property the operator exists for, asserted on the raw pairs)
    val split = rows.map(r => r.getLong(0) -> r.getString(3)).toMap
    val pairs = Dedup.confirmedPairs(s, dir)
      .filter(org.apache.spark.sql.functions.col("jaccard")
        >= Dedup.KeepMinJaccard)
      .select("doc_a", "doc_b").collect()
    assert(pairs.nonEmpty, "corpus has no confirmed pairs to protect")
    pairs.foreach { p =>
      assert(split(p.getLong(0)) == split(p.getLong(1)),
        s"near-dup pair ${p.getLong(0)}/${p.getLong(1)} straddles splits")
    }
    // all three splits populated, train the large one (wide tolerance)
    val byName = rows.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    assert(Set("train", "val", "test").subsetOf(byName.keySet), s"$byName")
    assert(byName("train") > byName("val") && byName("train") > byName("test"))
    assert(byName("train") * 10 > rows.length * 6, s"train share low: $byName")
  }

  test("c12 snapshot diff matches a driver replay; all four statuses present") {
    val docs = Tables.documents(s, dir).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val maxId = docs.keys.max
    // replay the staged derivation: drop %97, change %83, add %101
    val v2 = docs.collect {
      case (id, t) if id % Curation.C12DropMod != 0 =>
        id -> (if (id % Curation.C12ChangeMod == 0) t + " [rev2]" else t)
    } ++ docs.collect {
      case (id, t) if id % Curation.C12AddMod == 0 => (id + maxId + 1) -> t
    }
    val expected = (docs.keySet ++ v2.keySet).toSeq.sorted.map { id =>
      val st = (docs.get(id), v2.get(id)) match {
        case (None, _) => "added"
        case (_, None) => "removed"
        case (Some(a), Some(b)) => if (a != b) "changed" else "unchanged"
      }
      (id, st)
    }
    val got = Curation.c12SnapshotDiff(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == expected, "snapshot diff != driver replay")
    assert(got.map(_._2).toSet == Set("added", "removed", "changed", "unchanged"),
      "derivation must exercise every diff status")
    // staging is write-once per corpus generation: a second call reads
    // the same committed parquet (no rewrite) and agrees
    val p = new org.apache.hadoop.fs.Path(
      Curation.c12SnapshotPath(s, dir), Artifacts.Marker)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val stamp = fs.getFileStatus(p).getModificationTime
    val again = Curation.c12SnapshotDiff(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(again == expected)
    assert(fs.getFileStatus(p).getModificationTime == stamp,
      "second diff call re-staged the snapshot")
  }

  test("c13 applies the diff to exactly the staged v2; re-apply no-ops") {
    import org.apache.spark.sql.functions._
    def collectPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val applied = collectPairs(Curation.c13ApplyDiff(s, dir))
    val v2 = collectPairs(
      s.read.parquet(Curation.c12SnapshotPath(s, dir))
        .select(col("doc_id"), md5(col("text")).as("h")).orderBy("doc_id"))
    assert(applied == v2, "merged table must equal the staged v2 snapshot")
    // idempotent: applying the same changeset to the already-merged
    // table anti-joins the same keys and re-inserts the same values
    val again = collectPairs(Curation.c13ApplyDiff(s, dir))
    assert(again == v2, "re-applying the changeset changed the table")
  }

  test("c20 maintained MV equals a full v2 recompute; re-run idempotent") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = rows(Curation.c20IncrementalMv(s, dir))
    val want = rows(
      s.read.parquet(Curation.c12SnapshotPath(s, dir))
        .groupBy(pmod(col("doc_id"), lit(Curation.C20Groups.toLong)).as("g"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(length(col("text")), lit(0)).cast("long"))
            .as("sum_chars"))
        .orderBy("g"))
    assert(got == want, "delta maintenance must equal the full recompute")
    assert(rows(Curation.c20IncrementalMv(s, dir)) == want,
      "re-applying the same changeset must be idempotent")
  }

  test("c20 delete branch: an emptied group leaves the MV; untouched " +
      "MV partitions keep their files across maintenance runs") {
    import org.apache.spark.sql.functions._
    // planted corpus: doc 97 is the ONLY member of its MV group and is
    // removed by the changeset (97 % C12DropMod == 0) → group must be
    // DELETED from the maintained MV, not kept at zero. 83 is changed,
    // 101 spawns an added row — all three statuses present.
    val tmp = java.nio.file.Files.createTempDirectory("c20plant").toString
    import s.implicits._
    Seq((1L, "aa"), (2L, "bbb"), (83L, "cccc"), (97L, "ddddd"),
      (101L, "eeeeee"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$tmp/documents.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = rows(Curation.c20IncrementalMv(s, tmp))
    val want = rows(
      s.read.parquet(Curation.c12SnapshotPath(s, tmp))
        .groupBy(pmod(col("doc_id"), lit(Curation.C20Groups.toLong)).as("g"))
        .agg(count(lit(1)).as("n_docs"),
          sum(coalesce(length(col("text")), lit(0)).cast("long"))
            .as("sum_chars"))
        .orderBy("g"))
    assert(got == want, "planted maintenance must equal the recompute")
    val g97 = 97L % Curation.C20Groups
    assert(!got.exists(_._1 == g97),
      s"group $g97 was emptied by the changeset and must be deleted")
    // the MV partition holding only untouched group 2 must keep its
    // files across a re-run (maintenance rewrites touched dirs only)
    val live = "graft_mv_live_" + Tables.fingerprint(s, tmp, "documents")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), live)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    val quietPg = 2L % Curation.C20Parts
    def files() =
      fs.listStatus(new org.apache.hadoop.fs.Path(loc, s"pg=$quietPg"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => f.getPath.toString -> f.getModificationTime).toMap
    val before = files()
    assert(rows(Curation.c20IncrementalMv(s, tmp)) == want, "idempotent")
    assert(files() == before,
      "untouched MV partition must not be rewritten by a re-run")
  }

  test("c15 erases exactly the forget list; untouched partitions are " +
      "never rewritten; re-run touches no file") {
    import org.apache.spark.sql.functions._
    // gate corpus: audit equals source minus the forget list, and no
    // forgotten user survives in the live table
    val got = Curation.c15ForgetKeys(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = Tables.events(s, dir)
      .filter(col("user_id") % Curation.C15ForgetMod =!= 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), countDistinct("user_id").as("u"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want, "post-erasure audit equals source minus list")
    // planted 3-partition table: the forget key lives in ONE partition
    // — the other two must keep their original files on first apply
    val t = "graft_c15_planted"
    if (s.catalog.tableExists(t)) s.sql(s"DROP TABLE $t")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), t)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(loc, true)
    import s.implicits._
    val rows = Seq((1L, "a"), (2L, "a"), (13L, "b"), (3L, "b"), (4L, "c"))
    graft.sources.Sources.writePartitioned(
      rows.toDF("user_id", "dt"), t, "dt")
    def files(pt: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(loc, s"dt=$pt"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => f.getPath.toString -> f.getModificationTime).toMap
    val (fa0, fc0) = (files("a"), files("c"))
    val del = s.table(t).filter(col("user_id") % 13 === 0)
      .select("user_id", "dt").distinct()
    graft.sources.Sources.mergeIntoPartitioned(
      s, t, "dt", "user_id", s.table(t).limit(0), del)
    assert(files("a") == fa0 && files("c") == fc0,
      "partitions without forget keys must keep their original files")
    assert(s.table(t).collect().map(r => r.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L, 3L, 4L), "only user 13 erased")
    // second apply: footprint is empty → zero writes anywhere
    val fb1 = files("b")
    val del2 = s.table(t).filter(col("user_id") % 13 === 0)
      .select("user_id", "dt").distinct()
    graft.sources.Sources.mergeIntoPartitioned(
      s, t, "dt", "user_id", s.table(t).limit(0), del2)
    assert(files("a") == fa0 && files("b") == fb1 && files("c") == fc0,
      "re-run must be a structural no-op")
  }

  test("c16 compaction collapses fragmented dirs to one file, preserves " +
      "content exactly, skips compact dirs, and no-ops on re-run") {
    import org.apache.spark.sql.functions._
    // planted: partition 'a' fragmented (4 files), 'b' already compact
    val t = "graft_c16_planted"
    if (s.catalog.tableExists(t)) s.sql(s"DROP TABLE $t")
    val loc = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"), t)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(loc, true)
    import s.implicits._
    (1L to 40L).map(i => (i, "a")).toDF("id", "dt")
      .repartition(4)
      .write.partitionBy("dt").format("parquet").saveAsTable(t)
    Seq((100L, "b")).toDF("id", "dt")
      .repartition(1)
      .write.mode("append").format("parquet").insertInto(t)
    def files(pt: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(loc, s"dt=$pt"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => f.getPath.toString -> f.getModificationTime).toMap
    assert(files("a").size == 4, "planted fragmentation")
    assert(files("b").size == 1)
    val before = s.table(t).collect().map(_.getLong(0)).sorted.toSeq
    val fb0 = files("b")
    val n = graft.sources.Sources.compactPartitions(s, t, "dt")
    assert(n == 1, s"exactly the fragmented dir rewritten, got $n")
    assert(files("a").size == 1, "fragmented dir collapsed to one file")
    assert(files("b") == fb0, "compact dir untouched (same files, mtimes)")
    assert(s.table(t).collect().map(_.getLong(0)).sorted.toSeq == before,
      "compaction must preserve content exactly")
    // re-run: nothing fragmented → zero rewrites, zero file changes
    val fa1 = files("a")
    assert(graft.sources.Sources.compactPartitions(s, t, "dt") == 0)
    assert(files("a") == fa1 && files("b") == fb0, "no-op re-run")
    // gate staging really fragments: > 1 file per dir before compaction
    val gate = Curation.c16CompactShards(s, dir).collect()
    assert(gate.nonEmpty)
  }

  test("c17 SCD2 history: changed keys carry closed+open versions, " +
      "point-in-time reads resolve, re-apply is idempotent") {
    import org.apache.spark.sql.functions._
    val hist = Curation.c17Scd2(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getBoolean(5)))
    val src = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100.0 + 0.5).as("cents"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val mx = src.keys.max
    val byKey = hist.groupBy(_._1)
    src.foreach { case (k, (seg, cents)) =>
      val versions = byKey(k).sortBy(_._4)
      if (k % Curation.C17ChangeMod == 0) {
        // closed original + open changed version
        assert(versions.map(v => (v._3, v._4, v._5, v._6)).toSeq == Seq(
          (cents, Curation.C17Date0, Curation.C17Date1, false),
          (cents + Curation.C17DeltaCents, Curation.C17Date1,
            Curation.C17HighDate, true)), s"changed key $k")
      } else {
        assert(versions.map(v => (v._3, v._4, v._5, v._6)).toSeq ==
          Seq((cents, Curation.C17Date0, Curation.C17HighDate, true)),
          s"unchanged key $k")
      }
      assert(versions.forall(_._2 == seg))
      // late arrival re-keyed past the original key space
      if (k % Curation.C17NewMod == 0) {
        val nk = byKey(k + mx + 1)
        assert(nk.map(v => (v._2, v._3, v._4, v._6)).toSeq ==
          Seq((seg, cents, Curation.C17Date1, true)), s"new key from $k")
      }
    }
    assert(byKey.size == src.size + src.keys.count(_ % Curation.C17NewMod == 0),
      "history key set = originals + late arrivals")
    // point-in-time: as-of a date between the batches every ORIGINAL key
    // resolves to exactly one version holding the original balance
    val asOf0 = hist.filter(v => v._4 <= "2024-03-01" && "2024-03-01" < v._5)
    assert(asOf0.length == src.size)
    assert(asOf0.forall(v => v._3 == src(v._1)._2))
    // re-apply: the changeset is absolute, so the history is unchanged
    val again = Curation.c17Scd2(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getBoolean(5)))
    assert(again.toSeq == hist.toSeq, "re-applying the batch changed history")
  }

  test("c18 expectations: counts match independent recomputes and both " +
      "verdicts are exercised") {
    import org.apache.spark.sql.functions._
    val audit = Curation.c18Expectations(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(audit.size == 9)
    // independent recomputes of one failing and one passing constraint
    val custN = graft.Tables.customer(s, dir).count()
    val negBal = graft.Tables.customer(s, dir)
      .filter(col("c_acctbal") < 0).count()
    assert(audit(("customer", "acctbal_nonneg")) == ((custN, negBal, negBal == 0L)))
    val liN = graft.Tables.lineitem(s, dir).count()
    assert(audit(("lineitem", "qty_in_range")) == ((liN, 0L, true)))
    val early = graft.Tables.lineitem(s, dir)
      .join(graft.Tables.orders(s, dir),
        col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") < col("o_orderdate")).count()
    assert(audit(("lineitem_x_orders", "ship_on_or_after_order")) ==
      ((liN, early, early == 0L)))
    // the data must exercise BOTH verdicts or `pass` carries no signal
    assert(audit.values.exists(_._3), "no passing constraint")
    assert(audit.values.exists(!_._3), "no failing constraint")
    assert(negBal > 0 && early > 0,
      "expected planted violations in the synthetic data")
    // every pass flag is consistent with its violation count
    assert(audit.values.forall(v => v._3 == (v._2 == 0L)))
    // fusion: customer's three constraints share ONE scan (plus the RI
    // build side = 2 total); per-constraint scans would show 4
    import org.apache.spark.sql.execution.FileSourceScanExec
    val custScans = TestSpark.flattenPlan(
      Curation.c18Expectations(s, dir).queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .count(_.relation.location.rootPaths.exists(
        _.toString.contains("customer.parquet")))
    assert(custScans == 2,
      s"constraint fusion lost: $custScans customer scans, expected 2")
  }

  test("c21 point-in-time lookup matches a driver replay, resolves every " +
      "order exactly once, hits both versions, and plans as an equi-join") {
    import org.apache.spark.sql.functions._
    val out = Curation.c21PitLookup(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // driver replay: derive the history + lookup dates independently
    val cust = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100.0 + 0.5).cast("long").as("cents"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    val orders = graft.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val epoch = java.time.LocalDate.parse(Curation.C17Date0)
    val resolved = orders.map { case (ok, ck) =>
      val d = epoch.plusDays(ok % 365).toString
      val (seg, cents) = cust(ck)
      val changed = ck % Curation.C17ChangeMod == 0
      // the version valid at d: changed keys flip at C17Date1
      val (from, bal) =
        if (changed && d >= Curation.C17Date1)
          (Curation.C17Date1, cents + Curation.C17DeltaCents)
        else (Curation.C17Date0, cents)
      (seg, from, bal, ck)
    }
    assert(resolved.length == orders.length,
      "every order resolves to exactly one version")
    val expected = resolved.groupBy(t => (t._1, t._2)).map { case (k, g) =>
      k -> ((g.length.toLong, g.map(_._3).sum, g.map(_._4).sum))
    }
    assert(out == expected)
    // the corpus exercises BOTH versions of changed members
    assert(out.keys.exists(_._2 == Curation.C17Date0) &&
      out.keys.exists(_._2 == Curation.C17Date1),
      "both validity periods must take hits")
    // scale guard: the validity interval must be a residual on an
    // EQUI-join (a range-only join degenerates to nested-loop)
    val plan = Curation.c21PitLookup(s, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "point-in-time join must key on the business key")
  }

  test("c22 per-source quantile cut matches a driver nearest-rank " +
      "replay; every source keeps >= ceil(n/4); ties kept whole") {
    import org.apache.spark.sql.functions._
    val out = Curation.c22QuantileFilter(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // independent reference: integer micro-unit scores from the gated
    // t2 frame, per-source sort, k-th largest as threshold
    val scored = graft.Tables.documents(s, dir).select("doc_id", "source")
      .join(TextAnalysis.t2QualityScore(s, dir).select("doc_id", "score"),
        "doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        math.floor(r.getDouble(2) * 1000000.0 + 0.5).toLong))
    val expected = scored.groupBy(_._2).flatMap { case (src, rows) =>
      val k = (rows.length + Curation.C22KeepDen - 1) / Curation.C22KeepDen
      val thr = rows.map(_._3).sorted(Ordering[Long].reverse).apply(k - 1)
      rows.filter(_._3 >= thr).map(t => (t._1, src, t._3, thr)).toSeq
    }.toSet
    assert(out.toSet == expected)
    // nearest-rank floor: each source keeps at least k docs
    val bySrc = out.groupBy(_._2)
    scored.groupBy(_._2).foreach { case (src, rows) =>
      val k = (rows.length + Curation.C22KeepDen - 1) / Curation.C22KeepDen
      assert(bySrc(src).length >= k, s"$src keeps < ceil(n/4)")
    }
    // the tie semantics must actually bite somewhere, or the >= filter
    // is untested: at least one source keeps MORE than k
    assert(scored.groupBy(_._2).exists { case (src, rows) =>
      bySrc(src).length >
        (rows.length + Curation.C22KeepDen - 1) / Curation.C22KeepDen
    }, "no source exercises threshold ties")
  }

  test("c23 training order is a deterministic permutation in exact " +
      "batches; the corpus-sized window partitions by bucket") {
    import org.apache.spark.sql.functions._
    val q = Curation.c23TrainOrder(s, dir)
    val out = q.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val n = graft.Tables.documents(s, dir).count()
    // dense 1..n permutation over exactly the corpus
    assert(out.length == n)
    assert(out.map(_._3).sorted.toSeq == (1L to n).toSeq)
    assert(out.map(_._1).distinct.length == n)
    // exact batches: every batch full except possibly the last
    val sizes = out.groupBy(_._4).toSeq.sortBy(_._1).map(_._2.length)
    assert(sizes.init.forall(_ == Curation.C23BatchSize) &&
      sizes.last <= Curation.C23BatchSize)
    // position follows the md5 order, not the id order: the shuffle
    // genuinely de-correlates from ingestion order
    val byIdRank = out.sortBy(_._1).map(_._3)
    assert(byIdRank.zip(byIdRank.tail).count { case (a, b) => b == a + 1 }
      < n / 10, "order barely differs from ingestion order")
    // deterministic re-deal
    assert(Curation.c23TrainOrder(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      out.map(t => (t._1, t._3)).toSeq)
    // scale shape: the corpus-sized enumeration window must hash by
    // the key bucket (256 parallel windows), never a single partition
    assert(q.queryExecution.executedPlan.toString
      .contains("hashpartitioning(bkt"))
  }

  test("c25 curriculum is a band-major permutation: terciles never " +
      "interleave, batches exact, order seeded and band-shuffled") {
    val q = Curation.c25Curriculum(s, dir)
    val out = q.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val scored = graft.operators.TextAnalysis.t17CcnetPpl(s, dir)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val n = scored.size.toLong
    // dense 1..n permutation over exactly the scored corpus
    assert(out.length == n)
    assert(out.map(_._3).sorted.toSeq == (1L to n).toSeq)
    assert(out.map(_._1).toSet == scored.keySet)
    out.foreach(t => assert(t._2 == scored(t._1), s"band mismatch ${t._1}"))
    // band-major: every head position < every middle < every tail
    def posOf(b: String) = out.filter(_._2 == b).map(_._3)
    val (h, m, t) = (posOf("head"), posOf("middle"), posOf("tail"))
    assert(h.nonEmpty && m.nonEmpty && t.nonEmpty)
    assert(h.max < m.min && m.max < t.min, "terciles interleave")
    // exact batches
    val sizes = out.groupBy(_._4).toSeq.sortBy(_._1).map(_._2.length)
    assert(sizes.init.forall(_ == Curation.C23BatchSize) &&
      sizes.last <= Curation.C23BatchSize)
    // within-band order is genuinely shuffled, not id-ascending
    val headByPos = out.filter(_._2 == "head").sortBy(_._3).map(_._1)
    assert(headByPos.zip(headByPos.tail).count { case (a, b) => b > a }
      < headByPos.length - 1, "head band is id-sorted — no shuffle")
    // a different seed would re-deal: c25's order within a band is
    // unrelated to c23's (different seed, same key construction)
    val c23pos = Curation.c23TrainOrder(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val headC23 = headByPos.map(c23pos)
    assert(headC23.zip(headC23.tail).count { case (a, b) => b > a }
      < headC23.length - 1, "c25 within-band order equals c23's deal")
    // deterministic
    assert(Curation.c25Curriculum(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSeq ==
      out.map(x => (x._1, x._3)).toSeq)
    // scale shape: the enumeration window partitions by (band, bucket)
    assert(q.queryExecution.executedPlan.toString
      .contains("hashpartitioning(br"))
  }

  test("c26 table stats match direct per-column queries; NDV estimates " +
      "bounded; the null path fires; one scan per table") {
    import org.apache.spark.sql.functions._
    val q = Curation.c26TableStats(s, dir)
    val out = q.collect().map(r => r.getString(1) ->
      ((r.getString(0), r.getLong(2), r.getLong(3), r.getLong(6),
        if (r.isNullAt(7)) None else Some(r.getLong(7)),
        if (r.isNullAt(8)) None else Some(r.getLong(8))))).toMap
    assert(out.size == 7)
    val checks = Seq(
      ("lineitem.l_quantity", Tables.lineitem(s, dir)
        .selectExpr("CAST(l_quantity AS BIGINT) AS u")),
      ("orders.o_custkey", Tables.orders(s, dir)
        .selectExpr("CAST(o_custkey AS BIGINT) AS u")),
      ("events.props_k", Tables.events(s, dir)
        .selectExpr("CAST(CAST(get_json_object(props, '$.k') AS INT) " +
          "AS BIGINT) AS u")))
    checks.foreach { case (name, df) =>
      val rows = df.collect().map(r =>
        if (r.isNullAt(0)) None else Some(r.getLong(0)))
      val (tbl, n, nn, est, mn, mx) = out(name) match {
        case (t, a, b, c, d, e) => (t, a, b, c, d, e) }
      assert(name.startsWith(tbl + "."))
      assert(n == rows.length.toLong, s"$name n_rows")
      assert(nn == rows.count(_.isEmpty).toLong, s"$name n_nulls")
      val vals = rows.flatten
      assert(mn == vals.reduceOption(_ min _) &&
        mx == vals.reduceOption(_ max _), s"$name min/max")
      // NDV: 64-register HLL — 4-sigma of the ~13% relative error
      // (linear-counting regime below is much tighter)
      val truth = vals.distinct.length.toLong
      val tol = math.max(4L, (0.52 * truth).toLong)
      assert(math.abs(est - truth) <= tol,
        s"$name: NDV est $est vs true $truth")
    }
    // the ALL-NULL column (absent JSON key): every row null, the
    // empty sketch (est 0), min/max NULL — the stats collector
    // survives a schema column that is empty in this partition
    val (_, nV, nnV, estV, mnV, mxV) = out("events.props_v")
    assert(nnV == nV && estV == 0L && mnV.isEmpty && mxV.isEmpty)
    // fused scan: one FileScan per audited table, never per column
    // (count the AQE FINAL plan only — the adaptive toString appends
    // an "== Initial Plan ==" section that would double every scan)
    val planStr = q.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val scans = "FileScan".r.findAllIn(planStr).length
    assert(scans == 3, s"expected 3 scans (one per table), got $scans")
  }

  test("c27 equi-height fences match a driver nearest-rank replay; " +
      "buckets hold their mass; ties repeat bounds on l_quantity") {
    import org.apache.spark.sql.functions._
    val b = Curation.C27Buckets
    val out = Curation.c27Histograms(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val cols = Seq(
      "l_quantity" -> "CAST(l_quantity AS BIGINT)",
      "l_extendedprice" ->
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT)")
    cols.foreach { case (name, uExpr) =>
      val xs = Tables.lineitem(s, dir).selectExpr(s"$uExpr AS u")
        .collect().map(_.getLong(0)).sorted
      val n = xs.length.toLong
      (1 to b).foreach { i =>
        val rank = (i * n + b - 1) / b // ceil(i*n/B), 1-indexed
        val expected = xs((rank - 1).toInt)
        val (ub, nr) = out((name, i.toLong))
        assert(nr == n, s"$name n_rows")
        assert(ub == expected, s"$name fence $i: $ub vs $expected")
        // equi-height: at least i/B of the mass sits at or below ub
        assert(xs.count(_ <= ub).toLong * b >= i * n, s"$name mass $i")
      }
      // the last fence is the maximum
      assert(out((name, b.toLong))._1 == xs.last)
    }
    // heavy ties (l_quantity ~50 distinct values over 8 buckets) can
    // legitimately repeat a bound; near-unique cents must not
    val qb = (1 to b).map(i => out(("l_quantity", i.toLong))._1)
    val eb = (1 to b).map(i => out(("l_extendedprice", i.toLong))._1)
    assert(eb.distinct.length == b, "cents fences should be distinct")
    assert(qb.length == b)
  }

  test("c31 epoch plan: head source trains exactly 1.0 epochs, the " +
      "sqrt-temperature upweight is monotone and capped, arithmetic exact") {
    val rows = Curation.c31EpochPlan(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.nonEmpty)
    val nmax = rows.map(_._2).max
    rows.foreach { case (src, nTok, em, alloc, shareBp) =>
      // epoch band: 1.0 <= epochs <= the repetition ceiling
      assert(em >= Curation.C31EpochScale && em <= Curation.C31MaxEpochsMilli,
        s"$src epochs_milli $em outside band")
      // the head source trains exactly one pass
      if (nTok == nmax) assert(em == Curation.C31EpochScale)
      // replay the fixed-point rule exactly
      val want = math.min(Curation.C31MaxEpochsMilli,
        math.floor(Curation.C31EpochScale.toDouble *
          math.sqrt(nmax.toDouble / nTok.toDouble)).toLong)
      assert(em == want, s"$src epochs $em != replay $want")
      // allocation is exact integer arithmetic on those columns
      assert(alloc == nTok * em / Curation.C31EpochScale)
      assert(shareBp >= 0 && shareBp <= 10000)
    }
    // smaller sources never train fewer epochs than bigger ones
    rows.sortBy(_._2).map(_._3).sliding(2).foreach {
      case Array(a, b) => assert(a >= b)
      case _ =>
    }
    // floored shares sum to within a row-count of the full budget
    val shareSum = rows.map(_._5).sum
    assert(shareSum <= 10000 && shareSum > 10000 - rows.length)
  }
}
