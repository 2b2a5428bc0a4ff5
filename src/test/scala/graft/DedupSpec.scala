package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  test("d1 multiplicities account for every document") {
    import org.apache.spark.sql.functions._
    val total = Dedup.d1Exact(s, dir).agg(sum("cnt")).collect()(0).getLong(0)
    assert(total == Tables.documents(s, dir).count())
  }

  test("d2 candidate pairs are ordered and deduplicated") {
    val rows = Dedup.d2Minhash(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall { case (a, b) => a < b })
    assert(rows.distinct.length == rows.length)
  }

  test("d2 finds the planted near-duplicates that d4 confirms") {
    val cands = Dedup.d2Minhash(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val confirmed = Dedup.d4NgramJaccard(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // high-jaccard pairs should also collide in at least one minhash band
    assert(confirmed.nonEmpty)
    assert((confirmed -- cands).isEmpty,
      s"jaccard-confirmed pairs missed by LSH: ${confirmed -- cands}")
  }

  test("d2 derives its content groups once: one documents scan, the " +
      "group exchange reused by the within-group branch") {
    val df = Dedup.d2Minhash(s, dir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = plan.linesIterator
      .count(l => l.contains("FileScan parquet") && l.contains("documents"))
    assert(scans == 1, plan)
    assert(plan.linesIterator.exists(l =>
      l.contains("ReusedExchange") && l.contains("hashpartitioning(h#")), plan)
  }

  test("d2's minhash stage runs one task per shuffle partition") {
    import scala.collection.mutable
    import org.apache.spark.graftbridge.GraftScheduler
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.execution.GenerateExec
    val sc = s.sparkContext
    val tasks = mutable.Map.empty[Int, Int]
    val accs = mutable.Map.empty[Int, Set[Long]]
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        tasks(e.stageId) = tasks.getOrElse(e.stageId, 0) + 1
        accs(e.stageId) = accs.getOrElse(e.stageId, Set.empty[Long]) ++
          e.taskInfo.accumulables.map(_.id)
      }
    }
    val df = Dedup.d2Minhash(s, dir)
    GraftScheduler.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      df.collect()
      GraftScheduler.drainListenerBus(sc)
    } finally sc.removeSparkListener(l)
    // the kernel's stage is the one whose tasks count the rows of the
    // Generate that posexplodes minhash_band_keys
    val gen = TestSpark.flattenPlan(df.queryExecution.executedPlan).collect {
      case g: GenerateExec
          if g.generator.toString.contains("minhash_band_keys") => g
    }
    assert(gen.size == 1)
    val rowsAcc = gen.head.metrics("numOutputRows").id
    val stages = l.synchronized(accs.filter(_._2.contains(rowsAcc)).keys.toSeq)
    assert(stages.size == 1, s"stages counting the kernel's rows: $stages")
    assert(tasks(stages.head) ==
      s.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("d3 simhash is a 60-bit fingerprint, one per doc") {
    val rows = Dedup.d3Simhash(s, dir).collect()
    assert(rows.length == Tables.documents(s, dir).count())
    rows.foreach { r =>
      val h = r.getLong(1)
      assert(h >= 0L && h < (1L << 60))
    }
  }

  test("d3 near-dup docs have close simhashes") {
    val sim = Dedup.d3Simhash(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.d4NgramJaccard(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    pairs.foreach { case (a, b) =>
      val dist = java.lang.Long.bitCount(sim(a) ^ sim(b))
      assert(dist <= 20, s"hamming($a,$b)=$dist for a jaccard>=0.2 pair")
    }
  }

  test("d3Candidates hot-bucket split keeps recall 1.0 on a planted dense bucket") {
    val sess = s
    import sess.implicits._
    val maxHamming = 6
    val rnd = new scala.util.Random(42)
    def rand60() = rnd.nextLong() & ((1L << 60) - 1)
    // 150 fingerprints agreeing on block 0 (bits 0-8) — ONE band-0
    // bucket with occupancy 10x the hot threshold below — plus 50
    // near-dup partners (<=6 flips OUTSIDE block 0, so they stay in the
    // dense bucket) and 50 unrelated fingerprints for the cold path
    val block0 = 0x1ABL
    val base = Seq.fill(150)((rand60() & ~0x1FFL) | block0)
    val partners = base.take(50).map { f =>
      val flips = rnd.shuffle((9 until 60).toList).take(1 + rnd.nextInt(6))
      flips.foldLeft(f)((acc, p) => acc ^ (1L << p))
    }
    val loose = Seq.fill(50)(rand60())
    val fps = (base ++ partners ++ loose).distinct
    val groups = fps.zipWithIndex
      .map { case (f, i) => (f, Seq(i.toLong)) }
      .toDF("simhash", "members")
    val got = Dedup.d3CandidatesFromGroups(groups, maxHamming, hotBucketOcc = 16)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // brute-force ground truth: EVERY distinct-fingerprint pair within
    // the hamming threshold, no more, no less
    val truth = (for {
      i <- fps.indices; j <- fps.indices if i < j
      h = java.lang.Long.bitCount(fps(i) ^ fps(j)) if h <= maxHamming
    } yield (i.toLong, j.toLong) -> h).toMap
    assert(truth.size > 40, "planting failed to create enough close pairs")
    assert(got == truth)
  }

  test("d4Confirm on d2 candidates matches d4's jaccard for the same pairs") {
    val s = TestSpark.spark
    val candidates = Dedup.d2Minhash(s, dir)
    val confirmed = Dedup.d4Confirm(s, dir, candidates).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(confirmed.nonEmpty)
    val full = Dedup.d4NgramJaccard(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // every full-d4 pair that d2 also screened must agree on jaccard
    val overlap = full.keySet intersect confirmed.keySet
    assert(overlap.nonEmpty, "screen and confirm found no common pairs")
    overlap.foreach { k =>
      assert(math.abs(confirmed(k) - full(k)) < 1e-12, s"pair $k differs")
    }
  }

  test("d4 blocked recall vs brute force: 1.0 on the gate corpus, exact " +
    "jaccard agreement on every found pair") {
    val full = Dedup.d4BruteForce(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    val got = Dedup.d4NgramJaccard(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    assert(full.nonEmpty)
    // blocking can only ever DROP pairs, never invent or rescore them
    assert((got.keySet -- full.keySet).isEmpty,
      s"blocked d4 invented pairs: ${got.keySet -- full.keySet}")
    got.foreach { case (k, j) =>
      assert(j == full(k), s"pair $k jaccard drifted: $j vs ${full(k)}")
    }
    val recall = got.size.toDouble / full.size
    assert(recall == 1.0,
      s"gate-corpus recall $recall (${got.size}/${full.size}) — the df cap" +
        " must not bite where median shingle df is 1")
  }

  /** Two planted near-dup families sharing one (lang, cb) block:
    * family A sits AT the df cap (its cross-pairs must survive d4's
    * blocking), family B sits past it (its cross-pairs are d4's
    * documented miss, owned by the d2→d4Confirm handoff — the sibling
    * specs below assert both halves of that contract). Fixed-width
    * numbering keeps every doc's n_chars identical so only the df cap
    * decides. Returns (corpusDir, familyA ids, familyB ids). */
  private def stageCapFamilies(): (String, Seq[Long], Seq[Long]) = {
    import org.apache.spark.sql.functions._
    val sess = s
    import sess.implicits._
    def fam(base: Long, n: Int, tag: String): Seq[(Long, String)] =
      (0 until n).map { i =>
        (base + i,
          s"alpha$tag beta$tag gamma$tag delta$tag epsilon$tag zeta$tag " +
            s"eta$tag theta$tag iota$tag kappa$tag " +
            ("pad word list " * 4) + f"suffix$tag$i%02d unique$tag$i%02d")
      }
    val a = fam(1000L, Dedup.D4MaxDf, "aa")
    val b = fam(2000L, Dedup.D4MaxDf + 4, "bb")
    val out = java.nio.file.Files.createTempDirectory("graft-d4cap").toString
    (a ++ b).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    (out, a.map(_._1), b.map(_._1))
  }

  test("d4 df-cap contract: a dense near-dup family at the cap is found; " +
    "one past the cap is the documented miss") {
    val (out, _, _) = stageCapFamilies()
    val pairs = Dedup.d4NgramJaccard(s, out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val aIds = (0 until Dedup.D4MaxDf).map(1000L + _)
    val aPairs = for { x <- aIds; y <- aIds if x < y } yield (x, y)
    // brute force confirms both families' pairs genuinely qualify
    val full = Dedup.d4BruteForce(s, out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(aPairs.forall(full.contains) &&
      full.exists { case (a, b) => a >= 2000L && b >= 2000L })
    aPairs.foreach { p =>
      assert(pairs.contains(p), s"under-cap family pair $p missed")
    }
    assert(!pairs.exists { case (a, b) => a >= 2000L && b >= 2000L },
      "over-cap family pairs found — the df cap is not biting, so the " +
        "linear candidate bound is not in force")
  }

  test("d4's over-cap miss is owned by the d2→d4Confirm handoff: every " +
    "dropped family pair is recovered, recall measured") {
    import org.apache.spark.sql.functions._
    val (out, _, bIds) = stageCapFamilies()
    val bSet = bIds.toSet
    def pairSet(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    // ground truth: the over-cap family's qualifying pairs (brute force)
    val full = pairSet(Dedup.d4BruteForce(s, out).collect())
    val bPairs = full.filter { case (a, b) => bSet(a) && bSet(b) }
    assert(bPairs.nonEmpty)
    // d4 drops them (the df-cap miss the sibling spec pins)
    val d4Pairs = pairSet(Dedup.d4NgramJaccard(s, out).collect())
    val missed = bPairs -- d4Pairs
    assert(missed == bPairs, "plant failed: d4 found over-cap pairs")
    // the handoff: d2's banding + the row-local confirm at d4's own
    // threshold recovers them — a dense family is EXACTLY the shape
    // MinHash banding is strongest on (high jaccard ⇒ band collision)
    val chain = pairSet(Dedup.d4Confirm(s, out, Dedup.d2Minhash(s, out))
      .filter(col("jaccard") >= 0.2).collect())
    val recall = missed.intersect(chain).size.toDouble / missed.size
    // measured: 188/190 (0.989) — the two misses are pairs whose
    // MinHash signatures happen to collide in no band, d2's own
    // probabilistic contract (deterministic hashes, so pinned here).
    // The POLICY outcome below is what production consumes, and it is
    // exact: every non-head member is linked by at least one caught
    // pair, so the keep-list drops the whole family but its head.
    assert(recall >= 0.98,
      f"handoff recall $recall%.3f — d2→d4Confirm must catch what the " +
        "df cap drops on this plant (pinned at 188/190)")
    val kept = Dedup.dedupKeepList(s, out,
        Dedup.d4Confirm(s, out, Dedup.d2Minhash(s, out)), minJaccard = 0.2)
      .collect().map(_.getLong(0)).toSet
    assert(kept.intersect(bSet) == Set(bIds.min),
      s"keep-list kept ${kept.intersect(bSet)} of the over-cap family")
  }

  test("dedupKeepList keeps exactly one doc per planted duplicate pair") {
    val s = TestSpark.spark
    val confirmed = Dedup.d4Confirm(s, dir, Dedup.d2Minhash(s, dir))
    val keep = Dedup.dedupKeepList(s, dir, confirmed, minJaccard = 0.9)
      .collect().map(_.getLong(0)).toSet
    val dropped = Dedup.d4Confirm(s, dir, Dedup.d2Minhash(s, dir))
      .filter(org.apache.spark.sql.functions.col("jaccard") >= 0.9).collect()
    assert(dropped.nonEmpty)
    dropped.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(keep.contains(a) || !keep.contains(b),
        s"pair ($a,$b): greater side kept while smaller dropped")
      assert(!keep.contains(b), s"greater side $b of a confirmed pair kept")
    }
    val total = graft.Tables.documents(s, dir).count()
    assert(keep.size < total && keep.nonEmpty)
  }

  test("d5 returns top cosine pairs within sign buckets") {
    val rows = Dedup.d5Embedding(s, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    val cs = rows.map(_.getDouble(2))
    assert(cs.sameElements(cs.sortBy(-_)))
    assert(cs.forall(c => c <= 1.0 + 1e-9 && c >= -1.0 - 1e-9))
  }

  test("d9 matches a driver-side brute force and flags only real overlap") {
    // brute force: normalize/tokenize/shingle in plain Scala, mirroring
    // TextOps exactly, then set-intersect every training doc against
    // the union of benchmark shingles
    val docs = graft.Tables.documents(s, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingles(text: String): Set[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val m = math.max(toks.length - (Dedup.D9ShingleW - 1), 1)
      (0 until m).map(i =>
        toks.slice(i, i + Dedup.D9ShingleW).mkString(" ")).toSet
    }
    val (bench, train) = docs.partition { case (id, _) =>
      TestSpark.sampleBucket(id) < Dedup.D9BenchPct
    }
    assert(bench.nonEmpty && train.nonEmpty)
    val inventory = bench.iterator.flatMap(d => shingles(d._2)).toSet
    val expected = train.flatMap { case (id, text) =>
      val sh = shingles(text)
      val shared = sh.count(inventory.contains)
      if (shared >= Dedup.D9MinShared) Some(id -> (shared.toLong, sh.size.toLong))
      else None
    }.toMap
    val got = Dedup.d9Decontaminate(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == expected)
    // substance: the corpus produces contaminated docs, and not every
    // training doc is flagged (the 8-gram width must discriminate)
    assert(got.nonEmpty, "no contaminated docs — d9 untested in substance")
    assert(got.size < train.length / 2,
      "most training docs flagged — shingle width not discriminating")
  }

  test("d9_xt: staged second table, self-flagging suite sources, d9 parity off-slice") {
    import org.apache.hadoop.fs.Path
    // staging: a genuine second parquet with its own schema, written
    // once per corpus generation
    val path = Dedup.d9BenchmarksPath(s, dir)
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    val mtime0 =
      fs.getFileStatus(new Path(path, Artifacts.Marker)).getModificationTime
    val bench = s.read.parquet(path)
    assert(bench.columns.toSeq == Seq("bench_id", "prompt"))
    val benchIds = graft.Tables.documents(s, dir).select("doc_id").collect()
      .map(_.getLong(0)).filter(TestSpark.sampleBucket(_) < Dedup.D9BenchPct)
    assert(bench.count() == benchIds.length)
    assert(bench.select("bench_id").collect().map(_.getString(0)).sorted
      .sameElements(benchIds.map(id => s"bench_$id").sorted))
    // a second call must reuse the staged file, not rewrite it
    Dedup.d9BenchmarksPath(s, dir)
    assert(fs.getFileStatus(new Path(path, Artifacts.Marker))
      .getModificationTime == mtime0, "staging was not idempotent")

    val xt = Dedup.d9DecontaminateXt(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // off the bench slice, xt must equal d9 EXACTLY: the suite's
    // shingle inventory is the same set, only its provenance changed
    // (second table instead of same-corpus slice)
    val d9 = Dedup.d9Decontaminate(s, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val benchSet = benchIds.toSet
    assert(xt.view.filterKeys(!benchSet.contains(_)).toMap == d9)
    // ON the slice: every suite-source doc shares ALL its shingles
    // with the inventory, so it self-flags iff it has >= D9MinShared
    // distinct 8-grams — the verbatim-leak detection the xt shape adds
    val selfFlagged = xt.view.filterKeys(benchSet.contains).toMap
    assert(selfFlagged.nonEmpty, "no suite source self-flagged")
    assert(selfFlagged.forall { case (_, (shared, total)) => shared == total },
      "a suite-source doc shares only part of its own shingles")
    benchSet.foreach { id =>
      if (!xt.contains(id))
        assert({
          val n = graft.Tables.documents(s, dir)
            .filter(org.apache.spark.sql.functions.col("doc_id") === id)
            .select("text").head().getString(0)
          val toks = n.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
          val m = math.max(toks.length - (Dedup.D9ShingleW - 1), 1)
          (0 until m).map(i => toks.slice(i, i + Dedup.D9ShingleW)
            .mkString(" ")).toSet.size < Dedup.D9MinShared
        }, s"suite source $id missing from xt without a width excuse")
    }
  }

  test("d9_report matches a per-item brute force; implied docs are d9-flagged") {
    val docs = graft.Tables.documents(s, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def shingles(text: String): Set[String] = {
      val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      val m = math.max(toks.length - (Dedup.D9ShingleW - 1), 1)
      (0 until m).map(i =>
        toks.slice(i, i + Dedup.D9ShingleW).mkString(" ")).toSet
    }
    val (bench, train) = docs.partition { case (id, _) =>
      TestSpark.sampleBucket(id) < Dedup.D9BenchPct
    }
    val trainSets = train.map { case (id, t) => id -> shingles(t) }
    // brute force: per (item, doc) shared-shingle counts, thresholded,
    // then per-item doc count + widest overlap
    val expected = bench.flatMap { case (bid, btext) =>
      val bsh = shingles(btext)
      val overlaps = trainSets
        .map { case (tid, tsh) => tid -> (tsh & bsh).size.toLong }
        .filter(_._2 >= Dedup.D9MinShared)
      if (overlaps.isEmpty) None
      else Some(s"bench_$bid" -> ((overlaps.length.toLong, overlaps.map(_._2).max)))
    }.toMap
    val got = Dedup.d9Report(s, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == expected)
    assert(got.nonEmpty, "no compromised suite items — report untested")
    // per-item pairing is STRICTER than d9's union inventory: every doc
    // implied by the report must be d9-flagged (the converse need not
    // hold — shingles spread across items don't compromise any one item)
    val d9Flagged = Dedup.d9Decontaminate(s, dir).collect()
      .map(_.getLong(0)).toSet
    val implied = bench.flatMap { case (bid, btext) =>
      val bsh = shingles(btext)
      trainSets.collect {
        case (tid, tsh) if (tsh & bsh).size >= Dedup.D9MinShared => tid }
    }.toSet
    assert(implied.subsetOf(d9Flagged))
  }

  test("d11 increment admission equals the batch keep-list on the union") {
    import org.apache.spark.sql.functions._
    val inc = s.read.parquet(Dedup.d11IncrementPath(s, dir))
    val got = Dedup.d11DedupIncremental(s, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // stage corpus ∪ increment as its own corpus; run the full batch
    // d2 screen → d4 confirm → greedy keep chain on it
    val out = java.nio.file.Files.createTempDirectory("graft-d11").toString
    Tables.documents(s, dir).select("doc_id", "text")
      .unionAll(inc.select("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val kept = Dedup.dedupKeepList(s, out,
        Dedup.d4Confirm(s, out, Dedup.d2Minhash(s, out)))
      .collect().map(_.getLong(0)).toSet
    got.foreach { case (id, flag) =>
      assert((flag == 1) == kept.contains(id),
        s"doc $id: incremental says $flag, batch union says " +
          s"${kept.contains(id)}")
    }
    assert(got.values.toSet == Set(0, 1), "both verdicts must occur")
  }

  test("d11 drop classes land where planted; artifacts stage write-once") {
    import org.apache.spark.sql.functions._
    val ids = Tables.documents(s, dir).select("doc_id")
      .collect().map(_.getLong(0))
    val maxId = ids.max
    val got = Dedup.d11DedupIncremental(s, dir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // every exact re-upload is rejected
    ids.filter(_ % Dedup.D11ExactMod == 0).foreach { id =>
      assert(got(id + maxId + 1) == 0, s"exact copy of $id admitted")
    }
    // some suffixed near-dup rejected (long docs clear the threshold)
    assert(ids.exists(id => id % Dedup.D11NearMod == 0 &&
      id % Dedup.D11ExactMod != 0 && got(id + maxId + 1) == 0))
    // some reversed (novel) doc admitted
    assert(ids.exists(id => id % Dedup.D11Mod == 0 &&
      id % Dedup.D11NearMod != 0 && id % Dedup.D11ExactMod != 0 &&
      got(id + maxId + 1) == 1))
    // write-once: a second staging call must not rewrite either artifact
    val conf = s.sparkContext.hadoopConfiguration
    def mtime(p: String): Long = {
      val f = new org.apache.hadoop.fs.Path(p)
      f.getFileSystem(conf).getFileStatus(f).getModificationTime
    }
    val idxMarker = s"${Dedup.d11IndexPath(s, dir)}/${Artifacts.Marker}"
    val incMarker = s"${Dedup.d11IncrementPath(s, dir)}/${Artifacts.Marker}"
    val (t1, t2) = (mtime(idxMarker), mtime(incMarker))
    Dedup.d11IndexPath(s, dir); Dedup.d11IncrementPath(s, dir)
    assert(mtime(idxMarker) == t1 && mtime(incMarker) == t2,
      "staging must be commit-marker-gated write-once")
  }

  test("dedupindex: a missing file is restaged with the rows the index " +
      "held, and st11's sibling artifact is left in place") {
    import org.apache.hadoop.fs.Path
    val conf = s.sparkContext.hadoopConfiguration
    val idx = Dedup.d11IndexPath(s, dir)
    val shsets = Dedup.st11ShsetsPath(s, dir)
    val shMarker = new Path(shsets, Artifacts.Marker)
    val fs = shMarker.getFileSystem(conf)
    val shStamp = fs.getFileStatus(shMarker).getModificationTime
    val files = Seq("contents.parquet", "bands.parquet")
    def rows() = files.map(f => s.read.parquet(s"$idx/$f").collect()
      .map(_.toString).sorted.toSeq)
    val before = rows()
    files.foreach { f =>
      fs.delete(new Path(idx, f), true)
      assert(Dedup.d11IndexPath(s, dir) == idx)
      assert(rows() == before, s"$f restaged with other rows")
    }
    assert(fs.getFileStatus(shMarker).getModificationTime == shStamp,
      "restaging the index touched st11's shingle-set artifact")
  }

  test("d14 finds every planted quote pair with the quote contained; " +
      "rare-shingle banding equals the unblocked brute force here") {
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(s)
    val got = Dedup.d14Containment(s, dir).collect()
      .map(r => (r.getAs[Long]("contained_id"), r.getAs[Long]("container_id"),
        r.getAs[Long]("cont_permille")))
    // planted ground truth: every %9 doc with enough tokens spawned a
    // quote at id host+mx+1 that must surface contained in its host
    val docsT = Tables.documents(s, dir)
      .withColumn("norm", graft.operators.TextOps.normText(col("text")))
      .withColumn("toks", expr(graft.operators.TextOps.toksExpr))
      .select(col("doc_id"), col("toks"))
    val mx = docsT.agg(max("doc_id")).head().getLong(0)
    val hosts = docsT
      .filter(col("doc_id") % Dedup.D14PlantMod === 0 &&
        size(col("toks")) >= Dedup.D14PlantMinToks)
      .select("doc_id").collect().map(_.getLong(0))
    assert(hosts.nonEmpty, "corpus must plant at least one quote")
    val byPair = got.map(t => (t._1, t._2) -> t._3).toMap
    hosts.foreach { h =>
      val q = h + mx + 1
      assert(byPair.get((q, h)).exists(_ >= Dedup.D14Tau),
        s"planted quote $q of host $h missing or below threshold")
    }
    // unblocked brute force: same shingle sets, all pairs sharing ANY
    // shingle, no df cap, no rarest-k — must coincide at the gate
    // corpus (recall 1.0: median shingle df is 1 here)
    val quotes = docsT.crossJoin(broadcast(docsT.agg(max("doc_id").as("mxid"))))
      .filter(col("doc_id") % Dedup.D14PlantMod === 0 &&
        size(col("toks")) >= Dedup.D14PlantMinToks)
      .select((col("doc_id") + col("mxid") + 1).as("doc_id"),
        concat(array(lit("begin"), lit("quote")),
          slice(col("toks"), Dedup.D14SliceFrom, Dedup.D14SliceLen),
          array(lit("end"), lit("quote"))).as("toks"))
    val d = docsT.unionByName(quotes)
      .withColumn("shset", expr("array_distinct(word_shingles(toks))"))
      .select(col("doc_id"), col("shset"), size(col("shset")).as("nsh"))
    val ex = d.select(col("doc_id"), col("nsh"), explode(col("shset")).as("sh"))
    val brute = ex.as("x").join(ex.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.nsh").as("na"), col("y.nsh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(
        when(col("na") <= col("nb"), col("a")).otherwise(col("b"))
          .as("contained_id"),
        when(col("na") <= col("nb"), col("b")).otherwise(col("a"))
          .as("container_id"),
        expr("(inter * 1000) div least(na, nb)").as("cont_permille"))
      .filter(col("cont_permille") >= Dedup.D14Tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.toSet == brute,
      "rare-shingle banding must equal the brute force on this corpus")
  }

  test("d16 spans equal a token-diagonal brute force; every span is a " +
    "genuine maximal exact common substring") {
    val W = Dedup.D9ShingleW
    val got = Dedup.d16ContamSpans(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet

    // the engines' shared normalization/tokenization, replayed
    val toks = Tables.documents(s, dir).collect().map { r =>
      val norm = r.getString(1).trim.replaceAll("\\s+", " ").toLowerCase
      r.getLong(0) -> norm.split(" ").filter(_.nonEmpty).toVector
    }.toMap
    val bench = toks.keySet.filter(TestSpark.sampleBucket(_) <
      Dedup.D9BenchPct)
    val train = toks.keySet -- bench

    // candidate prefilter: pairs sharing at least one 8-shingle
    def shingleSet(v: Vector[String]): Set[String] =
      if (v.length < W) Set.empty
      else (0 to v.length - W).map(i => v.slice(i, i + W).mkString(" ")).toSet
    val benchSh = bench.toSeq.map(b => b -> shingleSet(toks(b)))

    // independent spelling: maximal runs of matching TOKENS per
    // alignment diagonal (not shingles) — a maximal token run of
    // length n ≥ MinSpan is exactly what d16 must report
    val brute = (for {
      d <- train.toSeq; (b, bsh) <- benchSh
      if shingleSet(toks(d)).exists(bsh.contains)
      dt = toks(d); bt = toks(b)
      diag <- -(bt.length - 1) to (dt.length - 1)
      } yield {
        val spans = scala.collection.mutable.ListBuffer
          .empty[(Long, Long, Long, Long, Long)]
        var i = math.max(0, diag)
        var run = 0
        while (i <= dt.length) {
          val j = i - diag
          val m = i < dt.length && j >= 0 && j < bt.length && dt(i) == bt(j)
          if (m) run += 1
          else {
            if (run >= Dedup.D16MinSpan)
              spans += ((d, b, (i - run + 1).toLong, (i - run - diag + 1).toLong,
                run.toLong))
            run = 0
          }
          i += 1
        }
        spans.toList
      }).flatten.toSet
    assert(got == brute,
      s"d16 spans != token-diagonal brute force (${got.size} vs ${brute.size})")
    assert(got.nonEmpty, "no spans on the gate corpus — test is vacuous")

    // spot the semantics: each reported slice really is equal text and
    // really is maximal (extending either end breaks it or hits a border)
    got.foreach { case (d, b, ts, bs, len) =>
      val dt = toks(d); val bt = toks(b)
      val a = dt.slice(ts.toInt - 1, ts.toInt - 1 + len.toInt)
      val c = bt.slice(bs.toInt - 1, bs.toInt - 1 + len.toInt)
      assert(a == c && a.length == len.toInt, s"span ($d,$b,$ts) not equal")
      val leftOk = ts == 1 || bs == 1 ||
        dt(ts.toInt - 2) != bt(bs.toInt - 2)
      val rightOk = ts - 1 + len == dt.length || bs - 1 + len == bt.length ||
        dt(ts.toInt - 1 + len.toInt) != bt(bs.toInt - 1 + len.toInt)
      assert(leftOk && rightOk, s"span ($d,$b,$ts) not maximal")
    }
  }

  test("d16 islands: two disjoint runs on ONE alignment diagonal stay " +
    "two spans; sub-threshold runs never merge past the floor") {
    val sess = s
    import sess.implicits._
    // ids chosen by bucket, not hardcoded: bench < 20%, train >= 20%
    val benchId = (0L to 200L)
      .find(TestSpark.sampleBucket(_) < Dedup.D9BenchPct).get
    val trainIds = (0L to 200L)
      .filter(TestSpark.sampleBucket(_) >= Dedup.D9BenchPct).take(2)
    def words(p: String, n: Int) = (1 to n).map(p + _).mkString(" ")
    // pair 1: two 13-token shared runs separated by DIFFERING gaps —
    // same diagonal (gap lengths equal), two genuine spans
    val runA = words("d16qa", 13); val runC = words("d16qc", 13)
    // pair 2 (same bench doc, second train doc): two 10-token shared
    // runs (3 consecutive 8-shingles each — BELOW the 12 floor); a
    // GROUP BY that dropped the island key would sum 3+3 shingles
    // into a phantom span_len 13 ≥ 12
    val runX = words("d16qx", 10); val runY = words("d16qy", 10)
    val docs = Seq(
      (benchId, s"$runA ${words("d16gb", 3)} $runC " +
        s"$runX ${words("d16hb", 5)} $runY"),
      (trainIds(0), s"$runA ${words("d16gt", 3)} $runC"),
      (trainIds(1), s"$runX ${words("d16ht", 5)} $runY")
    ).toDF("doc_id", "text")
    val got = Dedup.d16SpansOver(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    // train doc 1: spans (1,1,13) and (17,17,13) — NOT one merged row
    assert(got.filter(_._1 == trainIds(0)) == Set(
      (trainIds(0), benchId, 1L, 1L, 13L),
      (trainIds(0), benchId, 17L, 17L, 13L)),
      s"two same-diagonal runs must stay two spans; got $got")
    // train doc 2: both runs are 10 < 12 — nothing may surface
    assert(!got.exists(_._1 == trainIds(1)),
      "sub-threshold islands summed past the floor — island key lost")
  }
}
