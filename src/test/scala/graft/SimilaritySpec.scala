package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  // ---- shared driver-replay arithmetic for the s6/s7 PQ tests (the
  // exact zero-seeded left folds the engines use)
  private def pqCos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb2 = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb2 += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb2))
  }
  private def pqNrm(v: Array[Float]): Double = {
    var ss = 0.0; var i = 0
    while (i < v.length) { ss += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(ss)
  }
  private def pqDotAt(v: Array[Float], off: Int, w: Array[Float]): Double = {
    var d = 0.0; var i = 0
    while (i < w.length) { d += v(off + i).toDouble * w(i).toDouble; i += 1 }
    d
  }
  private def pqCn(w: Array[Float]): Double = {
    var ss = 0.0; var i = 0
    while (i < w.length) { ss += w(i).toDouble * w(i).toDouble; i += 1 }
    ss
  }
  private def pqCodesOf(cb: Array[Array[Array[Float]]])(v: Array[Float]): Array[Int] = {
    val n = pqNrm(v)
    Array.tabulate(Similarity.PqM) { m =>
      var best = 0; var bestS = Double.MaxValue; var c = 0
      while (c < Similarity.PqK) {
        val sc = pqCn(cb(m)(c)) -
          2.0 * (pqDotAt(v, m * Similarity.PqSubDim, cb(m)(c)) / n)
        if (sc < bestS) { bestS = sc; best = c }
        c += 1
      }
      best
    }
  }
  private def pqPd(cb: Array[Array[Array[Float]]])(
      qv: Array[Float], m: Int, c: Int): Long = {
    val n = pqNrm(qv); val off = m * Similarity.PqSubDim
    var qs = 0.0; var i = 0
    while (i < Similarity.PqSubDim) {
      qs += qv(off + i).toDouble * qv(off + i).toDouble; i += 1
    }
    val x = qs / (n * n) -
      2.0 * (pqDotAt(qv, off, cb(m)(c)) / n) + pqCn(cb(m)(c))
    math.floor(x * Similarity.PqNano.toDouble + 0.5).toLong
  }

  test("s1 returns top-3 per query, self excluded, ranked by cosine") {
    val rows = Similarity.s1BruteForce(s, dir).collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.keySet == (0L until Similarity.NumQueries).toSet)
    byQuery.foreach { case (q, rs) =>
      assert(rs.length == Similarity.TopK)
      assert(rs.forall(_.getLong(2) != q), "self match leaked")
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.sameElements(cs.sortBy(-_)), "rank order != cosine order")
    }
  }

  test("s2 LSH results are a subset of same-bucket candidates with cosines matching s1 scale") {
    val rows = Similarity.s2Lsh(s, dir).collect()
    // approximate: fewer or equal results, never more than top-k per query
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= Similarity.TopK)
    }
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
  }

  test("s2 recall vs s1 is nonzero on this corpus") {
    val exact = Similarity.s1BruteForce(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.s2Lsh(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(approx.nonEmpty)
    // every approx hit is a real vector pair; recall is reported not asserted
    info(s"s2 recall vs s1: ${(exact & approx).size}/${exact.size}")
  }

  test("s3 IVF returns ranked neighbors and overlaps s1 ground truth") {
    val ivf = Similarity.s3Ivf(s, dir).collect()
    assert(ivf.nonEmpty)
    // structure: per query at most TopK ranked rows
    ivf.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= Similarity.TopK)
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
    }
    // recall vs exact: IVF with a single probe finds a meaningful share
    // of the true neighbors that live in the query's own cell
    val truth = Similarity.s1BruteForce(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = ivf.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (found & truth).size.toDouble / truth.size
    info(f"IVF recall@${Similarity.TopK} = $recall%.2f")
    assert(recall >= 0.93)
  }

  test("s12 knn graph covers every vector, ranks per query, and " +
      "recalls a measured share of the brute-force graph") {
    import org.apache.spark.sql.functions._
    val got = Similarity.s12KnnGraph(s, dir).collect()
    val n = Tables.embeddings(s, dir).count()
    // every corpus vector is a query node (16-cell corpus: each
    // probed 4-cell set holds >= k other vectors at every SF)
    assert(got.map(_.getLong(0)).distinct.length == n,
      "some vector emitted no edges")
    got.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.length <= Similarity.S12K)
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
    }
    // no self-edges; cosine within bounds
    assert(got.forall(r => r.getLong(0) != r.getLong(2)))
    assert(got.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
    // recall vs the exact knn graph (brute force over all pairs)
    val emb = Tables.embeddings(s, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = emb.flatMap { case (qid, qv) =>
      emb.filter(_._1 != qid)
        .map { case (nid, nv) => (nid, cos(qv, nv)) }
        .sortBy { case (nid, c) => (-c, nid) }
        .take(Similarity.S12K)
        .map { case (nid, _) => (qid, nid) }
    }.toSet
    val found = got.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (found & truth).size.toDouble / truth.size
    info(f"knn-graph recall@${Similarity.S12K} = $recall%.2f")
    assert(recall >= 0.5, f"recall $recall%.2f below floor")
    // scale shape: the per-query rank cut prunes map-side
    assert(Similarity.s12KnnGraph(s, dir).queryExecution.executedPlan
      .toString.contains("WindowGroupLimit"))
  }

  test("s12 two-level ranking EQUALS the flat ranking row-for-row on " +
      "the gate corpus (cp covers every coarse bucket there)") {
    val fine = Similarity.s12CentroidsFor(s, dir)
    val (coarse, map) = Similarity.s12CoarseFor(fine)
    val cp = math.min(Similarity.S12CoarseProbes, coarse.length)
    // the gate regime IS the degenerate one: √16 = 4 buckets ≤ cp —
    // the restriction only engages at corpus-scaled cell counts
    assert(coarse.length <= cp,
      s"gate corpus unexpectedly restricted: kc=${coarse.length} cp=$cp")
    // every fine cell keeps a bucket; ids compacted
    assert(map.length == fine.length)
    assert(map.toSet == (0 until coarse.length).toSet,
      "coarse buckets must be non-empty and compactly numbered")
    def flat(a: Array[Array[Float]]) = "array(" +
      a.flatMap(_.map(x => s"CAST($x AS FLOAT)")).mkString(",") + ")"
    val mapArr = "array(" + map.mkString(",") + ")"
    val emit = math.min(fine.length, 16)
    val mismatches = Tables.embeddings(s, dir).selectExpr(
        s"ivf_rank_cells2(embedding, ${flat(coarse)}, ${flat(fine)}, " +
          s"$mapArr, $cp) AS two",
        s"slice(ivf_rank_cells(embedding, ${flat(fine)}), 1, $emit) AS fl")
      .collect().count(r => r.getSeq[Int](0) != r.getSeq[Int](1))
    assert(mismatches == 0,
      s"$mismatches rows ranked differently under the two-level rule")
  }

  test("s9 filtered ANN: every neighbor passes the predicate; recall " +
      "vs the filtered brute force is 1.0 at the gate corpus") {
    import org.apache.spark.sql.functions._
    val got = Similarity.s9FilteredAnn(s, dir).collect()
    assert(got.nonEmpty)
    // the predicate binds: no returned neighbor carries a filtered label
    val okLabels = Tables.embeddings(s, dir)
      .filter(col("label") % Similarity.S9LabelMod === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => okLabels(r.getLong(2))),
      "a neighbor with a filtered-out label leaked into the result")
    // filtered brute force = s1's plan with the same predicate
    val truth = Tables.embeddings(s, dir)
      .filter(col("label") % Similarity.S9LabelMod === 0)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .crossJoin(broadcast(Tables.embeddings(s, dir)
        .filter(col("vec_id") < Similarity.NumQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"))))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.operators.VectorOps.cosine("qe", "ce"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))))
      .filter(col("rnk") <= Similarity.TopK)
      .select("query_id", "rnk", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val found = got.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(found == truth,
      "filtered IVF at S9Probes must equal the filtered brute force here")
  }

  test("s10 MMR: driver-side greedy replay is bit-identical (scores " +
      "and selection order), step 1 is the pure-relevance argmax") {
    val got = Similarity.s10MmrDiversify(s, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("step"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("mmr")))
    val emb = Tables.embeddings(s, dir)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val queries = emb.keys.filter(_ < Similarity.NumQueries).toSeq.sorted
    val want = queries.flatMap { q =>
      val qe = emb(q)
      val cand = emb.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, v, pqCos(qe, v)) }
        .sortBy { case (id, _, rel) => (-rel, id) }
        .take(Similarity.S10Cand)
      var selected = Vector.empty[(Long, Int, Double)] // (id, step, mmr)
      for (step <- 1 to Similarity.S10K) {
        val pool = cand.filterNot(c => selected.exists(_._1 == c._1))
        val scored = pool.map { case (id, v, rel) =>
          val mmr =
            if (step == 1) 0.5 * rel
            else {
              val maxsim = selected.map(sel =>
                pqCos(v, emb(sel._1))).max
              0.5 * rel - 0.5 * maxsim
            }
          (id, mmr)
        }
        val (pid, pmmr) = scored.minBy { case (id, m) => (-m, id) }
        selected :+= ((pid, step, pmmr))
      }
      selected.map { case (id, step, mmr) => (q, step, id, mmr) }
    }
    assert(got.toSeq == want,
      "the Spark greedy must replay the reference greedy bit-exactly")
    // step 1 is the relevance argmax: same as s1's rank-1 neighbor
    val s1Top = Similarity.s1BruteForce(s, dir).filter("rnk = 1")
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    got.filter(_._2 == 1).foreach { case (q, _, id, _) =>
      assert(s1Top(q) == id, s"step 1 of query $q must be the rel argmax")
    }
  }

  test("s10 MMR diversifies: a planted near-duplicate of the best hit " +
      "is excluded in favor of lower-relevance novel candidates") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("s10plant").toString
    def vec(parts: (Int, Float)*): Array[Float] = {
      val v = new Array[Float](64)
      parts.foreach { case (i, x) => v(i) = x }
      v
    }
    // v1/v2 near-duplicates (cos ≈ 0.9997) both highly relevant to the
    // query v0; v3 moderately relevant, novel; v4..v7 weakly relevant,
    // mutually near-orthogonal
    val rows = Seq(
      0L -> vec(0 -> 1f),
      1L -> vec(0 -> 0.95f, 1 -> 0.312f),
      2L -> vec(0 -> 0.95f, 1 -> 0.311f, 2 -> 0.025f),
      3L -> vec(0 -> 0.7f, 3 -> 0.714f),
      4L -> vec(0 -> 0.5f, 4 -> 0.866f),
      5L -> vec(0 -> 0.5f, 5 -> 0.866f),
      6L -> vec(0 -> 0.5f, 6 -> 0.866f),
      7L -> vec(0 -> 0.5f, 7 -> 0.866f))
    import s.implicits._
    rows.toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val picks = Similarity.s10MmrDiversify(s, tmp)
      .filter(col("query_id") === 0L).orderBy("step")
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(picks.head == 1L, "step 1 takes the most relevant hit")
    assert(!picks.contains(2L),
      "the near-duplicate of the step-1 pick must never be selected")
    assert(picks(1) == 3L,
      "step 2 prefers the novel mid-relevance candidate over the dup")
    // plain relevance top-5 WOULD have kept the duplicate
    val topRel = rows.tail.map { case (id, v) => (id, pqCos(rows.head._2, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(Similarity.S10K).map(_._1)
    assert(topRel.contains(2L), "sanity: rel top-k keeps the duplicate")
  }

  test("s3 trains k-means once per corpus: second call reuses cached centroids") {
    // fresh artifact dir so a previous JVM's persisted centroids can't
    // satisfy the first call
    s.conf.set("spark.graft.centroids.dir",
      java.nio.file.Files.createTempDirectory("graft-cent").toString)
    Artifacts.clear("similarity.centroids")
    val before = Artifacts.builds("similarity.centroids.train").get()
    Similarity.s3Ivf(s, dir).collect()
    assert(Artifacts.builds("similarity.centroids.train").get() == before + 1)
    // second invocation: no count(), no sample collect, no Lloyd pass
    Similarity.s3Ivf(s, dir).collect()
    assert(Artifacts.builds("similarity.centroids.train").get() == before + 1,
      "second s3 call re-trained the quantizer")
    // cross-JVM path: wipe the in-memory cache — the parquet artifact
    // written by the first call must satisfy the reload with NO retrain
    Artifacts.clear("similarity.centroids")
    val r1 = Similarity.s3Ivf(s, dir).collect()
    assert(Artifacts.builds("similarity.centroids.train").get() == before + 1,
      "artifact miss: cache reload re-trained the quantizer")
    // and the loaded centroids produce identical results
    Artifacts.clear("similarity.centroids")
    s.conf.set("spark.graft.centroids.dir",
      java.nio.file.Files.createTempDirectory("graft-cent2").toString)
    val r2 = Similarity.s3Ivf(s, dir).collect()
    assert(r1.map(_.toString).toSeq == r2.map(_.toString).toSeq)
    s.conf.unset("spark.graft.centroids.dir")
    Artifacts.clear("similarity.centroids")
  }

  test("s3 oracle SQL is generated with the trained centroids inlined") {
    Artifacts.clear("similarity.centroids")
    // an untrained quantizer must FAIL the static dump loudly, not
    // silently shrink the gate by omitting the s3 entry
    intercept[IllegalStateException] { Similarity.oracle }
    // the corpus-aware dump trains on demand instead
    assert(Similarity.oracleFor(s, dir).contains("s3_ann_ivf"))
    Similarity.s3Ivf(s, dir).collect()
    Similarity.s6Pq(s, dir).collect() // static oracle needs both quantizers
    val sql = Similarity.oracle("s3_ann_ivf")
    // all 16 cells inlined, probing and top-k parameters match the plan
    assert((0 until Similarity.IvfCells)
      .forall(i => sql.contains(s"($i, [CAST(")))
    assert(sql.contains(s"crnk <= ${Similarity.IvfProbes}"))
    assert(sql.contains(s"rnk <= ${Similarity.TopK}"))
  }

  test("d10 semdedup audit matches a driver-side brute-force recomputation") {
    val rows = Similarity.d10SemDedup(s, dir).collect()
    val emb = graft.Tables.embeddings(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // one audit row per corpus vector, cells within the trained range
    assert(rows.length == emb.size)
    assert(rows.map(_.getLong(0)).toSet == emb.keySet)
    assert(rows.forall(r => r.getInt(1) >= 0 && r.getInt(1) < Similarity.IvfCells))
    val dropped = rows.filter(_.getInt(2) == 0).map(_.getLong(0)).toSet
    val kept = rows.filter(_.getInt(2) == 1).map(_.getLong(0)).toSet
    assert(dropped.nonEmpty, "tau is not discriminating on this corpus")
    assert(kept.nonEmpty)
    // brute-force the rule: dropped ⟺ ∃ lower-id same-cell partner ≥ τ
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val cellOf = rows.map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expectDropped = emb.keys.filter { b =>
      emb.keys.exists(a => a < b && cellOf(a) == cellOf(b) &&
        cos(emb(a), emb(b)) >= Similarity.D10Tau - 1e-12)
    }.toSet
    assert(dropped == expectDropped,
      s"keep-list rule mismatch: ${(dropped diff expectDropped).take(5)} / " +
        s"${(expectDropped diff dropped).take(5)}")
  }

  test("d10 oracle SQL inlines the trained centroids and the tau") {
    Similarity.s3Ivf(s, dir).collect() // ensure centroids cached
    Similarity.s6Pq(s, dir).collect() // static oracle needs both quantizers
    val sql = Similarity.oracle("d10_semdedup")
    assert((0 until Similarity.IvfCells).forall(i => sql.contains(s"($i, [CAST(")))
    assert(sql.contains(s">= ${Similarity.D10Tau}"))
    assert(sql.contains("is_kept"))
  }

  test("s3 IVF recall holds on an id-shuffled corpus (not an id-order artifact)") {
    // permute vec_ids with a multiplicative bijection mod n, so the
    // query set and the k-means sample both pick entirely different
    // vectors — recall must come from the quantizer, not id order
    val e = graft.Tables.embeddings(s, dir)
    val n = e.collect().length.toLong
    val m = 7919L
    assert(BigInt(m).gcd(BigInt(n)) == BigInt(1), "pick a coprime multiplier")
    val out = java.nio.file.Files.createTempDirectory("graft-shuffled").toString
    import org.apache.spark.sql.functions._
    e.withColumn("vec_id", (col("vec_id") * m + 13) % n)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val truth = Similarity.s1BruteForce(s, out).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = Similarity.s3Ivf(s, out).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (found & truth).size.toDouble / truth.size
    info(f"shuffled-id IVF recall@${Similarity.TopK} = $recall%.2f")
    assert(recall >= 0.93)
  }

  test("s4 BM25 matches an independent in-JVM scorer") {
    import scala.math.BigDecimal.RoundingMode.HALF_UP
    val docs = graft.Tables.documents(s, dir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty))
    val nDocs = docs.length.toLong
    val totLen = docs.map(_._2.length.toLong).sum
    val dfOf = Similarity.Bm25Terms.map { t =>
      t -> docs.count(_._2.contains(t)).toLong
    }.toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, HALF_UP)
    val expect = docs.flatMap { case (id, toks) =>
      val dl = toks.length
      val terms = Similarity.Bm25Terms
        .map(t => t -> toks.count(_ == t).toLong).filter(_._2 > 0)
      if (terms.isEmpty) None
      else {
        val score = terms.map { case (t, tf) =>
          val df = dfOf(t)
          val idf = r6(math.log(
            (nDocs - df + 0.5) / (df + 0.5) + 1.0)).toDouble
          val norm = 0.25 + 0.75 * (dl.toLong * nDocs).toDouble / totLen
          r6(idf * ((tf * 2.2) / (tf + 1.2 * norm)))
        }.sum
        Some((id, terms.length, score.toDouble))
      }
    }.sortBy { case (id, _, sc) => (-sc, id) }.take(Similarity.Bm25TopK)
    val got = Similarity.s4Bm25(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(got.map(_._1).sameElements(expect.map(_._1)),
      s"ranking mismatch: got ${got.toSeq} expect ${expect.toSeq}")
    got.zip(expect).foreach { case ((_, gn, gs), (_, en, es)) =>
      assert(gn == en)
      assert(math.abs(gs - es) < 1e-9, s"score $gs != $es")
    }
  }

  test("s5 hybrid fusion matches a driver-side RRF replay over the two legs") {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val emb = graft.Tables.embeddings(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val qe = emb(Similarity.S5QueryVec.toLong)
    val lex = Similarity.bm25Scored(s, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(2)))
      .sortBy { case (id, sc) => (-sc, id) }
      .take(Similarity.S5Candidates)
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    val sem = lex.keys.toSeq.map(id => id -> cos(emb(id), qe))
      .sortBy { case (id, c) => (-c, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1) }.toMap
    def rrf(id: Long): Long =
      1000000L / (Similarity.RrfK + lex(id)) +
        1000000L / (Similarity.RrfK + sem(id))
    val expect = lex.keys.toSeq.map(id => (id, rrf(id)))
      .sortBy { case (id, f) => (-f, id) }.take(Similarity.Bm25TopK)
    val got = Similarity.s5HybridRerank(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(4)))
    assert(got.map(_._1).sameElements(expect.map(_._1)),
      s"fusion order: got ${got.toSeq} expect ${expect.toSeq}")
    got.foreach { case (id, rl, rs, f) =>
      assert(rl == lex(id) && rs == sem(id) && f == rrf(id), s"doc $id")
    }
    // both legs genuinely contribute: the fused head is neither leg's head order
    assert(got.map(_._2).toSeq != got.map(_._3).toSeq,
      "lexical and semantic ranks coincide — fusion untested on this corpus")
  }

  test("s4 BM25 ranks rare-term docs first; plan is broadcast-only top-k") {
    val df = Similarity.s4Bm25(s, dir)
    val top = df.collect()
    assert(top.length == Similarity.Bm25TopK)
    // idf('dup') ≈ 2.98 vs ≈ 0.26 for the common terms: every top doc
    // must contain the rare term on this corpus
    val dupDocs = graft.Tables.documents(s, dir)
      .filter(org.apache.spark.sql.functions.expr(
        "array_contains(filter(split(text, ' '), x -> x <> ''), 'dup')"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(top.take(3).forall(r => dupDocs(r.getLong(0))),
      "rare-term docs should dominate the head of the ranking")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      "global top-k must be TakeOrdered, not a full sort")
    assert(!plan.contains("SortMergeJoin"),
      s"df/stats joins must broadcast:\n$plan")
  }

  test("s8 admits the increment against the persisted index: planted " +
      "copies surface at rank 1 / cos 1.0; index scan is partition-" +
      "pruned to probed cells; index content equals fresh assignment") {
    import org.apache.spark.sql.functions._
    val got = Similarity.s8AnnIncremental(s, dir)
    val rows = got.collect()
    val maxId = Tables.embeddings(s, dir)
      .agg(max(col("vec_id"))).head().getLong(0)
    // planted ground truth: every query divisible by S8Mod has an
    // exact increment copy (id = query + maxId + 1) at rank 1, cos 1.0
    val copyQueries = (0 until Similarity.NumQueries)
      .filter(_ % Similarity.S8Mod == 0)
    assert(copyQueries.nonEmpty, "at least one query has a planted copy")
    copyQueries.foreach { qid =>
      val r1 = rows.find(r => r.getLong(0) == qid && r.getInt(1) == 1).get
      assert(r1.getLong(2) == qid + maxId + 1, s"q$qid copy at rank 1")
      assert(r1.getDouble(3) == 1.0, s"q$qid copy cosine exactly 1.0")
    }
    // increment ids beyond the copies only appear with cos < 1.0
    assert(rows.forall(r => r.getDouble(3) <= 1.0))
    // partition pruning: every index scan carries a PartitionFilter on
    // cell and reads at most the probed partitions
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scans = TestSpark.flattenPlan(got.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("ivfindex")))
    assert(scans.size == 2, s"base + inc scans, got ${scans.size}")
    scans.foreach { f =>
      assert(f.partitionFilters.nonEmpty, "cell partition filter present")
      assert(f.relation.partitionSchema.fieldNames.contains("cell"))
    }
    // index content == a fresh assignment over corpus ∪ increment by
    // the kernel-free reference: array_max over (cos, id) structs
    val structs = Similarity.centroidsFor(s, dir).zipWithIndex
      .map { case (v, i) =>
        s"struct(cosine_sim(embedding, array(${v.map(x =>
          s"CAST($x AS FLOAT)").mkString(",")})) AS cos, $i AS id)" }
    val cellExpr = expr(s"array_max(array(${structs.mkString(",")})).id")
    val idx = Similarity.s8IndexPath(s, dir)
    val stored = s.read.parquet(s"$idx/base")
      .unionByName(s.read.parquet(s"$idx/inc"))
      .select(col("vec_id"), col("cell").cast("int"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fresh = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .unionByName(s.read.parquet(Similarity.s8IncrementPath(s, dir)))
      .select(col("vec_id"), cellExpr.cast("int").as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(stored == fresh, "persisted index == fresh assignment")
    assert(stored.keys.count(_ > maxId) ==
      stored.keys.count(k => k <= maxId && k % Similarity.S8Mod == 0),
      "one admitted row per staged increment vector")
  }

  test("d12 incremental semantic admission matches a driver-side " +
      "brute-force of the d10 rule on the union; exact copies always " +
      "drop; novel vectors survive") {
    import org.apache.spark.sql.functions._
    val got = Similarity.d12SemdedupIncremental(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    val maxId = Tables.embeddings(s, dir)
      .agg(max(col("vec_id"))).head().getLong(0)
    // driver-side union replay: corpus embeddings + the staged shard,
    // cells from the PERSISTED index (base) and the operator's output
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val idx = Similarity.s8IndexPath(s, dir)
    val base = s.read.parquet(s"$idx/base").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getInt(2))) // (vec_id, embedding, cell)
    val incEmb = s.read.parquet(Similarity.d12IncrementPath(s, dir))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val incCell = got.map(r => r._1 -> r._2).toMap
    val union = base ++ incEmb.toSeq.map { case (id, e) =>
      (id, e, incCell(id)) }
    val want = incEmb.keys.toSeq.sorted.map { id =>
      val e = incEmb(id); val c = incCell(id)
      val dropped = union.exists { case (oid, oe, oc) =>
        oid < id && oc == c && cos(oe, e) >= Similarity.D10Tau }
      (id, c, if (dropped) 0 else 1)
    }
    assert(got == want, "union-rule brute force")
    // planted verdicts: every exact copy (source id % 2*S8Mod == 0)
    // finds its source at cos 1.0 and drops; some novel vectors survive
    got.foreach { case (id, _, keep) =>
      val src = id - maxId - 1
      if (src % (2 * Similarity.S8Mod) == 0)
        assert(keep == 0, s"exact copy $id must drop")
    }
    assert(got.exists(_._3 == 1), "novel admissions exist")
    assert(got.count(_._3 == 1) < got.length, "drops exist")
  }

  test("s6 PQ matches a driver-side replay and trains once per corpus") {
    s.conf.set("spark.graft.pq.dir",
      java.nio.file.Files.createTempDirectory("graft-pq").toString)
    Artifacts.clear("similarity.pq")
    val before = Artifacts.builds("similarity.pq.train").get()
    val rows = Similarity.s6Pq(s, dir).collect()
    assert(Artifacts.builds("similarity.pq.train").get() == before + 1)
    Similarity.s6Pq(s, dir).collect()
    assert(Artifacts.builds("similarity.pq.train").get() == before + 1,
      "second s6 call re-trained the codebooks")
    // cross-JVM path: the parquet artifact must satisfy a cache reload
    Artifacts.clear("similarity.pq")
    Similarity.s6Pq(s, dir).collect()
    assert(Artifacts.builds("similarity.pq.train").get() == before + 1,
      "artifact miss: cache reload re-trained the codebooks")

    // independent in-JVM replay of encode + ADC from the same codebooks
    val (cb, nCorpus) = Similarity.pqFor(s, dir)
    val shortDepth = Similarity.pqShortlistFor(nCorpus)
    val emb = graft.Tables.embeddings(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val codes = emb.map { case (id, v) => id -> pqCodesOf(cb)(v) }
    def pd(qv: Array[Float], m: Int, c: Int): Long = pqPd(cb)(qv, m, c)
    def cos(a: Array[Float], b: Array[Float]): Double = pqCos(a, b)
    val expected = (0L until Similarity.NumQueries).flatMap { qid =>
      val qv = emb(qid)
      val short = emb.keys.filter(_ != qid).map { nid =>
        val adist = (0 until Similarity.PqM)
          .map(m => pd(qv, m, codes(nid)(m))).sum.toDouble /
            Similarity.PqNano.toDouble
        (nid, adist)
      }.toSeq.sortBy(t => (t._2, t._1)).take(shortDepth)
      short.map { case (nid, adist) => (nid, adist, cos(qv, emb(nid))) }
        .sortBy(t => (-t._3, t._1)).take(Similarity.TopK)
        .zipWithIndex.map { case ((n2, a, c2), i) => (qid, i + 1, n2, a, c2) }
    }
    val got = rows.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expected, "Spark PQ result != driver-side replay")

    // quantization recall vs the exact s1 ranking — reported, floored
    val truth = Similarity.s1BruteForce(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (truth & found).size.toDouble / truth.size
    info(f"PQ+rerank recall@${Similarity.TopK} vs s1 = $recall%.2f")
    assert(recall >= 0.4,
      "ADC shortlist + exact rerank should beat pure-ADC (~0.3) recall")
    s.conf.unset("spark.graft.pq.dir")
  }

  test("s7 IVF-PQ matches a driver replay; candidates confined to probed cells") {
    val rows = Similarity.s7IvfPq(s, dir).collect()
    val cent = Similarity.centroidsFor(s, dir)
    val (cb, nCorpus) = Similarity.pqFor(s, dir)
    val shortDepth = Similarity.pqShortlistFor(nCorpus)
    val emb = graft.Tables.embeddings(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = pqCos(a, b)
    // cell ranking mirrors s3: cosine DESC, centroid id DESC on ties
    def cellRanking(v: Array[Float]): Seq[Int] =
      cent.indices.map(i => (cos(v, cent(i)), i))
        .sortBy { case (c, i) => (-c, -i) }.map(_._2)
    val cellOf = emb.map { case (id, v) => id -> cellRanking(v).head }
    val probesOf = (0L until Similarity.NumQueries)
      .map(q => q -> cellRanking(emb(q)).take(Similarity.IvfProbes).toSet)
      .toMap
    // every returned neighbor must live in one of its query's probes
    rows.foreach { r =>
      assert(probesOf(r.getLong(0))(cellOf(r.getLong(2))),
        s"neighbor ${r.getLong(2)} outside query ${r.getLong(0)}'s probes")
    }
    // full replay: PQ codes + ADC within probed cells + exact rerank
    val codes = emb.map { case (id, v) => id -> pqCodesOf(cb)(v) }
    def pd(qv: Array[Float], m: Int, c: Int): Long = pqPd(cb)(qv, m, c)
    val expected = (0L until Similarity.NumQueries).flatMap { qid =>
      val qv = emb(qid)
      val short = emb.keys
        .filter(nid => nid != qid && probesOf(qid)(cellOf(nid)))
        .map { nid =>
          val adist = (0 until Similarity.PqM)
            .map(m => pd(qv, m, codes(nid)(m))).sum.toDouble /
            Similarity.PqNano.toDouble
          (nid, adist)
        }.toSeq.sortBy(t => (t._2, t._1)).take(shortDepth)
      short.map { case (nid, adist) => (nid, adist, cos(qv, emb(nid))) }
        .sortBy(t => (-t._3, t._1)).take(Similarity.TopK)
        .zipWithIndex.map { case ((n2, a, c2), i) => (qid, i + 1, n2, a, c2) }
    }
    val got = rows.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4))).toSeq
    assert(got == expected, "Spark IVF-PQ result != driver-side replay")
    val truth = Similarity.s1BruteForce(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    info(f"IVF-PQ recall@${Similarity.TopK} vs s1 = ${(truth & found).size.toDouble / truth.size}%.2f")
  }

  test("s6 oracle SQL inlines all 128 codewords; corpus plan is shuffle-free before the top-k") {
    Similarity.s6Pq(s, dir).collect() // ensure codebooks cached
    Similarity.s3Ivf(s, dir).collect() // static oracle needs both quantizers
    val sql = Similarity.oracle("s6_ann_pq")
    for (m <- 0 until Similarity.PqM; c <- 0 until Similarity.PqK)
      assert(sql.contains(s"($m, $c, [CAST("), s"codeword ($m,$c) not inlined")
    assert(sql.contains(s"rnk <= ${Similarity.TopK}"))
    // encoding must be scan-local: the only exchanges in the plan are
    // the broadcast of the 5-query table and the top-k window's hash
    // partitioning on query_id
    val plan = Similarity.s6Pq(s, dir).queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"PQ join must broadcast:\n$plan")
  }

  test("s13 compaction: fragmented cells collapse to one file with " +
    "content and s8 answers bit-identical; untouched dirs never " +
    "rewritten; re-run free") {
    import org.apache.spark.sql.functions._
    val idx = Similarity.s8IndexPath(s, dir)
    // stage a deliberately fragmented copy of the inc layer (8 writer
    // tasks per cell — the multi-executor admission footprint)
    val tmp = java.nio.file.Files.createTempDirectory("graft-s13")
      .toString + "/inc"
    s.read.parquet(s"$idx/inc").repartition(8)
      .write.partitionBy("cell").mode("overwrite").parquet(tmp)
    val loc = new org.apache.hadoop.fs.Path(tmp)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    def cellDirs = fs.listStatus(loc)
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("cell="))
    def nFiles(d: org.apache.hadoop.fs.FileStatus): Int =
      fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet"))
    // pre-compact ONE cell by hand so an already-healthy directory
    // exists; its bytes must survive the job untouched
    val hand = cellDirs.minBy(_.getPath.getName).getPath
    val handCell = hand.getName.drop("cell=".length)
    val handDf = s.read.parquet(hand.toString).coalesce(1)
      .localCheckpoint(true)
    fs.delete(hand, true)
    handDf.write.parquet(hand.toString)
    val handStamp = fs.listStatus(hand)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
    val fragBefore = cellDirs.filter(d => nFiles(d) > 1)
    assert(fragBefore.length > 1, "staging failed to fragment")
    val before = s.read.parquet(tmp)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val n = graft.sources.Sources.compactPartitionedPath(s, tmp, "cell")
    assert(n == fragBefore.length,
      s"compacted $n of ${fragBefore.length} fragmented dirs")
    cellDirs.foreach(d => assert(nFiles(d) == 1,
      s"${d.getPath.getName} still holds ${nFiles(d)} files"))
    val after = s.read.parquet(tmp)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(after == before, "compaction must change layout only")
    assert(fs.listStatus(hand)
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .toSet == handStamp,
      s"healthy dir cell=$handCell was rewritten")
    assert(graft.sources.Sources.compactPartitionedPath(s, tmp, "cell") == 0,
      "re-run must find nothing fragmented")
    // the real index: s8 answers bit-identical across compaction
    val pre = Similarity.s8AnnIncremental(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    graft.sources.Sources.compactPartitionedPath(s, s"$idx/inc", "cell")
    val post = Similarity.s8AnnIncremental(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(pre == post)
  }

  test("s11 erases forgotten vectors from the index: no forgotten " +
      "neighbor, the rule bites vs s8, counts reconcile, re-run idempotent") {
    import org.apache.spark.sql.functions._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val base = rows(Similarity.s8AnnIncremental(s, dir))
    val erased = rows(Similarity.s11AnnForget(s, dir))
    def forgotten(id: Long) = id % Similarity.S11ForgetMod == 0
    // the forget rule must actually bite: the un-erased index serves
    // forgotten ids as neighbors somewhere in its top-k
    assert(base.exists(t => forgotten(t._3)),
      "baseline s8 top-k contains no forgotten id — the property is vacuous")
    assert(erased.forall(t => !forgotten(t._3)),
      "a forgotten id surfaced from the erased index")
    // erasure removes the vector, not the requester: forgotten QUERY
    // ids are still answered
    assert(erased.exists(t => forgotten(t._1)),
      "no forgotten query id answered — query side over-erased")
    // ranks re-close: every query still gets a full top-k
    assert(erased.groupBy(_._1).forall(_._2.length == Similarity.TopK))
    // counts reconcile: erased table = base∪inc minus the rule
    val idx = Similarity.s8IndexPath(s, dir)
    val combined = s.read.parquet(s"$idx/base")
      .unionByName(s.read.parquet(s"$idx/inc"))
    val total = combined.count()
    val fgt = combined.filter(col("vec_id") % Similarity.S11ForgetMod === 0)
      .count()
    val tbl = s.table(Similarity.s11Table(s, dir))
    assert(tbl.count() == total - fgt && fgt > 0)
    // re-run: the footprint recomputed from the erased table is empty,
    // so the merge no-ops and the answer is unchanged
    assert(rows(Similarity.s11AnnForget(s, dir)).toSeq == erased.toSeq)
  }

  test("d15 semantic decontamination: verbatim leaks flag at cos 1.0, " +
    "perturbed leaks above tau, negated benchmarks flag nothing") {
    import org.apache.spark.sql.functions._
    val out = Similarity.d15SemDecontam(s, dir).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("best_eval"), r.getAs[Double]("max_cos"),
          r.getAs[Int]("contaminated")))).toMap
    // the corpus is fully audited, one verdict per vector
    assert(out.size == graft.Tables.embeddings(s, dir).count())
    // reconstruct the derived eval set (same hash order) to find the
    // planted sources and their kinds
    val sel = graft.Tables.embeddings(s, dir)
      .select(col("vec_id"), md5(col("vec_id").cast("string")).as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(Similarity.D15Evals)
      .collect().map(_.getLong(0))
    val kinds = sel.zipWithIndex.map { case (v, i) => v -> ((i + 1) % 3) }
    // verbatim (kind 1): the source itself is in the corpus → its
    // verdict must be contaminated with max_cos exactly the
    // self-cosine (≈1) and best_eval = its own eval
    kinds.filter(_._2 == 1).foreach { case (src, _) =>
      val (_, cos, c) = out(src)
      assert(c == 1 && cos > 0.999, s"verbatim source $src: cos $cos")
    }
    // perturbed (kind 2): the reworded leak still flags its source
    kinds.filter(_._2 == 2).foreach { case (src, _) =>
      val (_, cos, c) = out(src)
      assert(c == 1 && cos >= Similarity.D15Tau && cos < 1.0,
        s"perturbed source $src: cos $cos")
    }
    // negated (kind 0): a benchmark absent from training — its source
    // must NOT flag via it (cos −1 against itself; the corpus is
    // near-orthogonal so nothing else reaches τ either)
    val negatedEvalIds = kinds.zipWithIndex.collect {
      case ((_, 0), i) => i + 1
    }.toSet
    out.foreach { case (v, (be, cos, c)) =>
      if (c == 1)
        assert(!negatedEvalIds.contains(be),
          s"vec $v flagged via negated eval $be at cos $cos")
    }
    // contamination is exactly the planted leaks: the near-orthogonal
    // corpus (max organic pairwise cosine ≤ 0.6) cannot reach τ = 0.9
    val flagged = out.count(_._2._3 == 1)
    val planted = kinds.count(k => k._2 == 1 || k._2 == 2)
    assert(flagged == planted,
      s"$flagged flagged vs $planted planted leaks — organic text " +
        "crossed τ or a leak was missed")
  }

  test("s14 beam search over the s12 graph: s1's output shape, no self, " +
    "rank order = cosine order, recall vs exact recorded") {
    val out = Similarity.s14AnnGraph(s, dir).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet.subsetOf((0L until Similarity.NumQueries).toSet))
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= Similarity.TopK)
      assert(rs.forall(_.getLong(2) != q), "self match leaked")
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.sameElements(cs.sortBy(-_)), "rank order != cosine order")
      assert(rs.map(_.getLong(2)).distinct.length == rs.length,
        "duplicate neighbor in one query's result")
    }
    // recall@TopK vs exact brute force — the number the graph search
    // exists to buy; recorded (info). The beam seeds from the query's
    // own adjacency + the global entry, so s14 can never score below
    // the raw s12 edges (beam is monotone); measured at build time:
    // 0.93 / 1.00 / 0.87 at sf0.001/0.01/0.1 vs the raw edges' 0.73
    // (sf0.1) and the entry-only variant's 0.53. Floor at 0.6 so a
    // future regression below raw-graph quality fails loudly.
    val exact = Similarity.s1BruteForce(s, dir).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(2)).toSet).toMap
    val got = byQ.view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val hits = exact.keys.toSeq
      .map(q => (got.getOrElse(q, Set.empty[Long]) & exact(q)).size).sum
    val recall = hits.toDouble / (exact.size * Similarity.TopK)
    info(f"s14 recall@${Similarity.TopK} vs s1 = $recall%.2f")
    assert(recall >= 0.6, f"s14 recall $recall%.2f fell below the " +
      "raw-graph floor — the seeded beam should dominate s12's own edges")
  }

  /** A 5,000-row dim-4 corpus: with 2,500 cells the whole corpus is the
    * sample, three Lloyd chunks long. */
  private def stageCeilingCorpus(): String = {
    val dir = "target/test-s12-ceiling"
    val rnd = new scala.util.Random(7)
    val rows = (0 until 5000).map { i =>
      (i.toLong, Array.fill(4)(rnd.nextFloat() * 2f - 1f), i.toLong % 7)
    }
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .repartition(2).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** A 3,000-row dim-64 corpus and its rows. */
  private def stageDistCorpus(): (String, Seq[(Long, Array[Float], Long)]) = {
    val dir = "target/test-kmeans-dist"
    val rnd = new scala.util.Random(13)
    val rows = (0 until 3000).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2f - 1f), i.toLong % 5)
    }
    import s.implicits._
    rows.toDF("vec_id", "embedding", "label")
      .repartition(3).write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    (dir, rows)
  }

  test("kmeans training sample scales with the cell count: a quantizer " +
    "past the old fixed-2048 cap trains (r15 s12 ceiling), " +
    "deterministically, while gate-scale sampling is unchanged") {
    // the gate corpora (cells = 16) still draw the fixed floor — the
    // trained literals every green CORRECTNESS hash depends on are
    // untouched by the scaling rule
    assert(Similarity.kmeansSampleFor(Similarity.IvfCells)
      == Similarity.KmeansSample)
    // s12's corpus-scaled quantizer: cells = n/128. The pre-r16 sampler
    // drew ≤ 2048 rows for ANY cell count, so cells > 2048 (n > ~262k
    // vectors) hard-failed `require(sample.length >= cells)`. The
    // scaled target draws 16 rows per cell instead.
    val cells = 2500
    assert(Similarity.kmeansSampleFor(cells) == 16 * cells)

    // stage a synthetic corpus with n < 16·cells (step = 1: the whole
    // corpus is the sample) but n ≥ cells — the exact shape the old cap
    // rejected. dim 4 keeps the Lloyd pass cheap; the quantizer is
    // dim-agnostic.
    val dir = stageCeilingCorpus()
    val trained = Similarity.kmeansCentroids(s, dir, cells)
    assert(trained.length == cells)
    assert(trained.forall(_.length == 4))
    // chunk-parallel Lloyd with in-order partial merge: retraining must
    // reproduce the same float BITS run-to-run (the artifact checksum
    // and every inlined-literal oracle depend on it)
    val retrained = Similarity.kmeansCentroids(s, dir, cells)
    assert(trained.zip(retrained).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) =>
        java.lang.Float.floatToIntBits(x) == java.lang.Float.floatToIntBits(y)
      }
    }, "parallel Lloyd produced different bits across two trainings")
  }

  test("distributed Lloyd (the driver-budget handoff): trains executor-" +
    "side past the driverMaxSample cap, improves on its seeds, and the " +
    "default cap keeps every gate quantizer on the driver path") {
    // gate quantizers never leave the bit-deterministic driver path:
    // their sample targets sit far under the default cap
    assert(Similarity.kmeansSampleFor(Similarity.IvfCells)
      <= Similarity.KmeansDriverMaxSample)
    assert(Similarity.kmeansSampleFor(
      Similarity.s12CellsFor(200000)) // the 100x-probe corpus
      <= Similarity.KmeansDriverMaxSample)

    // stage a dim-64 corpus (the width of the gate corpora) and
    // force the handoff by lowering the cap below the sample target
    val (dir, rows) = stageDistCorpus()
    val cells = 64
    val trained = Similarity.kmeansCentroids(s, dir, cells,
      driverMaxSample = 1000)
    assert(trained.length == cells)
    assert(trained.forall(v => v.length == 64 &&
      v.forall(x => !x.isNaN && !x.isInfinite)))

    // Lloyd must not be a no-op: the trained quantizer's objective
    // (mean max-cosine of the sample to its nearest centroid) should
    // improve on the seed set's. NOT a theorem — Lloyd is monotone
    // for SSE / renormalized spherical k-means, not for max-cosine
    // with arithmetic-mean updates, and the distributed path's float
    // sums are partition-order dependent — so the bound carries
    // empirical headroom (measured gap ≈ +0.05 on this seeded
    // corpus, asserted at -0.02), guarding against a broken update
    // step, not against ULP drift
    val sample = rows.map(_._2)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def objective(cents: Array[Array[Float]]): Double =
      sample.map(v => cents.map(c => cos(v, c)).max).sum / sample.length
    // seeds-only reference: md5-smallest vectors, no iteration —
    // recompute the seed rule directly
    val seedSet = rows
      .sortBy(r => (org.apache.commons.codec.digest.DigestUtils
        .md5Hex(r._1.toString), r._1))
      .take(cells).map(_._2).toArray
    val (objT, objS) = (objective(trained), objective(seedSet))
    info(f"distributed Lloyd objective: seeds $objS%.4f -> trained $objT%.4f")
    assert(objT >= objS - 0.02,
      f"distributed Lloyd scored $objT%.4f, below its seed set $objS%.4f")
  }

  test("golden trainer checksums: the fine, coarse and PQ trainers " +
    "reproduce the pinned float bits") {
    // the stored artifacts are keyed by the corpus fingerprint alone, so
    // a stored quantizer cannot show that training still yields the same
    // floats: drop the memos and call the trainers directly
    graft.Artifacts.clear("similarity.centroids", "similarity.pq",
      "similarity.coarse", "similarity.embCount")
    def pqSig(cb: Array[Array[Array[Float]]]) = Similarity.centroidSig(cb.flatten)
    val ceiling = stageCeilingCorpus()
    val (dist, _) = stageDistCorpus()
    val fine = Similarity.kmeansCentroids(s, ceiling, 2500)
    val (coarse, route) = Similarity.s12CoarseFor(fine)
    assert(coarse.length == 50 && route.length == 2500)
    val got = Seq(
      "fine16@sf" -> Similarity.centroidSig(Similarity.kmeansCentroids(s, dir)),
      "fine2500@ceiling" -> Similarity.centroidSig(fine),
      "coarse50@ceiling" -> Similarity.centroidSig(coarse),
      "route@ceiling" -> java.util.Arrays.hashCode(route).toString,
      "pq@sf" -> pqSig(Similarity.pqTrainCodebooks(s, dir)._1),
      "pq@dist" -> pqSig(Similarity.pqTrainCodebooks(s, dist)._1))
    val golden = Seq(
      "fine16@sf" -> "6a419dd5ed6b5281a7b2ed2c68b077fc",
      "fine2500@ceiling" -> "d70d508a0324e607e86a53b5d542b89f",
      "coarse50@ceiling" -> "58cae1080c08d69dc32df69dd19c8e0b",
      "route@ceiling" -> "-570715946",
      "pq@sf" -> "ee3e93a2e27397853f34f33fc54c6abb",
      "pq@dist" -> "1e4e06219f0f1ae8beced57fdc863cfd")
    assert(got == golden)
  }

  test("s14 OUT-OF-CORPUS queries (r16 ask #3): probe-seeded beam over a " +
    "held-out corpus reaches the in-corpus recall floor") {
    import org.apache.spark.sql.functions.col
    // stage the corpus WITHOUT the five gate query vectors, so they
    // become genuinely out-of-corpus: zero adjacency rows — the path
    // that used to seed from the single global entry alone (measured
    // 0.53 recall@3 at sf0.1, BELOW the raw graph's 0.73). The probe
    // seeds (the query's nearest IVF cells' best members, read
    // partition-pruned from the artifact's assign/ layer) are the fix.
    val hold = "target/test-s14-holdout"
    val e = graft.Tables.embeddings(s, dir)
    e.filter(col("vec_id") >= Similarity.NumQueries)
      .write.mode("overwrite").parquet(s"$hold/embeddings.parquet")
    val q = e.filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val out = Similarity.s14AnnGraphFor(s, hold, q).collect()
    val held = s.read.parquet(s"$hold/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val heldIds = held.map(_._1).toSet
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rs) =>
      assert(!heldIds.contains(qid), "query id collided with the corpus")
      assert(rs.forall(r => heldIds.contains(r.getLong(2))),
        "neighbor outside the held-out corpus")
      assert(rs.length <= Similarity.TopK)
    }
    // exact ground truth against the HELD-OUT corpus (driver-side —
    // the corpus is spec-sized), same (cos DESC, id ASC) tie rule
    val queries = e.filter(col("vec_id") < Similarity.NumQueries)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val hits = queries.map { case (qid, qv) =>
      val truth = held.sortBy { case (id, v) => (-pqCos(qv, v), id) }
        .take(Similarity.TopK).map(_._1).toSet
      val got = byQ.getOrElse(qid, Array.empty).map(_.getLong(2)).toSet
      (got & truth).size
    }.sum
    val recall = hits.toDouble / (queries.length * Similarity.TopK)
    info(f"s14 out-of-corpus recall@${Similarity.TopK} = $recall%.2f")
    assert(recall >= 0.6, f"out-of-corpus recall $recall%.2f fell below " +
      "the in-corpus floor — probe seeding regressed")
  }

  test("s15 graph admission: planted copies resolve to their source at " +
    "cos 1.0, per-node top lists only improve, empty shard is identity, " +
    "re-run deterministic, cell reads partition-pruned") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.FileSourceScanExec
    val e = graft.Tables.embeddings(s, dir)
    val maxId = e.agg(org.apache.spark.sql.functions.max("vec_id"))
      .head().getLong(0)
    val out = Similarity.s15GraphAdmit(s, dir)
    val rows = out.collect()
    // planted ground truth: every shard vector is an exact copy of its
    // source (embedding unchanged, id re-keyed past the corpus), so its
    // rank-1 edge is the source at cosine ~1.0 (the shared left fold
    // computes dot/(√n·√n), which can land 1 ulp ABOVE 1.0 — both
    // engines compute the identical value, the gate hash proves it;
    // the spec asserts the 1-ulp band)
    val newIds = rows.map(_.getLong(0)).filter(_ > maxId).distinct
    assert(newIds.nonEmpty, "no admitted vectors in the output")
    newIds.foreach { nid =>
      val r1 = rows.find(r => r.getLong(0) == nid && r.getInt(1) == 1).get
      assert(r1.getLong(2) == nid - maxId - 1, s"copy $nid rank-1 source")
      assert(math.abs(r1.getDouble(3) - 1.0) < 1e-14,
        s"copy $nid cosine ${r1.getDouble(3)} not ~1.0")
    }
    // monotone improvement: admission only ADDS candidates, so each old
    // vector's cosine list at every rank is >= its pre-admission list
    val stored = s.read
      .parquet(s"${Similarity.graphIndexPath(s, dir)}/edges").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(3))).toMap
    rows.filter(_.getLong(0) <= maxId).groupBy(_.getLong(0))
      .foreach { case (qid, rs) =>
        val now = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
        val before = stored.getOrElse(qid, Array.empty[Double])
        before.zip(now).foreach { case (b, n) =>
          assert(n >= b, s"node $qid rank cosine regressed: $n < $b")
        }
        assert(now.length >= before.length, s"node $qid lost edges")
      }
    // empty shard admits to the identity (untouched pass-through only)
    val empty = e.filter(col("vec_id") < 0)
      .select("vec_id", "embedding")
    val idRows = Similarity.s15Admit(s, dir, empty).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val storedRows = s.read
      .parquet(s"${Similarity.graphIndexPath(s, dir)}/edges").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(idRows.sorted.sameElements(storedRows.sorted),
      "empty-shard admission is not the identity")
    // deterministic re-run (artifact + frozen quantizer: nothing to drift)
    val again = Similarity.s15GraphAdmit(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(again.sorted.sameElements(rows
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sorted), "re-run drifted")
    // partition pruning: the artifact reads in the bounded delta carry
    // cell/pcell PartitionFilters (the s8 assertion for the graph)
    val (_, delta) = Similarity.s15AdmitParts(s, dir,
      s.read.parquet(Similarity.s8IncrementPath(s, dir)))
    val scans = TestSpark.flattenPlan(delta.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec => f }
      .filter(_.relation.location.rootPaths.exists(
        _.toString.contains("knngraph")))
    val pruned = scans.filter(f =>
      f.relation.partitionSchema.fieldNames.exists(
        n => n == "cell" || n == "pcell"))
    assert(pruned.nonEmpty, "no partitioned artifact scan in the delta")
    pruned.foreach { f =>
      assert(f.partitionFilters.nonEmpty,
        s"unpruned partitioned read: ${f.relation.location.rootPaths}")
    }
  }

  test("s16 SQ8 matches a driver replay; error ≤ half a quantization step; " +
    "recall floored vs s1") {
    val rows = Similarity.s16Sq8Search(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val emb = graft.Tables.embeddings(s, dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

    // exact per-dimension stats (min/max are order-independent)
    val dims = emb.values.head.length
    val mn = Array.tabulate(dims)(i => emb.values.map(_(i).toDouble).min)
    val mx = Array.tabulate(dims)(i => emb.values.map(_(i).toDouble).max)
    def scale(i: Int): Double = (mx(i) - mn(i)) / Similarity.Sq8Levels
    // the engines' shared encode → reconstruct arithmetic, replayed
    def recon(v: Array[Float]): Array[Float] = Array.tabulate(dims) { i =>
      if (mx(i) <= mn(i)) mn(i).toFloat
      else {
        val code = math.min(255L, math.max(0L,
          math.floor((v(i).toDouble - mn(i)) / scale(i)).toLong))
        (mn(i) + (code + 0.5) * scale(i)).toFloat
      }
    }

    // 1. reconstruction error is bounded by half a step everywhere
    //    (mid-rise dequantization; data is inside [mn, mx] by
    //    construction, so no clamp can exceed the bound)
    emb.values.foreach { v =>
      val r = recon(v)
      (0 until dims).foreach { i =>
        assert(math.abs(r(i) - v(i)) <= scale(i) / 2 + 1e-6,
          s"dim $i error ${math.abs(r(i) - v(i))} > step/2 ${scale(i) / 2}")
      }
    }

    // 2. the Spark result IS the driver replay (same floats, same fold,
    //    same tie rule) — encode/decode cannot drift between engines
    val expected = (0L until Similarity.NumQueries).flatMap { qid =>
      emb.toSeq.filter(_._1 != qid)
        .map { case (nid, cv) => (nid, pqCos(emb(qid), recon(cv))) }
        .sortBy { case (nid, c) => (-c, nid) }.take(Similarity.TopK)
        .zipWithIndex.map { case ((nid, c), k) => (qid, k + 1, nid, c) }
    }
    assert(rows.toSeq == expected, "Spark SQ8 result != driver replay")

    // 3. one byte per dimension keeps the ranking: recall@k vs exact s1
    val truth = Similarity.s1BruteForce(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val found = rows.map(r => (r._1, r._3)).toSet
    val recall = (truth & found).size.toDouble / truth.size
    info(f"SQ8 recall@${Similarity.TopK} vs s1 = $recall%.2f")
    assert(recall >= 0.8, f"SQ8 recall $recall%.2f below floor")
  }

  test("s17 range search: every hit clears the radius, ranks are dense " +
      "per query, and s3's above-threshold top-k is contained in it") {
    val rows = Similarity.s17RangeSearch(s, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty, "radius search returned nothing at the gate tau")
    // radius + cap contracts
    rows.foreach { case (q, _, n, c) =>
      assert(c >= Similarity.S17Tau, s"($q,$n) cos $c below tau")
      assert(q != n)
    }
    rows.groupBy(_._1).values.foreach { g =>
      assert(g.length <= Similarity.S17Cap)
      assert(g.map(_._2).sorted.toSeq == (1 to g.length),
        "per-query ranks must be dense from 1")
      // descending cosine along the rank order (ties broken by id)
      val byRnk = g.sortBy(_._2)
      byRnk.sliding(2).foreach {
        case Array((_, _, n1, c1), (_, _, n2, c2)) =>
          assert(c1 > c2 || (c1 == c2 && n1 < n2))
        case _ =>
      }
    }
    // same probing as s3 ⇒ every s3 hit at cos ≥ tau must appear here
    val s3Above = Similarity.s3Ivf(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .filter(_._3 >= Similarity.S17Tau)
    val got = rows.map(r => (r._1, r._3)).toSet
    s3Above.foreach { case (q, n, _) =>
      assert(got.contains((q, n)), s"s3 hit ($q,$n) above tau missing from s17")
    }
  }

  test("s18 communities: labels partition the corpus, the total row " +
      "counts them, and structure is non-degenerate at the gate SF") {
    val nVecs = Tables.embeddings(s, dir).count()
    val labels = graft.operators.Graph
      .labelPropagation(Similarity.s12SymEdges(s, dir), Similarity.S18Rounds)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // every corpus vector gets exactly one label (the kNN graph gives
    // every node degree >= S12K, so LP covers the corpus)
    assert(labels.length == nVecs)
    assert(labels.map(_._1).distinct.length == labels.length)
    val commSizes = labels.groupBy(_._2).view.mapValues(_.size).toMap
    // non-degenerate: more than one community, none swallowing the corpus
    assert(commSizes.size > 1, "LP collapsed the semantic graph")
    assert(commSizes.values.max < nVecs)
    // the gate entry's total row and top rows restate exactly that
    val out = Similarity.s18GraphCommunities(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.find(_._1 == -1L).map(_._2).contains(commSizes.size.toLong))
    out.filter(_._1 != -1L).foreach { case (comm, size) =>
      assert(commSizes.get(comm).map(_.toLong).contains(size))
    }
    info(s"s18: ${commSizes.size} communities over $nVecs vectors, " +
      s"largest ${commSizes.values.max}")
  }

  private def deletePath(p: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(s.sparkContext.hadoopConfiguration).delete(path, true)
  }

  test("ivfindex and knngraph: a missing layer is restaged with the " +
      "rows it held") {
    def rows(p: String) =
      s.read.parquet(p).collect().map(_.toString).sorted.toSeq
    for ((build, layers) <- Seq[(() => String, Seq[String])](
        (() => Similarity.s8IndexPath(s, dir), Seq("base", "inc")),
        (() => Similarity.graphIndexPath(s, dir),
          Seq("assign", "probed", "edges")))) {
      val root = build()
      val before = layers.map(l => rows(s"$root/$l"))
      layers.foreach { l =>
        deletePath(s"$root/$l")
        assert(build() == root)
        assert(Artifacts.committed(s, s"$root/$l"), s"$root/$l not restaged")
        assert(layers.map(l => rows(s"$root/$l")) == before,
          s"$root/$l restaged with other rows")
      }
    }
  }

  test("s8's index is keyed by its quantizer: after a different, validly " +
      "checksummed centroid artifact replaces the trained one, s8 reads " +
      "cells assigned by the new centroids") {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val centDir =
      java.nio.file.Files.createTempDirectory("graft-cent").toString
    s.conf.set("spark.graft.centroids.dir", centDir)
    var replaced: Option[String] = None
    try {
      Artifacts.clear("similarity.centroids")
      val trained = Similarity.centroidsFor(s, dir)
      Similarity.s8IndexPath(s, dir)
      // the same centroids in reverse id order, stored with their own
      // valid checksum, so the store loads them instead of retraining
      val swapped = trained.reverse
      val sig = Similarity.centroidSig(swapped)
      swapped.zipWithIndex.map { case (v, i) => (i, v, sig) }.toSeq
        .toDF("cid", "embedding", "sig").coalesce(1)
        .write.mode("overwrite")
        .parquet(s"$centDir/${Tables.fingerprint(s, dir, "embeddings")}")
      Artifacts.clear("similarity.centroids")
      val loaded = Similarity.centroidsFor(s, dir)
      assert(loaded.map(_.toSeq).toSeq == swapped.map(_.toSeq).toSeq,
        "the store did not load the replacement artifact")
      val idx = Similarity.s8IndexPath(s, dir)
      replaced = Some(idx)
      def cells(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val stored = cells(s.read.parquet(s"$idx/base")
        .unionByName(s.read.parquet(s"$idx/inc"))
        .select(col("vec_id"), col("cell").cast("int")))
      val fresh = cells(Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .unionByName(s.read.parquet(Similarity.s8IncrementPath(s, dir)))
        .select(col("vec_id"),
          Similarity.ivfCellCol(loaded).cast("int").as("cell")))
      val wrong = fresh.count { case (id, c) => !stored.get(id).contains(c) }
      assert(stored.size == fresh.size && wrong == 0, s"s8 read $wrong of " +
        s"${fresh.size} rows in cells other centroids assigned")
    } finally {
      s.conf.unset("spark.graft.centroids.dir")
      Artifacts.clear("similarity.centroids")
      replaced.foreach(deletePath)
    }
  }
}
