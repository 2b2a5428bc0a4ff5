package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Graph}

class GraphSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  /** Brute-force ground truth: union-find over the same edges. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)], maxIter: Int = 20): Map[Long, Long] = {
    import s.implicits._
    Graph.connectedComponents(edges.toDF("src", "dst"), maxIter)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("components match union-find on a seeded random graph") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    assert(ccOf(edges) == unionFind(edges))
  }

  test("a 1000-node chain collapses within the round budget (naive propagation would need 1000)") {
    val edges = (0L until 999L).map(i => (i, i + 1))
    val got = ccOf(edges, maxIter = 12)
    assert(got.size == 1000 && got.values.forall(_ == 0L))
  }

  test("direction and duplicate edges are irrelevant; self loops ignored") {
    val got = ccOf(Seq((5L, 2L), (2L, 5L), (5L, 2L), (9L, 9L), (2L, 7L)))
    // (9,9) is a self loop: node 9 never materializes as a component member
    assert(got == Map(2L -> 2L, 5L -> 2L, 7L -> 2L))
  }

  test("empty edge set yields an empty result") {
    assert(ccOf(Seq.empty).isEmpty)
  }

  test("one contraction round executes keyed hash shuffles only (plan audit)") {
    import org.apache.spark.sql.functions.col
    // audit the PRODUCTION round shape: the driver loop runs the
    // COMPOSED smallStar∘largeStar over a lineage-cut edge set, one
    // eager checkpoint per round (the round-8 interleaved A/B found
    // checkpointing between the stars buys nothing — SURVEY §5)
    val edges = s.range(1, 2001)
      .select((col("id") - 1).as("u"), col("id").as("v"))
      .localCheckpoint(true)
    val round = Graph.smallStar(Graph.largeStar(edges))
    round.queryExecution.toRdd.count() // drive to the AQE final plan
    val plan = round.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val lines = plan.linesIterator.toSeq
    // every shuffle a round executes is a keyed hashpartitioning — the
    // partition-all-to-one / sort-the-world / all-pairs shapes that
    // would bottleneck a 100 TB contraction must never appear
    assert(!lines.exists(_.contains("Exchange rangepartitioning")), plan)
    assert(!lines.exists(_.contains("Exchange SinglePartition")), plan)
    assert(!lines.exists(_.contains("CartesianProduct")), plan)
    assert(!lines.exists(_.contains("BroadcastNestedLoopJoin")), plan)
    val executed = lines.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    val reused = lines.count(_.contains("ReusedExchange"))
    // the composed round executes a BOUNDED, size-independent number of
    // keyed exchanges: per star op a groupBy-min agg, a join side and a
    // distinct, with smallStar's three embeddings of the largeStar
    // subtree re-executing its (cheap) exchanges — ≤8 total. A naive
    // respelling (cartesian candidate generation, range partitioning,
    // per-node driver loops) breaks the bound or the shape asserts.
    assert(executed + reused <= 8,
      s"round executed $executed (+$reused reused) exchanges:\n$plan")
    info(s"round plan: $executed executed + $reused reused keyed exchanges")
  }

  test("d8 assigns every document a cluster; clusters agree with union-find over confirmed pairs") {
    import org.apache.spark.sql.functions.col
    val confirmed = Dedup.d4Confirm(s, dir, Dedup.d2Minhash(s, dir))
      .filter(col("jaccard") >= Dedup.KeepMinJaccard)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val truth = unionFind(confirmed)
    val got = Dedup.d8DedupClusters(s, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nDocs = graft.Tables.documents(s, dir).count()
    assert(got.size == nDocs, "one row per document")
    got.foreach { case (doc, cl) =>
      assert(cl == truth.getOrElse(doc, doc), s"doc $doc: $cl vs truth")
    }
    // the corpus has actual duplicate clusters to exercise the operator
    assert(got.exists { case (doc, cl) => doc != cl },
      "corpus produced no non-trivial cluster — d8 untested in substance")
  }

  test("q36 PageRank matches a driver-side integer replay") {
    import org.apache.spark.sql.functions._
    val trade = graft.Tables.orders(s, dir)
      .join(graft.Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")),
        concat(lit("s"), col("l_suppkey")))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1)))
    val edges = trade.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    var rank = outdeg.keys.map(_ -> Graph.PrScale).toMap
    (1 to Graph.PrIters).foreach { _ =>
      val inflow = new scala.collection.mutable.HashMap[String, Long]()
      edges.foreach { case (src, dst) =>
        inflow(dst) = inflow.getOrElse(dst, 0L) + rank(src) / outdeg(src)
      }
      rank = inflow.map { case (n, f) => n -> (150000L + (85L * f) / 100L) }.toMap
    }
    val expect = rank.toSeq.sortBy { case (n, r) => (-r, n) }
      .take(Graph.PrTopK)
    val got = Graph.q36Pagerank(s, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == expect, s"got ${got.toSeq} expect $expect")
    // the damping floor holds for every surviving node
    assert(got.forall(_._2 >= 150000L))
    // ranks genuinely discriminate (not a uniform fixed point)
    assert(got.map(_._2).distinct.length > 1)
  }

  test("q45 counts a planted K4 exactly once per triangle; a path " +
      "closes none; participation sums to 3x the total") {
    import org.apache.spark.sql.functions._
    val sess = s
    import sess.implicits._
    // K4 on items 1..4 (4 triangles, each vertex in 3); path 10-11-12
    // (0 triangles). Support comes from two users per clique/segment.
    def clicks(uid: Long, items: Seq[Int]) =
      items.map(i => (uid, s"""{"k": $i}"""))
    val rows = (
      clicks(1L, Seq(1, 2, 3, 4)) ++ clicks(2L, Seq(1, 2, 3, 4)) ++
        clicks(3L, Seq(10, 11)) ++ clicks(4L, Seq(10, 11)) ++
        clicks(5L, Seq(11, 12)) ++ clicks(6L, Seq(11, 12))
      ).zipWithIndex.map { case ((u, p), i) =>
        (i.toLong, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
          u, "click", p)
      }
    val out = java.nio.file.Files.createTempDirectory("graft-q45").toString
    rows.toDF("event_id", "ts", "user_id", "event_type", "props")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    val got = Graph.q45Triangles(s, out).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got(-1) == 4L, s"K4 has exactly 4 triangles: $got")
    Seq(1, 2, 3, 4).foreach(i =>
      assert(got(i) == 3L, s"K4 vertex $i sits in 3 triangles"))
    Seq(10, 11, 12).foreach(i =>
      assert(!got.contains(i), s"path item $i closes no triangle"))
    assert(got.filter(_._1 >= 0).values.sum == 3 * got(-1),
      "participation must sum to 3x the triangle count")
    // gate corpus: same identity (top-k covers all items at sf0.001)
    val gate = Graph.q45Triangles(s, dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(gate(-1) > 0, "gate corpus has triangles")
  }

  test("q49 BFS matches a driver replay: levels disjoint, minimal, and " +
      "complete to the horizon") {
    import org.apache.spark.sql.functions._
    val out = Graph.q49BfsHops(s, dir).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    // driver BFS over the same edge construction
    val trade = graft.Tables.orders(s, dir)
      .join(graft.Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("a"),
        concat(lit("s"), col("l_suppkey")).as("b"))
      .distinct().collect().map(r => (r.getString(0), r.getString(1)))
    val adj = (trade ++ trade.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    var dist = graft.Tables.customer(s, dir)
      .filter(col("c_custkey") < Graph.BfsSources)
      .select(concat(lit("c"), col("c_custkey"))).collect()
      .map(r => r.getString(0) -> 0).toMap
    var frontier = dist.keySet
    for (h <- 1 to Graph.BfsMaxHops) {
      val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
        .diff(dist.keySet)
      dist = dist ++ next.map(_ -> h)
      frontier = next
    }
    assert(out == dist)
    // minimality: every dist-h node has a neighbor at dist h-1
    out.filter(_._2 > 0).foreach { case (n, h) =>
      assert(adj(n).exists(m => out.get(m).contains(h - 1)),
        s"$n at $h lacks an h-1 neighbor")
    }
    // completeness at the horizon: nothing reachable in ≤ MaxHops is
    // missing (the replay IS the reachable set), and nothing beyond it
    // leaked in
    assert(out.values.forall(_ <= Graph.BfsMaxHops))
  }

  test("q55 cheapest paths match a full Bellman-Ford driver replay " +
      "(delta relaxation ≡ full relaxation), sources at 0, BFS set covered") {
    import org.apache.spark.sql.functions._
    val out = Graph.q55CheapestPath(s, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // driver replay: the same weighted graph, FULL relaxation rounds
    val trade = graft.Tables.orders(s, dir)
      .join(graft.Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(concat(lit("c"), col("o_custkey")).as("a"),
        concat(lit("s"), col("l_suppkey")).as("b"))
      .agg(countDistinct("o_orderkey").as("w"))
      .collect().map(r => (r.getString(0), r.getString(1),
        math.max(1L, Graph.SsspCostScale / r.getLong(2))))
    val edges = trade.map { case (a, b, c) => (a, b, c) } ++
      trade.map { case (a, b, c) => (b, a, c) }
    var dist = graft.Tables.customer(s, dir)
      .filter(col("c_custkey") < Graph.BfsSources)
      .select(concat(lit("c"), col("c_custkey"))).collect()
      .map(r => r.getString(0) -> 0L).toMap
    for (_ <- 1 to Graph.BfsMaxHops) {
      val relaxed = edges.flatMap { case (u, v, c) =>
        dist.get(u).map(du => v -> (du + c))
      }.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      dist = (dist.keySet ++ relaxed.keySet).map { n =>
        n -> math.min(dist.getOrElse(n, Long.MaxValue),
          relaxed.getOrElse(n, Long.MaxValue))
      }.toMap
    }
    assert(out == dist, "distributed delta relaxation != full replay")
    // sources at cost 0; weighted reach equals the unweighted BFS set
    // (same graph, same horizon — costs change values, not coverage)
    (0L until Graph.BfsSources).foreach(i => assert(out(s"c$i") == 0L))
    val bfs = Graph.q49BfsHops(s, dir).collect().map(_.getString(0)).toSet
    assert(out.keySet == bfs)
  }

  /** Driver-side synchronous LP replay — mode of neighbor labels,
    * ties to the smallest label. */
  private def lpReplay(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val both = edges ++ edges.map(_.swap)
    val adj = both.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keys.map(k => k -> k).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(labels).view.mapValues(_.size)
        n -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    labels
  }

  private def lpOf(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val e = edges.toDF("src", "dst")
    val sym = e.unionAll(e.select(col("dst").as("src"), col("src").as("dst")))
    Graph.labelPropagation(sym, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("label propagation matches a driver replay and separates two " +
      "planted cliques joined by one bridge edge") {
    // two 6-cliques {0..5}, {10..15} plus bridge 5–10: LP must settle
    // each clique on its own minimum label without the bridge merging
    // them (the mode inside a clique drowns one cross label)
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = clique(0L to 5L) ++ clique(10L to 15L) :+ (5L, 10L)
    val got = lpOf(edges, rounds = 4)
    assert(got == lpReplay(edges, 4))
    assert((0L to 5L).map(got).toSet.size == 1)
    assert((10L to 15L).map(got).toSet.size == 1)
    assert(got(0L) != got(15L), "bridge edge must not merge the cliques")
    // and on a seeded random graph the distributed rounds replay exactly
    val rnd = new scala.util.Random(11)
    val rand = Seq.fill(500)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    assert(lpOf(rand, 3) == lpReplay(rand, 3))
  }

  test("label propagation tie rule: tied neighbor modes resolve to the " +
      "smallest label in both engines' spelling") {
    // node 100's four neighbors carry pairwise-distinct then pairwise-
    // tied labels across the rounds — every mode it takes is a tie, so
    // the equality below holds only if the distributed (count DESC,
    // label ASC) rule matches the replay's minBy((-c, l)) exactly
    val edges = Seq((1L, 2L), (7L, 8L),
      (100L, 1L), (100L, 2L), (100L, 7L), (100L, 8L))
    val got = lpOf(edges, rounds = 2)
    assert(got == lpReplay(edges, 2))
  }
}
