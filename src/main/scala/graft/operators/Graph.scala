package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Artifacts.Scope

/** Distributed connected components over an edge list — the clustering
  * tail of a corpus-dedup pass (greedy keep-lists drop the GREATER side
  * of each confirmed pair; component ids additionally name the whole
  * duplicate CLUSTER, which is what curation reports, cluster-size
  * filters, and canonical-representative picks need).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each round
  * is two hash-shuffles on node id (a groupBy-min and a join), and the
  * edge set converges to a star per component (every node pointing at
  * its component's MINIMUM node id) in O(log² n) rounds, typically a
  * handful. This is the 100 TB-safe shape: no per-node adjacency lists
  * on the driver, no O(diameter) propagation (a naive min-label loop
  * needs as many rounds as the longest path — thousands for chain-shaped
  * near-dup clusters; star contraction collapses chains exponentially).
  *
  * Per-round lineage is cut with an EAGER localCheckpoint — without it
  * the plan doubles every iteration and Catalyst analysis time explodes
  * by round ~10 (on a real cluster, checkpoint to the reliable store
  * instead when preemption matters).
  *
  * Reference behavior anchor: the course's dedup-on-ingest semantics
  * (airflow/dags/twitter_airflow.py:69-92 — csv_to_sqlite appends only
  * records not already present) stop at "drop the duplicate"; component
  * ids additionally name which records were duplicates OF EACH OTHER —
  * the same "pairs → transitive clusters" step, expressed as the
  * standard distributed star contraction.
  */
object Graph {

  /** (id, component) for every node appearing in `edges`, where
    * component = the minimum node id reachable from `id`. `edges` needs
    * two integral columns named `src`, `dst`; direction and duplicates
    * are irrelevant. Empty edge sets yield an empty result. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame =
    graft.Artifacts.scoped(edges.sparkSession, "graph.cc")(
      connectedComponents(_, edges, maxIter))

  /** [[connectedComponents]] with its cuts in the caller's scope. */
  private[graft] def connectedComponents(sc: Scope, edges: DataFrame,
      maxIter: Int): DataFrame = {
    // single EAGER cut of the upstream lineage: `nodes` and the
    // iteration both derive from this one materialized edge set, so a
    // possibly-expensive producer plan (for d8: the whole
    // d2Minhash→d4Confirm screen/confirm chain) executes exactly once —
    // deriving each from the raw plan would re-execute it per consumer
    val base = sc.cut(edges
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct())

    // one row per node of the ORIGINAL graph (contraction rounds drop
    // nodes from the edge set as they become interior; membership must
    // survive that) — cheap re-derivation from the checkpointed base
    val nodes = base.select(col("u").as("id"))
      .unionAll(base.select(col("v").as("id"))).distinct()

    /** Canonical order-insensitive signature of an edge set: count plus
      * TWO independently-salted sums of per-edge hashes — one cheap
      * aggregate per round, no driver-side edge materialization.
      * Convergence is declared only when count AND both hash sums match:
      * a false stop needs two different edge sets to collide on two
      * independent 64-bit sums simultaneously (~2⁻¹²⁸ per round — not a
      * realistic failure mode, vs ~2⁻⁶⁴ for a single sum where "cheap to
      * harden" applies). */
    def sig(e: DataFrame): (Long, Long, Long) = {
      val a = least(col("u"), col("v"))
      val b = greatest(col("u"), col("v"))
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(a, b)), lit(0L)),
        // distinct leading literal ⇒ an independent hash family
        coalesce(sum(xxhash64(lit(0x9E3779B97F4A7C15L), a, b)), lit(0L)))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    // ONE eager cut per round, of the COMPOSED round: smallStar
      // embeds largeStar three times (groupBy-min, join probe, the
      // union's m branch) and exchange reuse does not canonicalize
      // across the embeddings (the distinct() collapses differently
      // into each downstream aggregate), so the composed plan
      // recomputes the largeStar subtree. The round-8 interleaved A/B
      // (SURVEY §5) measured composed vs split-checkpoint rounds
      // indistinguishable — the recompute is pipelined map work costing
      // about what the extra eager materialization barrier saves — so
      // the composed spelling wins on simplicity; on a real cluster it
    // also avoids one distributed-store write per round. A round has
    // converged when its signature equals the previous round's.
    var lastSig = sig(base)
    val (cur, converged) =
      if (lastSig._1 == 0) (base, true)
      else sc.roundsUntil(base, maxIter)(e => smallStar(largeStar(e))) {
        next =>
          val nextSig = sig(next)
          val same = nextSig == lastSig
          lastSig = nextSig
          same
      }
    require(converged,
      s"connectedComponents did not converge in $maxIter rounds " +
        "(star contraction needs O(log^2 n) — raise maxIter)")

    // converged edge set is (member -> component-min) stars; nodes that
    // ended up only as centers (or whose component is a single edge
    // already canonical) are their own component
    val membership = cur.select(col("u").as("id"), col("v").as("component"))
    nodes.join(membership, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** large-star: every node links its LARGER neighbors to the minimum
    * of its closed neighborhood — long chains fold in half each round.
    * Object-level (not nested in the driver loop) so GraphSpec can put
    * ONE round's executed plan under audit: every shuffle in a round
    * must be a keyed hashpartitioning on node id / edge identity —
    * never a cartesian, range or single-partition exchange. */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val adj = e.unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val m = adj.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))
    adj.join(m, "u").filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** small-star: every node links its SMALLER neighbors (and itself)
    * to the minimum among them — flattens the downward edges produced
    * by large-star into a star. `m` (one row per star center) feeds
    * both the join build side and the union's center→min branch —
    * recomputed, not materialized (the round-8 A/B found eager cuts
    * inside the round buy nothing — SURVEY §5). */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val down = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val m = down.groupBy("u").agg(min("v").as("m"))
    down.join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .unionAll(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  // ------------------------------------------------------ q36 PageRank

  /** PageRank iterations (fixed — the gate verifies a deterministic
    * computation, not a convergence test) and the fixed-point scale:
    * ranks live in millionths, damping 0.85 as the exact integer step
    * `150000 + (85·inflow) div 100`. */
  val PrIters = 5
  val PrScale = 1000000L
  val PrTopK = 20

  /** q36: PAGERANK over the customer–supplier trade graph — the
    * iterative message-passing analytic beside d8's star contraction
    * (components answer "which nodes connect"; PageRank answers "which
    * nodes matter", the centrality every entity-resolution / source-
    * trust pipeline runs on its link graph). Nodes are 'c<custkey>' /
    * 's<suppkey>', edges the distinct trade pairs from orders⋈lineitem
    * symmetrized (both directions — no dangling nodes by
    * construction, so no dangling-mass term). All arithmetic is exact
    * fixed-point INTEGER: contrib = rank div outdeg, next =
    * 150000 + (85·Σcontrib) div 100 — order-free integer sums, so the
    * result is bit-identical however partials merge, and the DuckDB
    * oracle UNROLLS the same five iterations as stacked CTEs (SQL
    * forbids aggregation inside a recursive CTE member — same pattern
    * as c10's trainer replay).
    *
    * Scale shape: nodes travel as fixed-width LONGS (custkey → 2k,
    * suppkey → 2k+1 — labels minted only for the final 20-row
    * output), the symmetrized edge list is eagerly localCheckpoint'ed
    * before the out-degree pass (so the degree agg and the
    * degree-attach probe both read the materialized rows instead of
    * re-deriving the orders⋈lineitem distinct), out-degrees attach
    * via a BROADCAST join (node-cardinality beside the edge list),
    * and the degree-attached list is checkpointed once more as the
    * per-round probe side (the [[connectedComponents]] lineage rule:
    * without the cut the plan grows by a full copy per round);
    * each iteration then BROADCASTS the rank vector (node-
    * cardinality — orders of magnitude smaller than the edge list it
    * joins) so the join is map-side against the checkpointed edges and
    * the only keyed shuffle per round is the dst re-aggregation; the
    * final top-k is a TakeOrderedAndProject. The per-round eager
    * localCheckpoint on ranks is cheap (node-sized) and keeps the
    * broadcast subtree flat — without it, materializing round N's
    * broadcast would re-execute rounds 1..N-1. A rank row is two
    * longs, so the broadcast rank vector stays small at every corpus
    * here (about 16k nodes at sf0.1). */
  def q36Pagerank(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "graph.q36") { sc =>
      // Integer node ids on the wire (custkey → 2k, suppkey → 2k+1):
      // every shuffle hashes and compares fixed-width longs instead of
      // the 'c…'/'s…' label strings (which cut the one-time edge build
      // from ~8 s to ~2 s at sf0.1); the labels the gate pins are
      // minted only for the final node-sized sort.
      val trade = graft.Tables.orders(s, dir)
        .join(graft.Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("a"),
          (col("l_suppkey").cast("long") * 2 + 1).as("b"))
        .distinct()
      // both directions in ONE pass over the trade plan (explode of a
      // 2-struct array) instead of a 2-branch union: exchange reuse
      // already shared the trade join's shuffle across the branches,
      // but each branch re-ran the distinct's final aggregate over it —
      // measured r18: edge build 1.21 s (union) → 1.07 s (explode) at
      // sf0.1 (same in q49/q55)
      val edges = sc.cut(trade
        .select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
      val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val eo = sc.cut(edges.join(broadcast(outdeg), "src"))
      val init = sc.cut(outdeg
        .select(col("src").as("node"), lit(PrScale).as("rank")))
      sc.rounds(init, PrIters) { ranks =>
        eo.join(broadcast(ranks), col("src") === col("node"))
          .select(col("dst"), expr("rank div outdeg").as("contrib"))
          .groupBy("dst").agg(sum("contrib").as("inflow"))
          .select(col("dst").as("node"),
            expr("150000 + (85 * inflow) div 100").as("rank"))
      }
        .select(when(col("node") % 2 === 0,
            concat(lit("c"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
          .as("node"), col("rank"))
        .orderBy(col("rank").desc, col("node")).limit(PrTopK)
    }

  /** The q36 oracle: same node/edge construction, same five unrolled
    * integer iterations. */
  private[operators] def sqlPagerankOracle: String = {
    val iters = (1 to PrIters).map { i =>
      s"""pr$i AS (
         |  SELECT e.dst AS node,
         |    150000 + (85 * sum(p.rank // e.outdeg)) // 100 AS rank
         |  FROM eo e JOIN pr${i - 1} p ON p.node = e.src
         |  GROUP BY e.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH trade AS (
       |  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT a AS src, b AS dst FROM trade
       |  UNION ALL SELECT b AS src, a AS dst FROM trade),
       |outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
       |eo AS (SELECT e.src, e.dst, o.outdeg FROM edges e
       |       JOIN outdeg o ON o.src = e.src),
       |pr0 AS (SELECT src AS node, $PrScale AS rank FROM outdeg),
       |$iters
       |SELECT node, CAST(rank AS BIGINT) AS rank FROM pr$PrIters
       |ORDER BY rank DESC, node LIMIT $PrTopK""".stripMargin
  }

  /** q45 edge support: an item pair becomes a graph edge when at least
    * this many distinct (capped) user profiles contain both. 2 filters
    * the sf0.001 noise floor (820 → 91 edges) while staying non-trivial
    * at every SF (55 / 24.5k / 161.6k triangles). */
  val TriMinUsers = 2
  /** Output size: top items by triangle participation. */
  val TriTopK = 20

  /** The q45 item graph: q37's capped co-occurrence pairs (the SAME
    * power-user cap and deterministic profile rule — Relational.CoocCap)
    * kept at support ≥ [[TriMinUsers]], as (ia < ib) ordered edges. */
  private def itemEdges(s: SparkSession, dir: String): DataFrame = {
    val capped = Relational.cappedClickProfiles(s, dir)
    capped.select(col("user_id"), col("item").as("ia"))
      .join(capped.select(col("user_id"), col("item").as("ib")), "user_id")
      .filter(col("ia") < col("ib"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("users"))
      .filter(col("users") >= TriMinUsers)
      .select("ia", "ib")
  }

  /** q45: TRIANGLE COUNTING on the item co-occurrence graph — the
    * clustering-structure analytic next to q36's centrality (a
    * triangle-dense neighborhood is a coherent product/topic cluster;
    * triangle counts feed clustering coefficients and community
    * detection). Compact-forward enumeration (Latapy 2008): edges are
    * oriented by id (ia < ib), wedges built by joining edge lists on
    * the middle node, then closed by a third edge lookup — each
    * triangle {a<b<c} is found EXACTLY once as wedge (a-b, b-c) plus
    * closing edge (a, c), no dedup pass needed. Output: the global
    * triangle count stacked with per-item participation for the top
    * [[TriTopK]] items — all exact integers, so the 3-way-self-join
    * oracle hash-matches at every SF.
    *
    * Scale shape: the graph is CANDIDATE-BOUNDED before any join —
    * q37's per-user cap bounds pair fan-out, the support floor prunes
    * noise edges — and the wedge join is the only quadratic-risk step:
    * its size is Σ_b deg⁻(b)·deg⁺(b), which production bounds by
    * orienting edges from low to high DEGREE (arboricity bound) rather
    * than id; on this corpus the id orientation is the deterministic
    * stand-in (items are near-uniform). Both joins shuffle edge-sized
    * frames, never user×item rows; the close-join output is exactly
    * the triangle set. */
  def q45Triangles(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "graph.q45") { sc =>
      val e = sc.cut(itemEdges(s, dir)) // built once, joined 3×
      val tri = sc.cut(e.as("x") // reused by the total and the per-item stack
        .join(e.as("y"), col("x.ib") === col("y.ia"))
        .join(e.as("z"),
          col("z.ia") === col("x.ia") && col("z.ib") === col("y.ib"))
        .select(col("x.ia").as("a"), col("x.ib").as("b"), col("y.ib").as("c")))
      val total = tri.agg(count(lit(1)).as("cnt"))
        .select(lit(-1).as("item"), col("cnt").as("n_triangles"))
      val perItem = tri.select(col("a").as("item"))
        .unionAll(tri.select(col("b").as("item")))
        .unionAll(tri.select(col("c").as("item")))
        .groupBy("item").agg(count(lit(1)).as("n_triangles"))
        .orderBy(col("n_triangles").desc, col("item"))
        .limit(TriTopK)
      total.unionAll(perItem)
        .orderBy(col("item"))
    }

  private def sqlTrianglesOracle: String =
    s"""WITH ${Relational.sqlCappedProfilesCtes},
       |e AS (
       |  SELECT a.item AS ia, b.item AS ib
       |  FROM capped a JOIN capped b
       |    ON a.user_id = b.user_id AND a.item < b.item
       |  GROUP BY 1, 2 HAVING count(*) >= $TriMinUsers),
       |tri AS (
       |  SELECT x.ia AS a, x.ib AS b, y.ib AS c
       |  FROM e x JOIN e y ON x.ib = y.ia
       |    JOIN e z ON z.ia = x.ia AND z.ib = y.ib),
       |per_item AS (
       |  SELECT item, CAST(count(*) AS BIGINT) AS n_triangles FROM (
       |    SELECT a AS item FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) u
       |  GROUP BY item ORDER BY n_triangles DESC, item LIMIT $TriTopK)
       |SELECT item, n_triangles FROM (
       |  SELECT -1 AS item, CAST(count(*) AS BIGINT) AS n_triangles
       |  FROM tri
       |  UNION ALL
       |  SELECT item, n_triangles FROM per_item) t
       |ORDER BY item""".stripMargin

  /** BFS horizon: hop distances beyond this are not materialized (a
    * production reachability query always bounds its radius). 4 gives
    * non-trivial level structure at every SF — the dense bipartite
    * trade graph saturates at 2 hops at sf0.001 (every supplier
    * serves the sources), grows a 4th level at sf0.01 and the full
    * 0..4 ladder at sf0.1 (201 nodes first reached at the horizon). */
  val BfsMaxHops = 4
  /** BFS sources: customers with custkey < this (multi-source — the
    * "blast radius of these accounts" shape). */
  val BfsSources = 3

  /** q49: multi-source BFS HOP DISTANCE over the trade graph — the
    * REACHABILITY analytic beside q36's centrality and d8's
    * components: "everything within k hops of these accounts" is the
    * fraud blast-radius / recall-expansion query every link graph
    * serves. The iterative shape is the FRONTIER pattern (monotone
    * set growth + anti-join against the settled set), deliberately
    * distinct from q36's value iteration (re-aggregate everything
    * every round): work per round ∝ the FRONTIER's edges, not the
    * graph, and a settled node never moves again — so BFS cost is
    * output-bounded, the property that makes bounded-radius queries
    * cheap at 100 TB.
    *
    * Nodes ride as fixed-width longs (q36's 2k/2k+1 encoding; labels
    * minted only for the final output). Per round: one keyed join
    * edges⋈frontier, a distinct on the (frontier-edge-bounded) next
    * set, and a LEFT ANTI against settled — settled and frontier are
    * eagerly localCheckpoint'ed (the connectedComponents lineage
    * rule; the per-round audit is Explain's stage-segment machinery,
    * not the lineage-blind plan dump). Frontier frames are
    * node-sized; the anti-join's build side is the settled set —
    * node-cardinality, the same budget q36's adaptive rank join
    * manages. Oracle: the same levels UNROLLED as stacked CTEs
    * (NOT IN the settled union — the c10/q36 discipline). Distances
    * are small ints; hop membership is set equality, so the gate is
    * hash-exact without any arithmetic discipline beyond determinism.
    * Spec: driver-side BFS replay, level disjointness, minimality
    * (every dist-h node has a dist-(h-1) neighbor), and the frontier
    * plan's anti-join shape. */
  def q49BfsHops(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "graph.q49") { sc =>
      val trade = graft.Tables.orders(s, dir)
        .join(graft.Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey").cast("long") * 2).as("a"),
          (col("l_suppkey").cast("long") * 2 + 1).as("b"))
        .distinct()
      // single-pass both-directions explode — the q36 spelling
      val edges = sc.cut(trade
        .select(explode(array(
          struct(col("a").as("src"), col("b").as("dst")),
          struct(col("b").as("src"), col("a").as("dst")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst")))
      val level0 = sc.cut(graft.Tables.customer(s, dir)
        .filter(col("c_custkey") < BfsSources)
        .select((col("c_custkey").cast("long") * 2).as("node"))
        .withColumn("dist", lit(0)))
      // the settled set is kept as the LIST of checkpointed levels and
      // unioned lazily where consumed (anti-join build side, final
      // output) — re-checkpointing the whole accumulated set every
      // round paid one extra eager job per hop and re-materialized rows
      // the level checkpoints already hold (the union of ≤ hops+1
      // cached RDD scans costs no recompute). Strictly less pinned
      // storage too: only the disjoint levels persist, never the h
      // copies of their growing union.
      val levels = (1 to BfsMaxHops).foldLeft(Seq(level0)) { (settled, h) =>
        settled :+ sc.cut(edges
          .join(settled.last.select("node"), col("src") === col("node"))
          .select(col("dst").as("node")).distinct()
          .join(settled.reduce(_ unionByName _), Seq("node"), "left_anti")
          .withColumn("dist", lit(h)))
      }
      levels.reduce(_ unionByName _)
        .select(when(col("node") % 2 === 0,
            concat(lit("c"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
          .as("node"), col("dist"))
        .orderBy("dist", "node")
    }

  /** The q49 oracle: identical levels unrolled as stacked CTEs. */
  private[operators] def sqlBfsOracle: String = {
    val levels = (1 to BfsMaxHops).map { h =>
      s"""n$h AS (
         |  SELECT DISTINCT e.dst AS node FROM edges e
         |  JOIN d${h - 1} p ON e.src = p.node AND p.dist = ${h - 1}
         |  WHERE e.dst NOT IN (SELECT node FROM d${h - 1})),
         |d$h AS (
         |  SELECT node, dist FROM d${h - 1}
         |  UNION ALL SELECT node, $h AS dist FROM n$h)""".stripMargin
    }.mkString(",\n")
    s"""WITH trade AS (
       |  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (
       |  SELECT a AS src, b AS dst FROM trade
       |  UNION ALL SELECT b AS src, a AS dst FROM trade),
       |d0 AS (
       |  SELECT 'c' || c_custkey AS node, 0 AS dist FROM customer
       |  WHERE c_custkey < $BfsSources),
       |$levels
       |SELECT node, CAST(dist AS INTEGER) AS dist FROM d$BfsMaxHops
       |ORDER BY dist, node""".stripMargin
  }

  /** COMMUNITY DETECTION core: synchronous label propagation
    * (Raghavan et al. 2007) — every node starts as its own label; each
    * synchronous round replaces a node's label with the MODE of its
    * neighbors' labels (ties → smallest label, the deterministic
    * variant of Raghavan's random tie-break — integral ids make the
    * tie rule total). A FIXED round count keeps the output
    * deterministic and oracle-replayable (asynchronous /
    * converge-until-stable LP is visit-order-dependent, which no SQL
    * replay could mirror); Raghavan reports ~95% of nodes settled by
    * round 5, and labels travel at most `rounds` hops, so community
    * diameter is bounded by construction.
    *
    * The iteration shape is the THIRD distinct iterative pattern in
    * this family — mode relabeling, beside q36's value re-aggregation
    * and q49's frontier growth: per round one edge-sized keyed join +
    * one map-side-combinable (node, label) count + one node-sized
    * row_number. Each round is cut by [[graft.Artifacts.Scope.rounds]]
    * (at most two label vectors stored regardless of round count).
    *
    * Scale shape: per-round traffic is bounded by the edge count,
    * never node×labels (a node contributes one (node, neighbor-label)
    * row per edge, combined map-side); the row_number window
    * partitions on the id the count just shuffled on. At 10⁹-node
    * graphs each round is two keyed shuffles of edge-bounded frames —
    * the budget the [[connectedComponents]] star rounds already
    * carry.
    *
    * `edges` needs BOTH directions present (src, dst); returns one
    * (id, label) row per node with degree ≥ 1. */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame =
    graft.Artifacts.scoped(edges.sparkSession, "graph.labelPropagation")(
      labelPropagation(_, edges, rounds))

  /** [[labelPropagation]] with its cuts in the caller's scope. */
  private[graft] def labelPropagation(sc: Scope, edges: DataFrame,
      rounds: Int): DataFrame = {
    val init = sc.cut(edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")))
    // mode pick as a SORT-FREE two-level hash agg: maximize
    // (count, -label) lexicographically ≡ (count DESC, label ASC),
    // the row_number-window spelling the oracle keeps. The planted
    // 100×-clique probe measured the two spellings at parity on this
    // box (the per-round (node, label) count shuffle dominates, not
    // the window sort) — the agg form is kept because a hash agg
    // cannot hit the window sort's spill path on wide tiers, and the
    // count shuffle it keeps is map-side combinable. Ids are node
    // ids ≥ 0, so the negation cannot overflow.
    sc.rounds(init, rounds) { labels =>
      edges
        .join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"), col("label"))
        .agg(count(lit(1)).as("c"))
        .groupBy("id")
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("label"))
    }
  }

  /** q55 edge cost: strong trade relationships are cheap to traverse —
    * cost = max(1, [[SsspCostScale]] / #distinct orders on the edge).
    * Integer arithmetic end-to-end, so path costs are exact. */
  val SsspCostScale = 1000L

  /** q55: bounded WEIGHTED shortest paths (multi-source) over the
    * trade graph — q49's reachability upgraded with edge costs: "the
    * cheapest route to every account within [[BfsMaxHops]] relaxation
    * rounds", the weighted blast-radius / influence-cost query (edge
    * cost inversely proportional to trade volume: heavily-traded
    * links are short). Same sources as q49.
    *
    * Algorithm: Bellman–Ford limited to [[BfsMaxHops]] rounds — after
    * round h, dist(v) is EXACTLY the cheapest path using ≤ h edges
    * (the well-defined bounded-radius semantics; full SSSP is the
    * maxIter→diameter limit). Implemented as DELTA relaxation — the
    * FOURTH iterative pattern in this family (min-plus relaxation,
    * beside value re-aggregation / frontier growth / mode
    * relabeling): only edges out of nodes IMPROVED last round relax
    * (a non-improved node's contributions were already min-merged a
    * round earlier, so the delta rounds produce bit-identical dist
    * vectors to full relaxation — which is what the oracle unrolls),
    * then one full-outer min-merge into the settled vector. Work per
    * round ∝ the improved set's out-edges — output-bounded like q49,
    * not graph-bounded like q36.
    *
    * Scale shape: per round one keyed join (improved side shrinks
    * monotonically in practice), one map-side-combinable min, one
    * node-sized merge; each round eagerly localCheckpointed (at most
    * two rounds stored, the q36 rule). Costs and distances are exact
    * longs — the gate is hash-exact with no arithmetic discipline
    * beyond determinism. */
  def q55CheapestPath(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "graph.q55") { sc =>
      val trade = graft.Tables.orders(s, dir)
        .join(graft.Tables.lineitem(s, dir),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey").cast("long") * 2).as("a"),
          (col("l_suppkey").cast("long") * 2 + 1).as("b"))
        .agg(countDistinct(col("o_orderkey")).as("w"))
        .select(col("a"), col("b"),
          greatest(lit(1L), expr(s"$SsspCostScale div w")).as("cost"))
      // single-pass both-directions explode — the q36 spelling
      val edges = sc.cut(trade
        .select(explode(array(
          struct(col("a").as("src"), col("b").as("dst"), col("cost")),
          struct(col("b").as("src"), col("a").as("dst"), col("cost")))).as("e"))
        .select(col("e.src").as("src"), col("e.dst").as("dst"),
          col("e.cost").as("cost")))
      // a round is (node, dist, imp): `imp` marks the nodes improved in
      // that round, the only ones whose out-edges relax next
      val sources = sc.cut(graft.Tables.customer(s, dir)
        .filter(col("c_custkey") < BfsSources)
        .select((col("c_custkey").cast("long") * 2).as("node"))
        .withColumn("dist", lit(0L))
        .withColumn("imp", lit(true)))
      sc.rounds(sources, BfsMaxHops) { round =>
        val cand = edges
          .join(round.filter(col("imp")).select("node", "dist"),
            col("src") === col("node"))
          .select(col("dst").as("node"), (col("dist") + col("cost")).as("d"))
          .groupBy("node").agg(min("d").as("d"))
        round.select("node", "dist").join(cand, Seq("node"), "full_outer")
          .select(col("node"),
            coalesce(least(col("dist"), col("d")), col("dist"), col("d"))
              .as("dist"),
            (col("dist").isNull || col("d") < col("dist")).as("imp"))
      }
        .select(when(col("node") % 2 === 0,
            concat(lit("c"), expr("node div 2")))
          .otherwise(concat(lit("s"), expr("(node - 1) div 2")))
          .as("node"), col("dist"))
        .orderBy("dist", "node")
    }

  /** The q55 oracle: FULL Bellman–Ford relaxation unrolled — per-round
    * equal to the delta rounds by the standard argument above. */
  private[operators] def sqlCheapestPathOracle: String = {
    val rounds = (1 to BfsMaxHops).map { h =>
      s"""d$h AS (
         |  SELECT node, min(d) AS dist FROM (
         |    SELECT node, dist AS d FROM d${h - 1}
         |    UNION ALL
         |    SELECT e.dst AS node, p.dist + e.cost AS d
         |    FROM edges e JOIN d${h - 1} p ON p.node = e.src)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH trade AS (
       |  SELECT 'c' || o_custkey AS a, 's' || l_suppkey AS b,
       |    greatest(1, $SsspCostScale // count(DISTINCT o_orderkey))
       |      AS cost
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       |edges AS (
       |  SELECT a AS src, b AS dst, cost FROM trade
       |  UNION ALL SELECT b AS src, a AS dst, cost FROM trade),
       |d0 AS (
       |  SELECT 'c' || c_custkey AS node, CAST(0 AS BIGINT) AS dist
       |  FROM customer WHERE c_custkey < $BfsSources),
       |$rounds
       |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$BfsMaxHops
       |ORDER BY dist, node""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q36_pagerank" -> q36Pagerank,
    "q45_triangles" -> q45Triangles,
    "q49_bfs_hops" -> q49BfsHops,
    "q55_cheapest_path" -> q55CheapestPath,
  )

  val oracle: Map[String, String] = Map(
    "q36_pagerank" -> sqlPagerankOracle,
    "q45_triangles" -> sqlTrianglesOracle,
    "q49_bfs_hops" -> sqlBfsOracle,
    "q55_cheapest_path" -> sqlCheapestPathOracle,
  )
}
