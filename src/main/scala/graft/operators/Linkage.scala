package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Record linkage / entity resolution — matching DIRTY strings against
  * a clean reference list under edit distance, the data-cleaning join
  * every ingest pipeline needs (misspelled names, OCR'd ids, fat-
  * fingered codes) and the one join family the equi/asof/range trio
  * can't express: similarity is not an equality.
  *
  * Algorithm: SYMSPELL DELETION JOIN (Garbe 2012, the production spell-
  * corrector shape). For edit distance ≤ 1, two strings match only if
  * their DELETION NEIGHBORHOODS intersect (the string itself plus every
  * single-character deletion): a substitution at i shares the delete-i
  * key, an insert/delete shares the shorter string itself. So the
  * candidate set is an EQUI-join on generated delete keys — a plain
  * hash shuffle, never a quadratic similarity scan — and an exact
  * `levenshtein` verify restores precision (neighborhood intersection
  * alone admits some distance-2 pairs). Keys per string = length + 1;
  * production thresholds k ≤ 2 recurse the deletes (length² keys) and
  * still beat any scan-the-dictionary plan by orders of magnitude.
  */
object Linkage {
  /** Match threshold (edit distance). 1 = the SymSpell single-delete
    * neighborhood; the staged perturbations are calibrated to it.
    * MUST stay 1 while the deletion-key join hashes its keys: at
    * dist ≤ 1 a hash collision can only ADD candidates the exact
    * levenshtein verify discards, because SymSpell completeness
    * guarantees every true match already shares a REAL deletion key —
    * at any larger threshold the completeness argument needs
    * recursive deletes, and the hashed and string-key spellings could
    * diverge on collision-added candidates (r17 advice #4; the
    * requires at the hashed joins below pin this coupling in code). */
  val FuzzyMaxDist = 1

  /** Deterministic dirty-list derivation: every [[DirtyMod]]th customer
    * arrives re-keyed past the corpus max; those whose key divides
    * [[ExactMod]] keep their name VERBATIM (the exact-match branch,
    * distance 0), the rest lose one digit of their 9-digit suffix
    * (position key % 9 — distance exactly 1 from the source and ≥ 2
    * from every other customer, so the match is unique and planted). */
  val DirtyMod = 3
  val ExactMod = 6

  /** Delete-neighborhood keys as shared-shape SQL: the string itself
    * plus every single-character deletion, deduplicated (deleting any
    * of a run of equal characters yields the same key). */
  private def delKeysExpr(name: String): String =
    s"array_distinct(concat(array($name), " +
      s"transform(sequence(1, length($name)), " +
      s"p -> concat(substr($name, 1, p - 1), substr($name, p + 1, " +
      s"1000000)))))"

  /** q46: fuzzy entity-resolution join — dirty names matched to the
    * clean customer list at edit distance ≤ [[FuzzyMaxDist]], best
    * match per dirty record (min distance, ties to the smaller key).
    * Returns (dirty_id, matched_key, matched_name, dist) — the
    * verdicts cover both branches (exact re-uploads at distance 0,
    * single-digit corruptions at distance 1). The contract is
    * METRIC-best, not provenance: a deleted leading significant digit
    * can tie with a smaller key at the same distance (drop the '1' of
    * …105 and one insertion reaches both …105 and …005) — real entity
    * resolution has the same ambiguity, and the deterministic
    * (dist, key) tie rule settles it identically in both engines
    * (LinkageSpec measures ties < 5% of the planted list). Every
    * output value
    * is an integer or a stored string, so the DuckDB oracle (same
    * derivation, same deletion join, same verify + tie rule)
    * hash-matches at all SFs.
    *
    * Scale shape: the ONLY joins are equi-joins on delete keys
    * (hash-partitioned; keys per name = length + 1, so the exploded
    * frames are ~19× the name lists — linear, metadata-sized next to
    * any fact table), then a candidate-bounded levenshtein verify and
    * one WindowGroupLimit rank per dirty name. No similarity scan
    * ever touches the full clean×dirty cross product. Both sides are
    * first COLLAPSED TO DISTINCT NAMES (the d2/d11 content-groups
    * lesson): entity data is full of exact-duplicate names, and
    * keying per ROW makes every deletion bucket grow with the
    * duplication factor — candidate pairs then grow with its SQUARE
    * (the 10× ScaleBench corpus, which replicates keys but not
    * names, drove the row-granularity spelling to 43× wall; the
    * collapsed spelling's matching work rides the DISTINCT-name
    * count). The (dist, min c_custkey) winner per distinct dirty
    * name expands to members afterwards — bit-identical to the
    * row-granularity rule, since for equal names distance is equal
    * and the min key over rows IS the min over name-groups' min
    * keys. */
  def q46FuzzyJoin(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "linkage.q46") { sc =>
      val clean = Tables.customer(s, dir).select(
        col("c_custkey"), col("c_name"))
      val maxId = clean.agg(max("c_custkey")).head().getLong(0)
      val dirty = clean
        .filter(col("c_custkey") % DirtyMod === 0)
        .select((col("c_custkey") + maxId + 1).as("d_id"),
          when(col("c_custkey") % ExactMod === 0, col("c_name"))
            .otherwise(expr(
              "concat(substr(c_name, 1, 9 + CAST(c_custkey % 9 AS INT)), " +
                "substr(c_name, 11 + CAST(c_custkey % 9 AS INT), 1000000))"))
            .as("d_name"))
      val cleanNames = clean.groupBy("c_name")
        .agg(min("c_custkey").as("c_custkey"))
      val dirtyNames = dirty.groupBy("d_name")
        .agg(sort_array(collect_list(col("d_id"))).as("members"))
      // join on the 64-bit HASH of each deletion key, not the key string:
      // the candidate join's build side carries every exploded key (names
      // × ~19), and hashing fixed-width longs shrinks its exchange/
      // broadcast bytes ~3× and its hash-relation build (the measured
      // load-sensitive serial driver cost — SURVEY §5 q46 adjudication).
      // Result-identical: distance ≤ 1 names ALWAYS share a deletion key
      // (SymSpell completeness), so a hash collision can only ADD
      // candidates, and the exact levenshtein verify already discards
      // every non-match (guide §2.3: shuffle keys, not payloads).
      val cleanKeys = cleanNames
        .select(col("c_custkey"), col("c_name"),
          explode(expr(delKeysExpr("c_name"))).as("ks"))
        .select(col("c_custkey"), col("c_name"), xxhash64(col("ks")).as("k"))
      val dirtyKeys = dirtyNames
        .select(col("d_name"), explode(expr(delKeysExpr("d_name"))).as("ks"))
        .select(col("d_name"), xxhash64(col("ks")).as("k"))
      val w = Window.partitionBy("d_name")
        .orderBy(col("dist"), col("c_custkey"))
      // the distinct is CUT (eager localCheckpoint) before the verify:
      // left lazy, Catalyst pushes the deterministic levenshtein filter
      // through the aggregate INTO the join condition, so the verify ran
      // per key-match INSTANCE (~10–19× per pair on dense ids — the
      // probe measured the pushed spelling at +1.7 s of the 5.2 s wall)
      // instead of once per distinct candidate pair; the checkpointed
      // frame is candidate-bounded (≤ keys × bucket size). Same-JVM
      // alternating A/B at sf0.1 (OPTIMIZATION_r18): cut median 3.23 s,
      // pushed 4.15 s
      require(FuzzyMaxDist == 1,
        "hashed deletion-key join requires the single-delete neighborhood")
      val cand = sc.cut(dirtyKeys.join(cleanKeys, "k")
        .select("d_name", "c_custkey", "c_name")
        .distinct())
      val best = cand
        .withColumn("dist", levenshtein(col("d_name"), col("c_name")))
        .filter(col("dist") <= FuzzyMaxDist)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") === 1)
      best.join(dirtyNames, "d_name")
        .select(explode(col("members")).as("d_id"),
          col("c_custkey").as("matched_key"),
          col("c_name").as("matched_name"), col("dist").cast("int").as("dist"))
        .orderBy("d_id")
    }

  /** q53: WITHIN-TABLE entity resolution — the full ER pipeline shape
    * (block → match → MERGE-OR-QUEUE) where q46 stops at
    * match-to-reference: every record of the combined list (clean
    * customers ∪ staged dirty re-uploads) gets an entity id and a
    * VERDICT — `master` (canonical), `merged` (an incoming record
    * whose lev ≤ 1 match set contains EXACTLY ONE master — it joins
    * that master's entity), or `ambiguous` (more than one master in
    * range — queued for review, kept a singleton entity). This is
    * the production MDM discipline: auto-merge only on an
    * unambiguous match, never transitively.
    *
    * Transitive lev-1 clustering is deliberately ABSENT, and the
    * corpus shows why it must be: on dense sequential ids a
    * digit-DELETED variant sits within one insertion of ~10 masters,
    * so transitive closure over lev-1 links percolates — measured on
    * the first spelling: ONE "entity" swallowed all 15,000 masters
    * at sf0.1 (and its recursive-CTE oracle paid 425s for the
    * component² closure). Real MDM systems refuse exactly that merge;
    * the unique-match rule is the refusal, and ambiguity rates are
    * the audit (spec-measured per SF: sparse ids at sf0.001 make
    * most variants unique; dense sf0.1 ids make most ambiguous —
    * the rule's behavior tracks the data, as it should).
    *
    * Plan: q46's deletion-neighborhood machinery at DISTINCT-NAME
    * granularity, masters only on the index side (half the key
    * volume); one candidate-bounded verify; one name-keyed
    * match-count aggregation; verdicts joined back — all equi-joins,
    * no closure, no iteration. All-integer/string output,
    * hash-exact. customer.
    *
    * Unlike q46, the candidate DISTINCT stays lazy: Catalyst pushes
    * the levenshtein verify into the join condition, so it runs per
    * key-match instance instead of per distinct pair, and that extra
    * work costs less than the materialization job q46's cut pays
    * (same-JVM alternating A/B, lazy vs cut median: 1.55 vs 1.65 s at
    * sf0.1, OPTIMIZATION_r18; 1.91 vs 2.08 s on the 10× ScaleBench
    * copy, lazy faster in 7 of 8 pairs). */
  def q53ErClusters(s: SparkSession, dir: String): DataFrame = {
    val clean = Tables.customer(s, dir)
      .select(col("c_custkey").as("rec_id"), col("c_name").as("name"))
    val maxId = clean.agg(max("rec_id")).head().getLong(0)
    val dirty = Tables.customer(s, dir)
      .filter(col("c_custkey") % DirtyMod === 0)
      .select((col("c_custkey") + maxId + 1).as("rec_id"),
        when(col("c_custkey") % ExactMod === 0, col("c_name"))
          .otherwise(expr(
            "concat(substr(c_name, 1, 9 + CAST(c_custkey % 9 AS INT)), " +
              "substr(c_name, 11 + CAST(c_custkey % 9 AS INT), 1000000))"))
          .as("name"))
    val recs = clean.unionByName(dirty)
    val names = recs.groupBy("name").agg(min("rec_id").as("nid"),
      max(when(col("rec_id") <= maxId, 1).otherwise(0)).as("is_clean"))
    val masters = names.filter(col("is_clean") === 1)
    val incoming = names.filter(col("is_clean") === 0)
    // hashed deletion keys — the q46 spelling and argument (a collision
    // only adds candidates; the exact levenshtein verify removes them)
    val mKeys = masters.select(col("nid").as("m_nid"),
        col("name").as("m_name"), explode(expr(delKeysExpr("name"))).as("ks"))
      .select(col("m_nid"), col("m_name"), xxhash64(col("ks")).as("k"))
    val iKeys = incoming.select(col("nid"), col("name"),
        explode(expr(delKeysExpr("name"))).as("ks"))
      .select(col("nid"), col("name"), xxhash64(col("ks")).as("k"))
    require(FuzzyMaxDist == 1,
      "hashed deletion-key join requires the single-delete neighborhood")
    val matches = iKeys.join(mKeys, "k")
      .select("nid", "name", "m_nid", "m_name").distinct()
      .filter(levenshtein(col("name"), col("m_name")) <= FuzzyMaxDist)
      .groupBy("nid")
      .agg(count(lit(1)).as("n_matches"), min("m_nid").as("m_min"))
    recs.join(names, "name")
      .join(matches, Seq("nid"), "left")
      .select(col("rec_id"),
        when(col("is_clean") === 1, col("nid"))
          .when(col("n_matches") === 1, col("m_min"))
          .otherwise(col("nid")).as("entity_id"),
        // verdicts are RECORD-level: an exact re-upload carries a
        // master NAME but is itself an incoming record — it reads
        // 'merged' (the distance-0 auto-merge), never 'master'
        when(col("rec_id") <= maxId, lit("master"))
          .when(col("is_clean") === 1, lit("merged"))
          .when(col("n_matches") === 1, lit("merged"))
          .when(col("n_matches") > 1, lit("ambiguous"))
          .otherwise(lit("new")).as("status"))
      .orderBy("rec_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q46_fuzzy_join" -> q46FuzzyJoin,
    "q53_er_clusters" -> q53ErClusters)

  /** DuckDB mirror: same derivation, same deletion-neighborhood
    * equi-join, same levenshtein verify and (dist, key) tie rule. */
  val oracle: Map[String, String] = Map(
    // same records, same name-level deletion join + verify, same
    // unique-match merge-or-queue verdicts — plain SQL, no closure
    "q53_er_clusters" -> {
      def delKeys(name: String) =
        s"list_distinct(list_append(list_transform(range(1, " +
          s"length($name) + 1), p -> substr($name, 1, p - 1) || " +
          s"substr($name, p + 1)), $name))"
      s"""WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
         |dirty AS (
         |  SELECT c.c_custkey + mx.m + 1 AS rec_id,
         |    CASE WHEN c.c_custkey % $ExactMod = 0 THEN c.c_name
         |      ELSE substr(c.c_name, 1, 9 + CAST(c.c_custkey % 9 AS INT))
         |        || substr(c.c_name, 11 + CAST(c.c_custkey % 9 AS INT))
         |    END AS name
         |  FROM customer c, mx WHERE c.c_custkey % $DirtyMod = 0),
         |recs AS (
         |  SELECT c_custkey AS rec_id, c_name AS name FROM customer
         |  UNION ALL
         |  SELECT rec_id, name FROM dirty),
         |nm AS (SELECT name, min(rec_id) AS nid,
         |  max(CASE WHEN rec_id <= (SELECT m FROM mx) THEN 1 ELSE 0 END)
         |    AS is_clean
         |  FROM recs GROUP BY 1),
         |mk AS (
         |  SELECT nid AS m_nid, name AS m_name,
         |    unnest(${delKeys("name")}) AS k
         |  FROM nm WHERE is_clean = 1),
         |ik AS (
         |  SELECT nid, name, unnest(${delKeys("name")}) AS k
         |  FROM nm WHERE is_clean = 0),
         |cand AS (
         |  SELECT DISTINCT nid, name, m_nid, m_name
         |  FROM ik JOIN mk USING (k)),
         |mt AS (
         |  SELECT nid, CAST(count(*) AS BIGINT) AS n_matches,
         |    min(m_nid) AS m_min
         |  FROM cand WHERE levenshtein(name, m_name) <= $FuzzyMaxDist
         |  GROUP BY 1)
         |SELECT r.rec_id,
         |  CASE WHEN nm.is_clean = 1 THEN nm.nid
         |    WHEN mt.n_matches = 1 THEN mt.m_min
         |    ELSE nm.nid END AS entity_id,
         |  CASE WHEN r.rec_id <= (SELECT m FROM mx) THEN 'master'
         |    WHEN nm.is_clean = 1 THEN 'merged'
         |    WHEN mt.n_matches = 1 THEN 'merged'
         |    WHEN mt.n_matches > 1 THEN 'ambiguous'
         |    ELSE 'new' END AS status
         |FROM recs r JOIN nm USING (name)
         |LEFT JOIN mt ON mt.nid = nm.nid
         |ORDER BY r.rec_id""".stripMargin
    },
    "q46_fuzzy_join" -> {
      def delKeys(name: String) =
        s"list_distinct(list_append(list_transform(range(1, " +
          s"length($name) + 1), p -> substr($name, 1, p - 1) || " +
          s"substr($name, p + 1)), $name))"
      s"""WITH mx AS (SELECT max(c_custkey) AS m FROM customer),
         |dirty AS (
         |  SELECT c.c_custkey + mx.m + 1 AS d_id,
         |    CASE WHEN c.c_custkey % $ExactMod = 0 THEN c.c_name
         |      ELSE substr(c.c_name, 1, 9 + CAST(c.c_custkey % 9 AS INT))
         |        || substr(c.c_name, 11 + CAST(c.c_custkey % 9 AS INT))
         |    END AS d_name
         |  FROM customer c, mx WHERE c.c_custkey % $DirtyMod = 0),
         |ck AS (
         |  SELECT c_custkey, c_name, unnest(${delKeys("c_name")}) AS k
         |  FROM customer),
         |dk AS (
         |  SELECT d_id, d_name, unnest(${delKeys("d_name")}) AS k
         |  FROM dirty),
         |cand AS (
         |  SELECT DISTINCT d_id, d_name, c_custkey, c_name
         |  FROM dk JOIN ck USING (k)),
         |scored AS (
         |  SELECT d_id, c_custkey, c_name,
         |    levenshtein(d_name, c_name) AS dist
         |  FROM cand),
         |best AS (
         |  SELECT d_id, c_custkey, c_name, dist, row_number() OVER (
         |    PARTITION BY d_id ORDER BY dist, c_custkey) AS rnk
         |  FROM scored WHERE dist <= $FuzzyMaxDist)
         |SELECT d_id, c_custkey AS matched_key, c_name AS matched_name,
         |  CAST(dist AS INT) AS dist
         |FROM best WHERE rnk = 1 ORDER BY d_id""".stripMargin
    })
}
