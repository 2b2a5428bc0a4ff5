package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deduplication family for LLM-scale corpus pipelines.
  *
  * Design rule (SURVEY.md §5): candidate generation is ALWAYS via blocking
  * (a hash-keyed shuffle on a signature/band/bucket), never a cross join —
  * each operator is a per-row map plus one keyed shuffle, linear in corpus
  * size, so the same plan holds on a 1000-executor cluster at 100 TB.
  *
  * Hashes are md5-based so the DuckDB oracle can reproduce them exactly.
  */
object Dedup {

  /** d1: exact dedup by normalized-text hash. Output is the dedup map:
    * one row per distinct content hash with its multiplicity and the
    * kept (minimum) doc_id. */
  def d1Exact(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .withColumn("h", md5(TextOps.normText(col("text"))))
      .groupBy("h")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("keep_doc_id"))
      .orderBy("h")

  val NumHashes = 12
  val Bands = 4
  private val RowsPerBand = NumHashes / Bands

  /** Skew guard shared by the blocking dedup ops: documents too short to
    * form one true 3-shingle would all carry the SAME degenerate
    * signature, turning one band bucket into an O(n²) hot key at corpus
    * scale. They are excluded from candidate generation (exact dedup d1
    * still covers them); a no-op on corpora without such docs. */
  val MinToks = 3

  /** One row per distinct normalized content: content hash, one
    * representative normalized text, and the sorted member doc_ids.
    *
    * Identical normalized text ⇒ identical tokens, shingles and minhash
    * signature — so the expensive signature/banding work and the
    * candidate join run once per DISTINCT content, and membership is
    * expanded back into doc pairs afterwards. Without this collapse an
    * exact-duplicate cluster of m docs lands m members in every one of
    * its band buckets and the self-join goes O(m²) per bucket — measured
    * 38× worse on a 20×-duplicated probe corpus; at 100 TB, where
    * boilerplate pages duplicate millions of times, it is the difference
    * between a linear pipeline and an unrunnable one.
    *
    * The group shuffle is an explicit `repartition(shuffle.partitions,
    * h)`: AQE coalesces an ENSURE_REQUIREMENTS exchange by bytes, and a
    * compact corpus's ~0.5 MB of (h, doc_id, norm) rows fell under
    * `coalescePartitions.minPartitionSize` and ran every group — and
    * the minhash kernel in the stage that reads them — in ONE task.
    * AQE leaves a REPARTITION_BY_NUM exchange alone (as in
    * [[Tables.documentsSpread]]); at corpus scale this shuffle is large
    * and would not be coalesced anyway, so the count is the planner's.
    * The cost: collect_list's partial aggregate now runs after the
    * shuffle instead of before it (the shuffle moves the same bytes:
    * groups are near-distinct).
    *
    * The explicit `h IS NOT NULL` keeps every consumer's subtree
    * identical: d2's band join (`x.ch < y.ch`) makes the optimizer
    * infer it on the band branch only, and the two differing copies
    * then scan, spread and shuffle the corpus twice instead of reusing
    * one exchange. No row changes: md5 of a non-null text is never
    * null, and a null `norm` yields -1 tokens, below [[MinToks]]. */
  private def contentGroups(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("h", md5(col("norm")))
      .filter(col("h").isNotNull)
      .repartition(s.sessionState.conf.numShufflePartitions, col("h"))
      .groupBy("h")
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
        // norm is constant within a group (h = md5(norm))
        first(col("norm")).as("norm"))

  /** Expand group-level candidate pairs into doc pairs, carrying
    * `carry` columns through unchanged — the shared tail of every
    * collapse-then-block dedup operator (d2/d3Candidates/d5):
    * cross-group pairs come from ma × mb with least/greatest ordering
    * (group representatives are min ids, but members interleave), and
    * every group with >1 member contributes its within-group pairs
    * (identical content ⇒ candidates by definition). A doc belongs to
    * exactly one group, so each output pair arises exactly once — no
    * distinct needed. */
  private def expandMemberPairs(cross: DataFrame, within: DataFrame,
                                carry: Seq[String]): DataFrame = {
    val cc = carry.map(col)
    val crossPairs = cross
      .select(explode(col("ma")).as("a") +: col("mb") +: cc: _*)
      .select(col("a") +: explode(col("mb")).as("b") +: cc: _*)
      .select(least(col("a"), col("b")).as("doc_a") +:
        greatest(col("a"), col("b")).as("doc_b") +: cc: _*)
    val withinPairs = within
      .select(explode(col("members")).as("a") +: col("members") +: cc: _*)
      .select(col("a") +: explode(col("members")).as("b") +: cc: _*)
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a") +: col("b").as("doc_b") +: cc: _*)
    crossPairs.unionAll(withinPairs)
  }

  /** d2: MinHash + LSH banding → candidate near-dup pairs.
    *
    * Signatures and the band self-join run at DISTINCT-content level
    * (see [[contentGroups]]); membership expands back into doc pairs
    * afterwards, so exact-dup clusters can't go quadratic inside buckets
    * and the signature compute is paid once per unique content.
    *
    * The self-join is hinted shuffle-hash: a broadcast build side would
    * recompute the whole minhash subtree per side (and could not
    * broadcast at corpus scale anyway), while two identical shuffles of
    * the narrow (content, band) rows let AQE reuse one computed stage
    * for both sides. */
  def d2Minhash(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val groups = contentGroups(s, dir)
      .withColumn("toks", expr(TextOps.toksExpr))
      .filter(size(col("toks")) >= MinToks)
      .withColumn("shingles", expr("word_shingles(toks)"))
    // band keys in one fused kernel pass (graft.functions.MinHashBandKeys),
    // exposed as a single array column consumed once by posexplode — so
    // project-collapsing can't duplicate the signature computation
    val bands = groups
      .select(col("h").as("ch"), col("members"),
        posexplode(expr(s"minhash_band_keys(shingles, $NumHashes, $Bands)")))
      .withColumnRenamed("pos", "band_id")
      .withColumnRenamed("col", "band_key")
      .hint("shuffle_hash")

    // distinct CONTENT pairs sharing ≥1 band (a pair can match in several
    // bands → dedup at group level, before membership expansion)
    val contentPairs = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.ch") < col("y.ch"))
      .select(col("x.ch").as("ha"), col("y.ch").as("hb"),
        col("x.members").as("ma"), col("y.members").as("mb"))
      .dropDuplicates("ha", "hb")

    expandMemberPairs(
      cross = contentPairs,
      // exact-duplicate docs share every band: all within-group pairs
      within = groups.filter(size(col("members")) > 1).select("members"),
      carry = Seq.empty)
      .orderBy("doc_a", "doc_b")
  }

  /** Simhash bit width (60 = 15 md5 hex chars, avoids int64 sign games). */
  val SimhashBits = 60

  /** d3: SimHash fingerprint per document — per-token md5 → per-bit ±1
    * contributions → sign vector → 60-bit fingerprint, fused into the
    * native codegen'd kernel (graft.functions.SimHash60; the equivalent
    * nested-HOF spelling is interpreted per element and profiled ~1000×
    * slower). No explode, no shuffle — the whole operator is a
    * projection. */
  def d3Simhash(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("simhash", expr("simhash60(toks)"))
      .withColumn("bucket", expr("CAST(shiftright(simhash, 48) AS INT)"))
      .select("doc_id", "simhash", "bucket")
      .orderBy("doc_id")
  }

  /** d3 companion: hamming-close candidate pairs from the simhash
    * fingerprints. Rows-only (spec asserts the planted near-dups
    * surface; threshold in bits).
    *
    * Round-2 rework of both round-1 scale flaws:
    *  - the bucket join runs at DISTINCT-fingerprint level (exact
    *    duplicates share a fingerprint, so a cluster of m copies is one
    *    bucket member, not an O(m²) hot spot — the d2/d4 contentGroups
    *    lesson) and membership expands into doc pairs afterwards;
    *  - blocking is pigeonhole banding instead of one fixed 12-bit
    *    prefix: the 60 fingerprint bits split into (maxHamming + 1)
    *    contiguous blocks, and a pair within `maxHamming` flipped bits
    *    must agree EXACTLY on ≥ 1 block — so recall is 1.0 by
    *    construction (the round-1 prefix block missed any near-dup whose
    *    flips touched the prefix).
    *
    * Round-4 rework of the remaining scale wart: per-band bucket
    * cardinality is 2^(60/(maxHamming+1)) ≈ 2^8.5 — a CONSTANT in
    * corpus size, so one dense fingerprint region could still pair
    * ~occ² inside its bucket. Buckets whose DISTINCT-fingerprint
    * occupancy exceeds `hotBucketOcc` are therefore split a second
    * level: the 60−w bits OUTSIDE the agreed block are re-split into
    * (maxHamming + 1) fresh sub-blocks, and hot-bucket members pair
    * only when some sub-block also agrees exactly. Recall stays 1.0 by
    * the same pigeonhole (all ≤ maxHamming flips of a hot-bucket pair
    * lie outside the agreed block, and cannot touch every one of the
    * maxHamming+1 sub-blocks); worst-case hot-bucket cost drops from
    * occ² to Σ_subbucket occ_sub² — a further ~2^7× split under the
    * near-even fingerprint spread simhash gives, measured near-linear
    * on a 10×/100× distinct-fingerprint curve (SURVEY §5).
    * Adversarially recursive concentrations would need deeper levels;
    * one level is the documented occupancy bound at the default dial. */
  /** Contiguous (offset, width) blocks splitting the 60 fingerprint
    * bits into maxHamming+1 near-even bands. Pigeonhole: flipping at
    * most maxHamming bits cannot touch every one of the maxHamming+1
    * blocks, so any pair within the threshold agrees exactly on ≥ 1
    * block — recall 1.0 by construction (property-tested in
    * PropertiesSpec). */
  def d3BandLayout(maxHamming: Int): Seq[(Int, Int)] = {
    val nBands = maxHamming + 1
    val widths = Array.tabulate(nBands)(b =>
      SimhashBits / nBands + (if (b < SimhashBits % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until nBands).map(b => (offsets(b), widths(b)))
  }

  /** Per-bucket distinct-fingerprint occupancy above which the second
    * banding level kicks in (worst cold-bucket pairing = occ²/2 ≈ 2k). */
  val D3HotBucketOcc = 64

  def d3Candidates(s: SparkSession, dir: String, maxHamming: Int = 6,
      hotBucketOcc: Int = D3HotBucketOcc): DataFrame =
    d3CandidatesFromGroups(
      d3Simhash(s, dir)
        .groupBy("simhash")
        .agg(sort_array(collect_list(col("doc_id"))).as("members")),
      maxHamming, hotBucketOcc)

  /** Core banding over a (simhash, members) DataFrame — factored out so
    * specs can plant synthetic fingerprint sets (e.g. one bucket far
    * past `hotBucketOcc`) and prove recall 1.0 through the hot path. */
  private[graft] def d3CandidatesFromGroups(groups: DataFrame,
      maxHamming: Int, hotBucketOcc: Int): DataFrame = {
    val layout = d3BandLayout(maxHamming)
    val nBands = layout.length
    // per band b: struct(bkey, subkeys) — bkey is block b's bits;
    // subkeys re-split the OTHER 60-w bits (packed low-to-high in block
    // order) into nBands fresh sub-blocks for the hot path
    val bandStructs = layout.indices.map { b =>
      val (offset, width) = layout(b)
      val bkeySql =
        s"CAST(shiftright(simhash, $offset) & ${(1L << width) - 1} AS BIGINT)"
      var acc = 0
      val terms = layout.indices.filter(_ != b).map { j =>
        val (o, w) = layout(j)
        val t = s"shiftleft(shiftright(simhash, $o) & ${(1L << w) - 1}, $acc)"
        acc += w
        t
      }
      val remSql = if (terms.isEmpty) "0" else terms.mkString("(", " + ", ")")
      val remW = acc
      // guard the occupancy bound itself: with remW < nBands some
      // sub-blocks would get width 0 (constant subkey 0), silently
      // degrading hot buckets back to the all-pairs occ² this split
      // exists to prevent — exactly at the large-maxHamming dials that
      // shrink buckets least. Only reachable at maxHamming ≥ 58 of 60
      // bits, where banding is meaningless anyway; fail explicitly.
      require(remW >= nBands,
        s"maxHamming=$maxHamming leaves $remW non-block bits for band $b, " +
          s"fewer than the $nBands sub-blocks the hot-bucket split needs — " +
          "the occupancy bound would silently collapse; use maxHamming <= 57")
      val subWidths = Array.tabulate(nBands)(j =>
        remW / nBands + (if (j < remW % nBands) 1 else 0))
      val subOffsets = subWidths.scanLeft(0)(_ + _)
      val subs = (0 until nBands).map(j =>
        s"CAST(shiftright($remSql, ${subOffsets(j)}) & " +
          s"${(1L << subWidths(j)) - 1} AS BIGINT)")
      expr(s"struct($bkeySql AS bkey, array(${subs.mkString(",")}) AS subkeys)")
    }
    val bands = groups
      .select(col("simhash"), col("members"),
        posexplode(array(bandStructs: _*)))
      .select(col("simhash"), col("members"), col("pos").as("band"),
        col("col.bkey").as("bkey"), col("col.subkeys").as("subkeys"))
    // occupancy at DISTINCT-fingerprint level decides each bucket's
    // path; the decision is per (band, bkey), so both join sides of a
    // bucket take the same path. Window count, not agg+join-back: the
    // occupancy rides the same (band, bkey) shuffle the bucketing
    // needs anyway instead of adding an aggregate side + join exchange
    val sized = bands.withColumn("occ", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy("band", "bkey")))
    val cold = sized.filter(col("occ") <= hotBucketOcc)
      .select(col("simhash"), col("members"), col("band"), col("bkey"),
        lit(-1).as("subband"), lit(-1L).as("subkey"))
    val hot = sized.filter(col("occ") > hotBucketOcc)
      .select(col("simhash"), col("members"), col("band"), col("bkey"),
        posexplode(col("subkeys")))
      .select(col("simhash"), col("members"), col("band"), col("bkey"),
        col("pos").as("subband"), col("col").as("subkey"))
    val keyed = cold.unionAll(hot).hint("shuffle_hash")
    val groupPairs = keyed.as("x").join(keyed.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.subband") === col("y.subband") &&
          col("x.subkey") === col("y.subkey") &&
          col("x.simhash") < col("y.simhash"))
      .withColumn("hamming", expr("bit_count(x.simhash ^ y.simhash)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("x.simhash").as("sa"), col("y.simhash").as("sb"),
        col("x.members").as("ma"), col("y.members").as("mb"),
        col("hamming"))
      .dropDuplicates("sa", "sb") // a pair can agree in several (sub-)bands
    expandMemberPairs(
      cross = groupPairs,
      // identical fingerprints: hamming 0 by definition
      within = groups.filter(size(col("members")) > 1)
        .select(col("members"), lit(0).cast("int").as("hamming")),
      carry = Seq("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** d4 candidate-generation knobs — the d14 discipline applied to the
    * symmetric near-dup case. A shingle participates in blocking only
    * while its (lang, cb)-block document frequency is ≤ [[D4MaxDf]]
    * (computed over DISTINCT contents, so exact duplicates never inflate
    * it), and each group PROBES with its [[D4RareK]] rarest capped
    * shingles (ties by shingle text) against an index of ALL capped
    * occurrences. Candidates per group are ≤ RareK·MaxDf whatever the
    * corpus, so the candidate join's output is LINEAR in corpus size —
    * the unbounded (block, shingle) self-join was the 10×-sweep's one
    * super-linear operator (21.5× wall for 10× rows: near-dup-rich data
    * makes Σ_sh df² quadratic in family size, and the old spelling also
    * paid one shuffled row per (pair × shared shingle) to count
    * intersections). The probe is SYMMETRIC (either side probing an
    * occurrence of the other yields the pair), and confirmation is
    * row-local `array_intersect` on the pair's two full shingle sets —
    * exact Jaccard, cost ∝ |candidates|.
    *
    * The recall trade is explicit, d14-style: a qualifying pair is
    * missed only if NEITHER side's RareK rarest capped shingles is
    * shared — for jaccard ≥ 0.2 the sides share ≥ 20% of shingles, and
    * shared shingles in a near-dup pair are no more frequent than the
    * unshared ones, so rarest-first probing strongly favors them.
    * DedupSpec measures recall against [[d4BruteForce]] on the gate
    * corpus and on a planted family whose shared shingles sit at the df
    * cap. */
  val D4MaxDf = 16
  val D4RareK = 8

  /** Shared d4 prefix: distinct-content groups with blocking attributes
    * and shingle sets, eagerly materialized (three consumers below). */
  private def d4Groups(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // Parallelism must follow COMPUTE, not scan bytes (the r14 s12
    // lesson, found here by the r16 d4 band adjudication): a compact
    // corpus's single-split scan serialized the ENTIRE normText + md5
    // partial-agg map onto one task — slow (50k docs single-threaded
    // at the 10× probe) and hypersensitive to machine load, the true
    // source of d4's wandering 4.4–21.5× single-run 10× band. See
    // Tables.documentsSpread for the adaptive rule.
    Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("cb", expr("n_chars div 100"))
      .groupBy(md5(col("norm")).as("h"), col("lang"), col("cb"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
        first(col("norm")).as("norm"))
      // null-PROPAGATING concat (not concat_ws, which SKIPS nulls): the
      // oracle builds gk with `||`, which nulls out when lang is null —
      // on dirty data both engines must agree that a null-lang group's
      // gk is NULL (and so falls out of every gk equi-join identically)
      // rather than Spark silently collapsing "h||cb" collision keys
      .withColumn("gk", concat(col("h"), lit("|"), col("lang"),
        lit("|"), col("cb").cast("string")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .filter(size(col("toks")) >= MinToks)
      .withColumn("shset", expr("array_distinct(word_shingles(toks))"))
      .withColumn("nsh", size(col("shset")))
      // norm deliberately dropped: the MinToks floor guarantees nsh ≥ 1
      // so the d4Confirm 0/0-jaccard text fallback can never trigger
      // here, and carrying the full normalized text would double the
      // checkpointed frame for nothing
      .select("gk", "lang", "cb", "members", "shset", "nsh")
  }

  /** d4: n-gram Jaccard similarity over blocked candidate pairs.
    * Blocking key: (lang, n_chars bucket, df-capped rarest-K shingles) —
    * see the knob scaladoc above for the scale contract.
    *
    * Like d2, blocking runs at distinct-content level and doc membership
    * expands afterwards; the group key includes the blocking attributes
    * (lang, cb), so two docs collapse together only when they are
    * interchangeable for this operator. Within-group pairs (exact
    * duplicates) have inter = union = |shset| and jaccard exactly 1.0 in
    * both engines, and bypass the probe entirely. */
  def d4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "dedup.d4") { sc =>
      // shared by the df pass, confirm, and within
      val groups = sc.cut(d4Groups(s, dir))
      val ex = groups
        .select(col("gk"), col("lang"), col("cb"),
          explode(col("shset")).as("sh"))
      val dfc = ex.groupBy("lang", "cb", "sh").agg(count(lit(1)).as("dfc"))
      // one df-join pass feeds both index and probe
      val capped = sc.cut(ex.join(dfc, Seq("lang", "cb", "sh"))
        .filter(col("dfc") <= D4MaxDf)
        .select("gk", "lang", "cb", "sh", "dfc"))
      val index = capped.select("gk", "lang", "cb", "sh")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("gk").orderBy(col("dfc"), col("sh"))
      val probe = capped
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= D4RareK)
        .select("gk", "lang", "cb", "sh")
      val cand = probe.as("x").join(index.as("y"),
          col("x.lang") === col("y.lang") && col("x.cb") === col("y.cb") &&
            col("x.sh") === col("y.sh") && col("x.gk") =!= col("y.gk"))
        .select(least(col("x.gk"), col("y.gk")).as("gka"),
          greatest(col("x.gk"), col("y.gk")).as("gkb"))
        .distinct()
      val sets = groups.select(col("gk"), col("shset"), col("nsh"),
        col("members"))
      val groupPairs = cand
        .join(sets.select(col("gk").as("gka"), col("shset").as("sa"),
          col("nsh").as("na"), col("members").as("ma")), Seq("gka"))
        .join(sets.select(col("gk").as("gkb"), col("shset").as("sb"),
          col("nsh").as("nb"), col("members").as("mb")), Seq("gkb"))
        .withColumn("inter",
          size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("union_sz",
          (col("na") + col("nb")).cast("long") - col("inter"))
        .withColumn("jaccard", col("inter") / col("union_sz"))
        .filter(col("jaccard") >= 0.2)

      val cross = groupPairs
        .select(explode(col("ma")).as("a"), col("mb"),
          col("inter"), col("union_sz"), col("jaccard"))
        .select(col("a"), explode(col("mb")).as("b"),
          col("inter"), col("union_sz"), col("jaccard"))
        .select(least(col("a"), col("b")).as("doc_a"),
          greatest(col("a"), col("b")).as("doc_b"),
          col("inter"), col("union_sz"), col("jaccard"))

      cross.unionAll(d4Within(groups))
        .select("doc_a", "doc_b", "inter", "union_sz", "jaccard")
        .orderBy("doc_a", "doc_b")
    }

  /** Exact-duplicate (within-group) pairs of a [[d4Groups]] frame:
    * inter = union = |shset|, jaccard exactly 1.0. */
  private def d4Within(groups: DataFrame): DataFrame =
    groups.filter(size(col("members")) > 1)
      .select(col("members"), col("nsh"))
      .select(explode(col("members")).as("a"), col("members"), col("nsh"))
      .select(col("a"), explode(col("members")).as("b"), col("nsh"))
      .filter(col("a") < col("b"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"),
        col("nsh").cast("long").as("inter"),
        col("nsh").cast("long").as("union_sz"),
        (col("nsh").cast("long") / col("nsh").cast("long")).as("jaccard"))

  /** Test-only UNBLOCKED d4: the full (block, shingle) self-join with
    * exact intersection counting — output-sensitive and super-linear on
    * near-dup-rich corpora (the shape retired from the gate), kept as
    * the ground truth the DedupSpec recall measurement runs against. */
  private[graft] def d4BruteForce(s: SparkSession, dir: String): DataFrame = {
    val groups = d4Groups(s, dir)
    val ex = groups
      .select(col("gk"), col("lang"), col("cb"), col("nsh"), col("members"),
        explode(col("shset")).as("sh"))
      .hint("shuffle_hash") // see d2Minhash: stage reuse beats broadcast
    val groupPairs = ex.as("x").join(ex.as("y"),
        col("x.lang") === col("y.lang") && col("x.cb") === col("y.cb") &&
          col("x.sh") === col("y.sh") && col("x.gk") < col("y.gk"))
      .groupBy(col("x.gk").as("gka"), col("y.gk").as("gkb"),
        col("x.nsh").as("na"), col("y.nsh").as("nb"))
      .agg(count(lit(1)).as("inter"),
        first(col("x.members")).as("ma"), first(col("y.members")).as("mb"))
      .withColumn("union_sz", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard", col("inter") / col("union_sz"))
      .filter(col("jaccard") >= 0.2)
    val cross = groupPairs
      .select(explode(col("ma")).as("a"), col("mb"),
        col("inter"), col("union_sz"), col("jaccard"))
      .select(col("a"), explode(col("mb")).as("b"),
        col("inter"), col("union_sz"), col("jaccard"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"),
        col("inter"), col("union_sz"), col("jaccard"))
    cross.unionAll(d4Within(groups))
      .select("doc_a", "doc_b", "inter", "union_sz", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Exact-Jaccard confirmation for an explicit candidate-pair set —
    * the second stage of the production dedup pipeline (d2-screen →
    * d4Confirm): d4's full shingle-join recomputes blocking for the
    * whole corpus, which the ScaleBench probe shows is output-sensitive
    * on near-dup-rich data; confirming only screened pairs instead
    * attaches each side's distinct-shingle set with two hash joins and
    * computes the intersection ROW-LOCALLY (`array_intersect` on the
    * pair's two sets) — cost ∝ |candidates|, independent of how many
    * corpus pairs would have matched.
    *
    * `pairs` needs columns (doc_a, doc_b); output matches d4's schema
    * (doc_a, doc_b, inter, union_sz, jaccard), unthresholded. */
  def d4Confirm(s: SparkSession, dir: String, pairs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sets = Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("shset", expr("array_distinct(word_shingles(toks))"))
      .select(col("doc_id"), col("shset"), col("norm"))
    pairs.select("doc_a", "doc_b")
      .join(sets.select(col("doc_id").as("doc_a"), col("shset").as("sa"),
        col("norm").as("norm_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("shset").as("sb"),
        col("norm").as("norm_b")), Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("union_sz",
        (size(col("sa")) + size(col("sb"))).cast("long") - col("inter"))
      // two EMPTY shingle sets (docs below the shingle width — d1/d3
      // still pair them) carry no set evidence either way: 0/0 → NULL
      // jaccard would make dedupKeepList silently drop true duplicates
      // of tiny docs, but a blanket 1.0 would merge two short docs with
      // completely DIFFERENT text (d3Candidates has no MinToks screen).
      // Fall back to the normalized texts: 1.0 iff they are equal.
      .withColumn("jaccard",
        when(col("union_sz") === 0,
          when(col("norm_a") === col("norm_b"), lit(1.0)).otherwise(lit(0.0)))
          .otherwise(col("inter") / col("union_sz")))
      .select("doc_a", "doc_b", "inter", "union_sz", "jaccard")
  }

  /** Greedy keep-list from confirmed duplicate pairs: every document
    * that is the GREATER side of some pair above the threshold is
    * dropped, so each duplicate cluster keeps (at least) its minimum
    * doc_id. One anti-join — linear and shuffle-partitioned on doc_id —
    * versus full connected components, whose iterative joins a 100 TB
    * dedup pass doesn't need: greedy keep is the standard corpus-dedup
    * policy (transitively-linked docs may retain one extra
    * representative per chain break, never lose the cluster head). */
  def dedupKeepList(s: SparkSession, dir: String, confirmed: DataFrame,
                    minJaccard: Double = KeepMinJaccard): DataFrame = {
    val drop = confirmed.filter(col("jaccard") >= minJaccard)
      .select(col("doc_b").as("doc_id")).distinct()
    Tables.documents(s, dir).select("doc_id")
      .join(drop, Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** Confirmed-duplicate threshold shared by [[dedupKeepList]] and the
    * d6 oracle. */
  val KeepMinJaccard = 0.8

  /** Spec/bench hooks: builds of the confirmed-pairs and cluster
    * subtrees and of the d9 inventory, the registry's counters. */
  private[graft] val confirmedBuildCount =
    graft.Artifacts.builds("dedup.confirmed")
  private[graft] val clusterBuildCount = graft.Artifacts.builds("dedup.cluster")
  private[graft] val d9InvBuildCount = graft.Artifacts.builds("dedup.d9Inv")

  /** Confirmed duplicate pairs for a corpus — the d2 MinHash screen →
    * d4Confirm exact-Jaccard chain, memoized per (SparkContext, corpus
    * fingerprint) and eagerly materialized with a localCheckpoint.
    *
    * This subtree is the single most expensive plan in the engine, and
    * FOUR consumers share it verbatim (d6 keep-list, d8 clusters, c1
    * curation via d6, c2 cluster curation via d8); without memoization
    * one gate/bench sweep executes it once per consumer. The
    * materialized result is small — one row per CANDIDATE pair, bounded
    * by the LSH blocking, orders of magnitude below corpus size — so
    * checkpointing it is cheap; the consumers' own shuffles all start
    * from the checkpointed RDD. On a real cluster the same pattern
    * writes the confirmed-pairs table to reliable storage once per
    * corpus generation (localCheckpoint trades preemption-safety for
    * zero setup, the right call in a single-JVM session). */
  def confirmedPairs(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.memo(s.sparkContext, "dedup.confirmed",
        Tables.fingerprint(s, dir, "documents")) {
      d4Confirm(s, dir, d2Minhash(s, dir)).localCheckpoint(true)
    }

  /** d6: the production dedup pipeline END-TO-END as one gate operator —
    * d2 MinHash screen (sublinear candidate generation) → d4Confirm
    * (row-local exact Jaccard on screened pairs only) → dedupKeepList
    * (greedy keep via one anti-join). This is the composition a real
    * corpus-dedup pass runs (the reference's flagship is likewise the
    * composed DAG, airflow/dags/twitter_airflow.py:69-137): each stage
    * is individually oracle-green, and this entry puts the CHAIN under
    * the same full hash-match gate. Returns the kept doc_ids. */
  def d6DedupPipeline(s: SparkSession, dir: String): DataFrame =
    dedupKeepList(s, dir, confirmedPairs(s, dir))

  /** (doc_id, component) for every doc in a confirmed-duplicate
    * cluster: the star-contraction membership over the confirmed-
    * duplicate edges, memoized like [[confirmedPairs]]. One row per doc
    * that appears in some non-trivial cluster — candidate-bounded (a
    * subset of the confirmed-pair endpoints), NOT corpus-sized, so the
    * checkpoint is cheap. Both d8 and c2 consume it; without
    * memoization a gate/bench sweep runs the whole O(log² n)-round
    * contraction loop once per consumer. On a real cluster this is the
    * cluster-assignment table a corpus generation writes once. */
  def clusterMembership(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.memo(s.sparkContext, "dedup.cluster",
        Tables.fingerprint(s, dir, "documents")) {
      val edges = confirmedPairs(s, dir)
        .filter(col("jaccard") >= KeepMinJaccard)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      // round budget sized from the measured growth (§5 probe: chain
      // diameter 5M = 24 rounds, +3..4 per 10× nodes): 48 covers
      // diameters past 10¹¹ nodes — the default 20 is a probe-scale
      // budget that the probe itself had to raise to measure 5M
      graft.Artifacts.scoped(s, "dedup.cluster")(sc =>
        Graph.connectedComponents(sc, edges, maxIter = 48)
          .select(col("id").as("doc_id"), col("component"))
          .localCheckpoint(true))
    }

  /** d8: duplicate CLUSTER ids — connected components over the same
    * confirmed-duplicate pairs d6 keeps from, assigning every document
    * the minimum doc_id reachable through confirmed-duplicate edges
    * (docs in no pair are their own cluster). Complements the greedy
    * keep-list: d6 answers "which docs survive", d8 answers "which docs
    * are the same document" — the grouping that cluster-size caps,
    * canonical-representative picks ([[Curation.c2ClusterCuration]])
    * and dedup reporting need. Star contraction via
    * [[Graph.connectedComponents]]: O(log² n) rounds of two keyed
    * shuffles each, no driver-side graph state; the converged
    * membership is memoized per corpus ([[clusterMembership]]) and each
    * consumer pays only the corpus-wide left join. */
  def d8DedupClusters(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id")
      .join(clusterMembership(s, dir), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")

  /** Benchmark slice for [[d9Decontaminate]]: docs whose deterministic
    * sample bucket ([[TextAnalysis.sampleBucket]]) falls below this —
    * stands in for the held-out evaluation suite a production pipeline
    * decontaminates against. Shared with the DuckDB oracle. */
  val D9BenchPct = 20
  /** Shingle width for decontamination: 8-grams, NOT the dedup
    * family's 3-grams — the published long-n-gram methodology (GPT-3
    * used 13-gram overlap, The Pile 13, Llama-style pipelines 8+).
    * 3-grams recur by chance in any bounded vocabulary (measured here:
    * 381 of ~400 training docs shared ≥2 trigrams with the slice —
    * no discrimination); an 8-gram recurs only through actual copying. */
  val D9ShingleW = 8
  /** A training doc is contaminated when at least this many of its
    * DISTINCT 8-gram shingles appear anywhere in the benchmark slice —
    * 2 rejects a lone coincidental match while catching every
    * copied-run overlap. */
  val D9MinShared = 2

  /** d9: benchmark DECONTAMINATION — the test-set-overlap pass an LLM
    * training pipeline runs so evaluation data never leaks into
    * training data: flag every training doc sharing ≥ [[D9MinShared]]
    * distinct word [[D9ShingleW]]-gram shingles with ANY benchmark
    * doc. Here the
    * benchmark slice is the deterministic [[D9BenchPct]]% sample bucket
    * of the same corpus (a stand-in for MMLU-style suites); in
    * production it is a second, small table and the same plan applies
    * unchanged.
    *
    * Scale shape: the benchmark shingle INVENTORY (distinct shingles
    * across the slice) is flattened and BROADCAST — real benchmark
    * suites are MBs against a 100 TB corpus, so the corpus side joins
    * map-side with no shuffle of the exploded shingle volume. Each
    * corpus shingle matches at most one inventory row (both sides
    * distinct), so the join output is bounded by corpus shingle volume
    * (linear); the only shuffle is the per-doc count aggregation,
    * map-side-combinable on doc_id. If the inventory ever outgrew the
    * broadcast budget, dropping the hint degrades gracefully to a hash
    * semi-join shuffle — same linear bound.
    *
    * Reference behavior anchor: dedup-on-ingest semantics
    * (airflow/dags/twitter_airflow.py:69-92) extended across CORPORA —
    * the same shingle machinery as d4, pointed at a held-out set. */
  def d9Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = TextOps.withShingles(Tables.documentsSpread(s, dir))
      .withColumn("shset",
        expr(s"array_distinct(word_shingles(toks, $D9ShingleW))"))
    val isBench = TextAnalysis.sampleBucket(col("doc_id")) < D9BenchPct
    val bench = docs.filter(isBench)
      .select(explode(col("shset")).as("shingle")).distinct()
    val train = docs.filter(!isBench)
      .select(col("doc_id"), size(col("shset")).cast("long").as("n_shingles"),
        explode(col("shset")).as("shingle"))
    train.join(broadcast(bench), Seq("shingle"))
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= D9MinShared)
      .select("doc_id", "n_shared", "n_shingles")
      .orderBy("doc_id")
  }

  /** Stages the benchmark SUITE as a genuine second parquet table with
    * its own schema — `benchmarks(bench_id STRING, prompt STRING)` —
    * under target/benchdata/<corpus-fingerprint>/, staged once per
    * corpus generation ([[graft.Artifacts.staged]]). Contents are
    * deterministic: the [[D9BenchPct]] sample
    * bucket's docs, re-keyed as `bench_<doc_id>` with the text as the
    * suite `prompt` — so the DuckDB oracle can reproduce the staged
    * table from `documents` without reading the file, while the Spark
    * side exercises the real production plumbing: a second path, a
    * second schema, a second parquet read. */
  def d9BenchmarksPath(s: SparkSession, dir: String): String =
    graft.Artifacts.staged(s, graft.Artifacts.stagedDir("benchdata",
        Tables.fingerprint(s, dir, "documents"), "benchmarks.parquet"))(
      Tables.documents(s, dir)
        .filter(TextAnalysis.sampleBucket(col("doc_id")) < D9BenchPct)
        .select(concat(lit("bench_"), col("doc_id")).as("bench_id"),
          col("text").as("prompt"))
        .write.parquet(_))

  private type D9Inv =
    org.apache.spark.broadcast.Broadcast[graft.functions.SpanSet]

  /** Per-corpus decontamination inventory for st6 — the staged benchmark
    * suite's ([[d9BenchmarksPath]]) distinct word-[[D9ShingleW]]-gram
    * shingles collected into a broadcast probe set
    * ([[graft.functions.SpanSet]]). The t8/t11/s3 offline-artifact
    * pattern: built once per corpus generation per SparkContext, then
    * shipped once per executor. The collect is suite-sized (real
    * benchmark suites are MBs against a 100 TB corpus), the same bound
    * that lets d9 broadcast-join its inventory. */
  def d9InventoryFor(s: SparkSession, dir: String): D9Inv = {
    graft.functions.GraftFunctions.register(s)
    graft.Artifacts.memo(s.sparkContext, "dedup.d9Inv",
        Tables.fingerprint(s, dir, "documents")) {
      val rows = Tables.parquet(s, d9BenchmarksPath(s, dir))
        .withColumn("norm", TextOps.normText(col("prompt")))
        .withColumn("toks", expr(TextOps.toksExpr))
        .select(explode(
          expr(s"array_distinct(word_shingles(toks, $D9ShingleW))"))
          .as("shingle"))
        .distinct().collect()
      val set = new java.util.HashSet[String](rows.length * 2)
      rows.foreach(r => set.add(r.getString(0)))
      s.sparkContext.broadcast(new graft.functions.SpanSet(set))
    }
  }

  /** d9_xt: decontamination against a GENUINE second table — the
    * production shape of [[d9Decontaminate]], whose gate entry slices
    * the benchmark out of the same corpus. Here the suite arrives as
    * its own parquet with its own schema ([[d9BenchmarksPath]]), and
    * the training side is the WHOLE documents table as ingested — so
    * verbatim copies of suite prompts (the staged suite's source docs
    * among them) flag themselves, exactly what a production corpus
    * containing leaked eval data looks like.
    *
    * Plan is unchanged from d9 — that is the point: the suite's
    * distinct-8-gram inventory is flattened and BROADCAST (real suites
    * are MBs against a 100 TB corpus), the corpus side joins map-side
    * with no shuffle of the exploded shingle volume, and the only
    * shuffle is the combinable per-doc count. Swapping the inventory's
    * source from a corpus slice to a second table touches zero
    * operators below the scan. */
  def d9DecontaminateXt(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val inv = Tables.parquet(s, d9BenchmarksPath(s, dir))
      .withColumn("norm", TextOps.normText(col("prompt")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .select(explode(
        expr(s"array_distinct(word_shingles(toks, $D9ShingleW))"))
        .as("shingle"))
      .distinct()
    val train = TextOps.withShingles(Tables.documentsSpread(s, dir))
      .withColumn("shset",
        expr(s"array_distinct(word_shingles(toks, $D9ShingleW))"))
      .select(col("doc_id"), size(col("shset")).cast("long").as("n_shingles"),
        explode(col("shset")).as("shingle"))
    train.join(broadcast(inv), Seq("shingle"))
      .groupBy("doc_id", "n_shingles")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= D9MinShared)
      .select("doc_id", "n_shared", "n_shingles")
      .orderBy("doc_id")
  }

  /** d9r: contamination report from the SUITE's side — for each
    * benchmark item ([[d9BenchmarksPath]]'s staged table), how many
    * TRAINING docs overlap it (≥ [[D9MinShared]] shared distinct
    * 8-grams with THAT item) and the widest overlap. The flip side of
    * d9/d9_xt: decontamination tells the corpus owner which docs to
    * drop; this report tells the EVAL owner which suite items are
    * compromised and how badly — the artifact a contamination audit
    * actually publishes (every published decontamination methodology
    * reports per-benchmark overlap rates, not just dropped-doc
    * counts).
    *
    * Note the pairing is PER ITEM, deliberately stricter than d9's
    * union-inventory flag: a training doc sharing one shingle with
    * each of two suite items is d9-flagged (2 shared with the union)
    * but compromises neither item (1 < [[D9MinShared]] with each), so
    * it does not appear here — the report answers "is THIS item
    * leaked", not "is this doc tainted" (spec asserts the implied
    * containment).
    *
    * Scale shape: same broadcast skeleton as d9 — the suite side now
    * carries (bench_id, shingle) instead of a global DISTINCT, still
    * suite-sized, still broadcast; the corpus side joins map-side and
    * the two aggregations (per (item, doc) count, then per item) are
    * both map-side-combinable hash aggs keyed far below corpus
    * cardinality. */
  def d9Report(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bench = Tables.parquet(s, d9BenchmarksPath(s, dir))
      .withColumn("norm", TextOps.normText(col("prompt")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .select(col("bench_id"),
        explode(expr(s"array_distinct(word_shingles(toks, $D9ShingleW))"))
          .as("shingle"))
    val train = TextOps.withShingles(Tables.documentsSpread(s, dir))
      .filter(!(TextAnalysis.sampleBucket(col("doc_id")) < D9BenchPct))
      .withColumn("shset",
        expr(s"array_distinct(word_shingles(toks, $D9ShingleW))"))
      .select(col("doc_id"), explode(col("shset")).as("shingle"))
    train.join(broadcast(bench), Seq("shingle"))
      .groupBy("bench_id", "doc_id")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= D9MinShared)
      .groupBy("bench_id")
      .agg(count(lit(1)).as("n_overlapping"), max("shared").as("max_shared"))
      .orderBy("bench_id")
  }

  // ------------------------------------------- d16 exact-substring spans

  /** Minimum reported common-substring length, in TOKENS. A run of n
    * consecutive matching [[D9ShingleW]]-shingles on one alignment
    * diagonal is an exact common substring of n + W − 1 tokens; 12
    * demands runs of ≥ 5 shingles — long enough that coincidental
    * phrase reuse doesn't fire, short enough that real leaked spans
    * (planted near-dup families: 39–89 tokens) always do. */
  val D16MinSpan = 12

  /** d16: EXACT-SUBSTRING contamination spans — the span-granular
    * sibling of d9 (which only FLAGS a training doc sharing ≥ 2
    * distinct 8-grams with the benchmark slice): report every maximal
    * exact common substring of ≥ [[D16MinSpan]] tokens between a
    * training doc and a benchmark doc, with positions on BOTH sides —
    * the artifact a redaction job consumes (cut `tok_start …
    * tok_start+span_len` from the doc) and an eval audit cites
    * (`bench_start` localizes the leak in the benchmark item). This is
    * the suffix-array "exact substring" decontamination of Lee et al.
    * (2022), "Deduplicating Training Data Makes Language Models
    * Better", re-expressed relationally: a length-≥-k common substring
    * is exactly a maximal run of consecutive matching k-shingles on
    * one alignment diagonal, so suffix arrays become a join + a
    * gaps-and-islands window — Spark-native, no per-partition
    * imperative state.
    *
    * Plan shape: positional 8-shingles on both sides (one map pass —
    * the kernel shingle pass d2/d4/d9 already ride); the benchmark
    * side (the deterministic [[D9BenchPct]]% slice, stand-in for an
    * MBs-sized eval suite) is BROADCAST, so the corpus side matches
    * map-side with no shuffle of the exploded shingle volume. Matches
    * then shuffle ONCE on (doc, bench_doc, diagonal) — match-bounded,
    * not corpus-bounded — for the island window
    * (`pos − row_number()`), and maximal runs fall out of one
    * aggregation. At 100 TB the corpus never shuffles; only true
    * cross-corpus matches do.
    *
    * Reference behavior anchor: dedup-on-ingest semantics
    * (airflow/dags/twitter_airflow.py:69-92) at span granularity —
    * the d9 inventory machinery extended with alignment positions. */
  def d16ContamSpans(s: SparkSession, dir: String): DataFrame =
    d16SpansOver(Tables.documentsSpread(s, dir))

  /** The d16 core over an explicit `(doc_id, text)` frame — factored so
    * the spec can plant corner corpora the gate data lacks (two
    * disjoint runs on ONE alignment diagonal must stay two islands;
    * the review that forced this factoring caught the ORACLE merging
    * them — its `sp` CTE grouped without the island key `grp`). */
  private[graft] def d16SpansOver(docs: DataFrame): DataFrame = {
    val W = D9ShingleW
    val base = TextOps.withShingles(docs)
      .filter(size(col("toks")) >= W)
      .select(col("doc_id"),
        posexplode(expr(s"word_shingles(toks, $W)")).as(Seq("pos0", "shingle")))
      .withColumn("pos", (col("pos0") + 1).cast("long"))
    val isBench = TextAnalysis.sampleBucket(col("doc_id")) < D9BenchPct
    val bench = base.filter(isBench)
      .select(col("doc_id").as("bench_doc"), col("shingle"),
        col("pos").as("bpos"))
    val train = base.filter(!isBench).select("doc_id", "shingle", "pos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id", "bench_doc", "diag").orderBy("pos")
    train.join(broadcast(bench), Seq("shingle"))
      .withColumn("diag", col("pos") - col("bpos"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "bench_doc", "diag", "grp")
      .agg(min("pos").as("tok_start"),
        (count(lit(1)) + (W - 1)).as("span_len"))
      .filter(col("span_len") >= D16MinSpan)
      .select(col("doc_id"), col("bench_doc"), col("tok_start"),
        (col("tok_start") - col("diag")).as("bench_start"), col("span_len"))
      .orderBy("doc_id", "bench_doc", "tok_start", "bench_start")
  }

  // ------------------------------------------------ d11 incremental dedup

  /** d11 increment derivation constants: every [[D11Mod]]th corpus doc
    * spawns an increment doc re-keyed PAST the corpus max id (so every
    * corpus id sorts below every increment id — the property that
    * makes increment admission ≡ the greedy keep-list on the union,
    * restricted to increment docs). Of those: every [[D11ExactMod]]th
    * arrives as an exact copy (the re-upload shape), every remaining
    * [[D11NearMod]]th with a one-token suffix (near-dup above the
    * Jaccard threshold for long docs, below it for short ones — both
    * verdicts exercised), the rest with character-reversed text
    * (genuinely novel shingles). Deterministic, so the DuckDB oracle
    * reproduces the staged shard from `documents` in SQL. */
  val D11Mod = 7
  val D11ExactMod = 21
  val D11NearMod = 14

  /** Candidate-rep fetch strategy bound: at most this many corpus doc
    * ids go into a literal IN filter (parquet row-group pushdown — the
    * point-lookup shape; a keyed store / clustered table serves it at
    * 100 TB); past it the fetch degrades to a broadcast semi-join of
    * the id set (same rows, one full column scan). */
  val D11FetchInMax = 10000

  /** The persisted SIGNATURE INDEX — the artifact that makes dedup
    * INCREMENTAL: a production lake never re-minhashes 100 TB to admit
    * 1 TB; it screens the new shard against the corpus's persisted
    * band signatures. Staged once per corpus generation under a
    * fingerprint-keyed path, both files as ONE unit
    * ([[graft.Artifacts.staged]] with parts: the directory also holds
    * st11's [[st11ShsetsPath]]), at DISTINCT-content level (the
    * [[contentGroups]] lesson: exact-dup clusters cost one index row,
    * not m):
    *  - `contents.parquet` (ch, rep): content hash → minimum member
    *    doc id — the exact-dup screen and the confirm fetch key;
    *  - `bands.parquet` (ch, rep, band_id, band_key): the d2 MinHash
    *    LSH band keys ([[NumHashes]]/[[Bands]], same kernel) for every
    *    content passing [[MinToks]].
    * Index size is ~fixed-width rows per distinct content — orders of
    * magnitude below corpus bytes; admission scans it map-side against
    * a BROADCAST of the (shard-sized) increment bands, so the corpus
    * text is never re-read except to fetch confirm candidates. */
  def d11IndexPath(s: SparkSession, dir: String): String = {
    graft.functions.GraftFunctions.register(s)
    graft.Artifacts.staged(s, graft.Artifacts.stagedDir("dedupindex",
        Tables.fingerprint(s, dir, "documents")),
        "contents.parquet", "bands.parquet") { out =>
      // both layers read the distinct-content groups: persisted for the
      // write, so the corpus scan, normalisation and grouping run once
      val groups = Tables.documentsSpread(s, dir)
        .withColumn("norm", TextOps.normText(col("text")))
        .groupBy(md5(col("norm")).as("ch"))
        .agg(min("doc_id").as("rep"), first("norm").as("norm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        groups.select("ch", "rep").write.parquet(s"$out/contents.parquet")
        groups
          .withColumn("toks", expr(TextOps.toksExpr))
          .filter(size(col("toks")) >= MinToks)
          .withColumn("shingles", expr("word_shingles(toks)"))
          .select(col("ch"), col("rep"), posexplode(
            expr(s"minhash_band_keys(shingles, $NumHashes, $Bands)")))
          .select(col("ch"), col("rep"), col("pos").as("band_id"),
            col("col").as("band_key"))
          .write.parquet(s"$out/bands.parquet")
      } finally groups.unpersist()
    }
  }

  /** The staged increment shard — a genuine second parquet
    * (`increment(doc_id, text)`, ids past the corpus max; see
    * [[D11Mod]]), staged once per corpus generation. */
  def d11IncrementPath(s: SparkSession, dir: String): String =
    graft.Artifacts.staged(s, graft.Artifacts.stagedDir("incdata",
        Tables.fingerprint(s, dir, "documents"), "increment.parquet")) { out =>
      val docs = Tables.documents(s, dir)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      docs.filter(col("doc_id") % D11Mod === 0)
        .select((col("doc_id") + maxId + 1).as("doc_id"),
          when(col("doc_id") % D11ExactMod === 0, col("text"))
            .when(col("doc_id") % D11NearMod === 0,
              concat(col("text"), lit(" [inc]")))
            .otherwise(reverse(col("text"))).as("text"))
        .write.parquet(out)
    }

  /** d11: INCREMENTAL dedup — admit a NEW shard against the persisted
    * signature index ([[d11IndexPath]]) without re-screening the
    * corpus. Returns (doc_id, is_new_unique) for every increment doc:
    * 1 iff the doc survives the SAME greedy keep-list rule d6 applies
    * to the full union (increment ids all sort above corpus ids, so
    * the union keep-list restricted to the increment is exactly "no
    * kept-or-smaller partner at Jaccard ≥ [[KeepMinJaccard]]") — the
    * gate's oracle IS the full union recompute, so the equivalence is
    * hash-verified per SF, and DedupSpec re-proves it in Spark by
    * staging the union and running the batch chain.
    *
    * Scale shape (the round-12 point): corpus-sized work is ZERO at
    * admission time. The increment collapses to distinct content
    * (one shard-sized shuffle), its band keys BROADCAST into a
    * map-side probe of the index scan (index rows are fixed-width
    * signatures, ~100× below corpus bytes; never shuffled), the
    * shard's self-join is shard-sized, and the confirm stage fetches
    * ONLY the candidate rep docs from the lake (IN-pushdown /
    * broadcast semi-join — [[D11FetchInMax]]); Jaccard is then
    * row-local on the pair's two shingle sets (the d4Confirm shape,
    * cost ∝ candidates). The index build itself is the pay-once
    * per-generation corpus pass (probe times it separately). */
  def d11DedupIncremental(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "dedup.d11")(
      d11Admit(_, dir, Tables.parquet(s, d11IncrementPath(s, dir))))

  /** The admission core over an explicit increment frame
    * (doc_id, text) — factored out so the scale probe can admit a
    * FIXED-SIZE shard against growing corpora. CONTRACT: every
    * increment doc_id must exceed every corpus doc_id (the staging
    * guarantees it; see [[D11Mod]]). */
  private[graft] def d11Admit(sc: graft.Artifacts.Scope, dir: String,
      inc: DataFrame): DataFrame = {
    val s = sc.session
    graft.functions.GraftFunctions.register(s)
    val idx = d11IndexPath(s, dir)
    val idxBands = Tables.parquet(s, s"$idx/bands.parquet")
    val contents = Tables.parquet(s, s"$idx/contents.parquet")

    // shard collapsed to distinct content (the contentGroups lesson),
    // eagerly materialized once — four screening branches reuse it
    val incGroups = sc.cut(inc
      .withColumn("norm", TextOps.normText(col("text")))
      .groupBy(md5(col("norm")).as("ich"))
      .agg(sort_array(collect_list(col("doc_id"))).as("members"),
        first(col("norm")).as("norm"))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("shset", expr("array_distinct(word_shingles(toks))")))

    // 1. exact duplicates of corpus content: every member drops
    val exactDup = incGroups.join(contents, col("ich") === col("ch"))
      .select(explode(col("members")).as("doc_id"))
    // 2. exact duplicates WITHIN the shard: all but the minimum member
    val withinDup = incGroups.filter(size(col("members")) > 1)
      .select(explode(expr("slice(members, 2, size(members) - 1)"))
        .as("doc_id"))

    // 3. banded near-dup candidates vs the INDEX: increment bands ride
    // a broadcast; the index scan probes map-side (no index shuffle)
    val incBandKeys = incGroups.filter(size(col("toks")) >= MinToks)
      .select(col("ich"),
        posexplode(expr("minhash_band_keys(word_shingles(toks), " +
          s"$NumHashes, $Bands)")))
      .select(col("ich"), col("pos").as("band_id"), col("col").as("band_key"))
    // candidate-bounded; reused by fetch + confirm
    val crossCand = sc.cut(idxBands
      .join(broadcast(incBandKeys), Seq("band_id", "band_key"))
      .filter(col("ch") =!= col("ich")) // identical content → exact path
      .select(col("ch"), col("rep"), col("ich"))
      .dropDuplicates("ch", "ich"))

    // fetch ONLY the candidate rep docs from the lake
    val repIds = crossCand.select("rep").distinct()
      .collect().map(_.getLong(0))
    val repDocs =
      if (repIds.length <= D11FetchInMax)
        Tables.documents(s, dir).filter(col("doc_id").isin(repIds: _*))
      else
        Tables.documents(s, dir).join(
          broadcast(crossCand.select(col("rep").as("doc_id")).distinct()),
          Seq("doc_id"))
    val corpusSide = repDocs
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .select(col("doc_id").as("rep"), col("norm").as("cnorm"),
        expr("array_distinct(word_shingles(toks))").as("cshset"))

    def jacc(sa: String, na: String, sb: String, nb: String) = {
      val inter = size(array_intersect(col(sa), col(sb))).cast("long")
      val uni = (size(col(sa)) + size(col(sb))).cast("long") - inter
      when(uni === 0,
        when(col(na) === col(nb), lit(1.0)).otherwise(lit(0.0)))
        .otherwise(inter / uni)
    }

    // corpus partner confirmed ⇒ every member of the inc group drops
    // (corpus ids all sort below increment ids)
    val crossDrop = crossCand
      .join(corpusSide, "rep")
      .join(incGroups.select(col("ich"), col("norm").as("inorm"),
        col("shset").as("ishset"), col("members")), "ich")
      .filter(jacc("cshset", "cnorm", "ishset", "inorm") >= KeepMinJaccard)
      .select(explode(col("members")).as("doc_id"))

    // 4. shard-internal near-dups: banded self-join (shard-sized)
    val incPairs = incBandKeys.as("x").join(incBandKeys.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.ich") < col("y.ich"))
      .select(col("x.ich").as("ha"), col("y.ich").as("hb"))
      .dropDuplicates("ha", "hb")
    val g = incGroups.select(col("ich"), col("norm"), col("shset"),
      col("members"))
    val incDrop = incPairs
      .join(g.select(col("ich").as("ha"), col("norm").as("na"),
        col("shset").as("sa"), col("members").as("ma")), "ha")
      .join(g.select(col("ich").as("hb"), col("norm").as("nb"),
        col("shset").as("sb"), col("members").as("mb")), "hb")
      .filter(jacc("sa", "na", "sb", "nb") >= KeepMinJaccard)
      .select(explode(col("ma")).as("a"), col("mb"))
      .select(col("a"), explode(col("mb")).as("b"))
      .select(greatest(col("a"), col("b")).as("doc_id")) // greedy: greater side

    val drop = exactDup.unionAll(withinDup).unionAll(crossDrop)
      .unionAll(incDrop).distinct()
    inc.select("doc_id")
      .join(drop.withColumn("dup", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup").isNull, lit(1)).otherwise(lit(0))
          .cast("int").as("is_new_unique"))
      .orderBy("doc_id")
  }

  /** d5 banding parameters. Bands fixed at 4 (recall knob: a near-dup
    * pair is a candidate if it agrees in ANY band); bits per band scale
    * with the corpus so expected bucket occupancy stays O(1) — the
    * round-1 version's fixed 256 buckets made the within-bucket
    * self-join O(n²/256), unrunnable at 10⁹ vectors. */
  val D5Bands = 4
  /** Expected vectors per (band, bucket) once bits-per-band growth
    * saturates: candidate pairs per vector are bounded by
    * 2 · D5Bands · occupancy ≈ 128 — the linear constant of the
    * operator. (SURVEY §5 records the 10×/100× scaling.) */
  val D5TargetOccupancy = 16
  /** Group-level candidates kept per (band, bucket) before the global
    * merge — a map-side WindowGroupLimit, so a skewed bucket can emit at
    * most this many pairs downstream instead of its full O(occ²). */
  val D5PerBucketTopK = 50

  /** bits = bit-length of (ceil(n / occupancy) - 1), floored at 8 —
    * i.e. ceil(log2(n / occupancy)) computed in INTEGER arithmetic, so
    * the Scala side and the DuckDB oracle (which mirrors this with
    * `length(bin(m))`) cannot disagree at power-of-two corpus sizes the
    * way floating-point log ratios can. */
  def d5BitsPerBand(n: Long): Int = {
    val buckets = (math.max(n, 2L) + D5TargetOccupancy - 1) / D5TargetOccupancy
    val m = buckets - 1
    math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(m))
  }

  /** d5: embedding-cosine near-dup candidates, global top-20 pairs (so
    * the operator is observable even when the corpus has no true
    * near-dups).
    *
    * Scale shape (each piece mirrors a d2 lesson):
    *  - identical embeddings collapse to one group first (min vec_id as
    *    representative), so an exact-duplicate cluster of m vectors costs
    *    one bucket member, not an O(m²) bucket hot spot; member pairs are
    *    expanded after candidate selection;
    *  - blocking is banded sign-LSH from one fused codegen'd kernel
    *    (graft.functions.HyperplaneBandKeys) consumed through a single
    *    posexplode reference; [[d5BitsPerBand]] grows with corpus size
    *    (two-phase: a cheap count-star picks the literal, like q17), so
    *    bucket cardinality scales with n and within-bucket work stays
    *    ~O(n · occupancy) — linear — instead of O(n²/constant);
    *  - per-bucket top-k (WindowGroupLimit: partial limit below the
    *    shuffle) runs before the global top-20 merge, so no bucket can
    *    flood the final sort. Keeping k ≥ the global limit makes the
    *    two-stage top-k lossless up to COSINE TIES: a pair with a
    *    strictly-top-20 cosine has ≤ 19 strictly-better pairs in any
    *    bucket that contains it; but the bucket stage tie-breaks equal
    *    cosines by group reps (ra, rb) while the global limit
    *    tie-breaks by expanded member ids (vec_a, vec_b), so with ≥ k
    *    equal-cosine pairs in ONE bucket a borderline tied pair can be
    *    cut. Both engines share the ordering, so the oracle still
    *    matches; the caveat is semantic, not a divergence risk.
    * The embedding rides through the band shuffle (256 B × 4 bands per
    * group) so scoring is bucket-local with no join-back — fewer
    * shuffles at the cost of shuffle width, the same tradeoff d2 makes
    * carrying `members`. */
  def d5Embedding(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val e = Tables.embeddings(s, dir)
    val bb = d5BitsPerBand(e.count())
    val g = e.groupBy("embedding")
      .agg(min("vec_id").as("rep"),
        sort_array(collect_list(col("vec_id"))).as("members"))
    val bands = g
      .select(col("rep"), col("embedding"), col("members"),
        posexplode(expr(s"hyperplane_band_keys(embedding, $D5Bands, $bb)")))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bkey")
      .hint("shuffle_hash") // see d2Minhash: stage reuse beats broadcast
    val scored = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.rep") < col("y.rep"))
      .select(col("x.rep").as("ra"), col("y.rep").as("rb"),
        col("x.band").as("band"), col("x.bkey").as("bkey"),
        VectorOps.cosine("x.embedding", "y.embedding").as("cos"),
        col("x.members").as("ma"), col("y.members").as("mb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bkey")
      .orderBy(col("cos").desc, col("ra"), col("rb"))
    val gp = scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= D5PerBucketTopK)
      // a pair can match in several bands; cos/members are identical
      // across its copies, so any surviving row represents it
      .dropDuplicates("ra", "rb")
    expandMemberPairs(
      cross = gp,
      // exact-duplicate embeddings: all within-group pairs, scored by
      // the same fold (cosine of a vector with itself, ≈1 up to fp
      // rounding)
      within = g.filter(size(col("members")) > 1)
        .select(col("members"),
          VectorOps.cosine("embedding", "embedding").as("cos")),
      carry = Seq("cos"))
      .withColumnRenamed("doc_a", "vec_a")
      .withColumnRenamed("doc_b", "vec_b")
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  // ---------------------------------------------------------------- oracle

  private def sqlMinhash(seed: Int): String =
    s"list_min(list_transform(shingles, x -> md5('$seed|' || x)))"

  /** Shared DuckDB CTE chain ending in `pairs`(doc_a, doc_b) — the d2
    * screen, reused verbatim by the composed d6 pipeline oracle so the
    * two entries cannot drift. */
  private lazy val sqlD2PairsCtes: String = {
    val sigCols = (0 until NumHashes)
      .map(j => s"  ${sqlMinhash(j)} AS h$j").mkString(",\n")
    val bandSelects = (0 until Bands).map { b =>
      val concat = (0 until RowsPerBand)
        .map(r => s"h${b * RowsPerBand + r}").mkString(" || ")
      s"  SELECT doc_id, $b AS band_id, md5($concat) AS band_key FROM sig"
    }.mkString("\n  UNION ALL\n")
    s"""${TextOps.sqlShingleCte},
       |sig AS (SELECT doc_id,
       |$sigCols
       |FROM shingle_t WHERE len(toks) >= $MinToks),
       |bands AS (
       |$bandSelects),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band_id = y.band_id AND x.band_key = y.band_key
       |    AND x.doc_id < y.doc_id)""".stripMargin
  }

  /** [[sqlD2PairsCtes]] extended through `confirmed`(doc_a, doc_b,
    * inter, union_sz, jaccard) — the d4Confirm mirror; shared by d6 and
    * the c1 curation oracle. */
  private[operators] lazy val sqlConfirmedCtes: String =
    s"""$sqlD2PairsCtes,
       |sets AS (
       |  SELECT doc_id, norm, list_distinct(shingles) AS shset
       |  FROM shingle_t),
       |confirmed0 AS (
       |  SELECT p.doc_a, p.doc_b, a.norm AS norm_a, b.norm AS norm_b,
       |    CAST(len(list_intersect(a.shset, b.shset)) AS BIGINT) AS inter,
       |    CAST(len(a.shset) + len(b.shset) AS BIGINT) AS sz
       |  FROM pairs p JOIN sets a ON a.doc_id = p.doc_a
       |               JOIN sets b ON b.doc_id = p.doc_b),
       |confirmed AS (
       |  SELECT doc_a, doc_b, inter, sz - inter AS union_sz,
       |    CASE WHEN sz - inter = 0
       |      THEN CASE WHEN norm_a = norm_b THEN 1.0 ELSE 0.0 END
       |      ELSE inter / (sz - inter) END AS jaccard
       |  FROM confirmed0)""".stripMargin

  /** [[sqlConfirmedCtes]] extended through `clus`(doc_id, cluster_id) —
    * the d8 mirror: transitive closure from every node via recursive CTE
    * (UNION dedups, so it terminates), then min reachable id per node —
    * the brute-force spelling of what star contraction computes. DuckDB
    * needs RECURSIVE declared on the WITH that contains the recursive
    * member. Shared by the d8 and c2 oracles so the cluster semantics
    * cannot drift between them. */
  private[operators] lazy val sqlClusterCtes: String =
    s"""WITH RECURSIVE ${sqlConfirmedCtes.stripPrefix("WITH ")},
       |dedges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM confirmed
       |  WHERE jaccard >= $KeepMinJaccard
       |  UNION
       |  SELECT doc_b, doc_a FROM confirmed
       |  WHERE jaccard >= $KeepMinJaccard),
       |reach(n, r) AS (
       |  SELECT u, u FROM (SELECT DISTINCT u FROM dedges)
       |  UNION
       |  SELECT reach.n, e.v FROM reach JOIN dedges e ON e.u = reach.r),
       |comp AS (SELECT n AS doc_id, min(r) AS cluster_id
       |         FROM reach GROUP BY n),
       |clus AS (
       |  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)""".stripMargin

  /** Shared DuckDB CTE chain ending in `fp`(doc_id, simhash) — the
    * simhash60 kernel mirror, reused by d3 and d7 so they cannot
    * drift. */
  /** h_t → bits → fp tail of the simhash60 kernel mirror: per-token md5
    * → ±1 per bit → sign-packed fingerprint. Expects a relation
    * `(doc_id, t)` named `src` in scope. Shared by d3/d7 (word-token
    * stream) and m4 (payload hex-gram stream) so the kernel mirror
    * cannot drift between token sources. */
  private[operators] def sqlSimhashTail(src: String): String =
    s"""h_t AS (SELECT doc_id, substr(md5(t), 1, 15) AS h FROM $src),
       |bits AS (
       |  SELECT doc_id, j,
       |    SUM(CASE WHEN (((strpos('0123456789abcdef',
       |        substr(h, 15 - (j // 4), 1)) - 1) >> (j % 4)) & 1) = 1
       |      THEN 1 ELSE -1 END) AS sgn
       |  FROM h_t, range(0, $SimhashBits) r(j) GROUP BY doc_id, j),
       |fp AS (
       |  SELECT doc_id, CAST(SUM(CASE WHEN sgn > 0
       |    THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)
       |    AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  private lazy val sqlSimhashCtes: String =
    s"""WITH norm_t AS (
       |  SELECT doc_id, ${TextOps.sqlNormText} AS norm FROM documents),
       |tok_t AS (
       |  SELECT doc_id, unnest(${TextOps.sqlToks}) AS t FROM norm_t),
       |""".stripMargin + sqlSimhashTail("tok_t")

  /** Shared DuckDB CTE block for d9's overlap detection, ending in
    * `d9over`(doc_id, n_shared, n_shingles) — one row per CONTAMINATED
    * training doc. Requires `tok_t` in scope (TextOps.sqlShingleCte or
    * [[sqlConfirmedCtes]]). Shared by the d9 and c4 oracles so the
    * decontamination semantics cannot drift between them. */
  private[operators] lazy val sqlD9Ctes: String =
    s"""d9sets AS (
       |  SELECT doc_id,
       |    list_distinct(${TextOps.sqlShinglesW(D9ShingleW)}) AS shset8
       |  FROM tok_t),
       |d9bench AS (
       |  SELECT DISTINCT unnest(shset8) AS shingle FROM d9sets
       |  WHERE ${TextAnalysis.sqlSampleBucket("doc_id")} < $D9BenchPct),
       |d9train AS (
       |  SELECT doc_id, CAST(len(shset8) AS BIGINT) AS n_shingles,
       |    unnest(shset8) AS shingle FROM d9sets
       |  WHERE NOT (${TextAnalysis.sqlSampleBucket("doc_id")}
       |    < $D9BenchPct)),
       |d9over AS (
       |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared,
       |    t.n_shingles
       |  FROM d9train t JOIN d9bench b ON t.shingle = b.shingle
       |  GROUP BY t.doc_id, t.n_shingles
       |  HAVING count(*) >= $D9MinShared)""".stripMargin

  /** The d11 oracle is deliberately the FULL-RECOMPUTE spelling: derive
    * the increment, union it with the corpus, run the whole d2 screen →
    * confirm chain over the union (the shared CTEs, retargeted at the
    * union relation), and read each increment doc's keep-list verdict —
    * so the gate hash-verifies "increment admission ≡ batch recompute
    * on the union" at every SF, not just in a spec. */
  private lazy val sqlD11Oracle: String = {
    val unionChain = sqlConfirmedCtes.stripPrefix("WITH ")
      .replace("FROM documents", "FROM udocs")
    s"""WITH mx AS (SELECT max(doc_id) AS mxid FROM documents),
       |inc AS (
       |  SELECT doc_id + mxid + 1 AS doc_id,
       |    CASE WHEN doc_id % $D11ExactMod = 0 THEN text
       |         WHEN doc_id % $D11NearMod = 0 THEN text || ' [inc]'
       |         ELSE reverse(text) END AS text
       |  FROM documents CROSS JOIN mx WHERE doc_id % $D11Mod = 0),
       |udocs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM inc),
       |$unionChain
       |SELECT i.doc_id,
       |  CAST(CASE WHEN EXISTS (SELECT 1 FROM confirmed c
       |    WHERE c.doc_b = i.doc_id AND c.jaccard >= $KeepMinJaccard)
       |    THEN 0 ELSE 1 END AS INTEGER) AS is_new_unique
       |FROM inc i ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------- st11 streaming admission

  /** st11 core: the CONFIRMED-DUPLICATE FEED of an incoming shard
    * against the PERSISTED d11 signature index — the streaming face of
    * d11 (d11 is the batch admission audit; this is the always-on
    * ingest gate). Per incoming doc, two row-local screens against
    * fingerprint-keyed lake artifacts: exact (content md5 vs the
    * index's contents table) and near (minhash band keys vs the
    * index's bands table, confirmed by the d2/d4 jaccard on distinct
    * shingle sets at [[KeepMinJaccard]]). The OUTPUT IS A FEED of
    * (doc_id, dup_of, kind, jaccard) pairs, append-only by
    * construction — no per-doc aggregation, no watermark, no state —
    * so the streaming spelling stays stateless end-to-end; the ingest
    * writer consumes it as an anti-join at merge time (the d11
    * verdict is `doc_id NOT IN feed`). Within-shard duplicates are
    * OUT of scope by design: admission compares against the LAKE;
    * shard-internal dedup is d11's batch compaction job.
    *
    * Scale: the shard's band keys ride a broadcast into the index
    * scan (no index shuffle — d11's audited shape), and the confirm
    * joins the PERSISTED shingle-set artifact ([[st11ShsetsPath]])
    * pruned by a broadcast of the candidate-bounded rep list — the
    * admission path touches lake artifacts only, never the corpus
    * table. Cost ∝ shard + candidates. */
  /** The confirm-side artifact: (rep, cnorm, cshset) for every index
    * content, staged ONCE per corpus generation next to the d11 index
    * files (its own unit in the same directory). With it, st11's
    * per-batch confirm joins LAKE ARTIFACTS only — a production
    * admission gate that re-scanned 100 TB of corpus parquet every
    * micro-batch to re-derive candidate shingle sets would be paying
    * the pay-once staging cost continuously. Storage is the classic
    * dedup-index trade: ~corpus-token-sized, the price of O(shard)
    * admission. */
  private[graft] def st11ShsetsPath(s: SparkSession, dir: String): String = {
    graft.functions.GraftFunctions.register(s)
    graft.Artifacts.staged(s, graft.Artifacts.stagedDir("dedupindex",
        Tables.fingerprint(s, dir, "documents"), "shsets.parquet"))(
      Tables.documentsSpread(s, dir)
        .withColumn("norm", TextOps.normText(col("text")))
        .groupBy(md5(col("norm")).as("ch"))
        .agg(min("doc_id").as("rep"), first("norm").as("cnorm"))
        .withColumn("norm", col("cnorm"))
        .withColumn("toks", expr(TextOps.toksExpr))
        .select(col("rep"), col("cnorm"),
          expr("array_distinct(word_shingles(toks))").as("cshset"))
        .write.parquet(_))
  }

  private[graft] def st11AdmitFeed(sc: graft.Artifacts.Scope, dir: String,
      inc: DataFrame): DataFrame = {
    val s = sc.session
    graft.functions.GraftFunctions.register(s)
    val idx = d11IndexPath(s, dir)
    val contents = Tables.parquet(s, s"$idx/contents.parquet")
    val idxBands = Tables.parquet(s, s"$idx/bands.parquet")
    val e = sc.cut(inc // shard-sized; feeds both screens once
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("ih", md5(col("norm")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("ishset", expr("array_distinct(word_shingles(toks))")))
    val exact = e.join(contents, col("ih") === col("ch"))
      .select(col("doc_id"), col("rep").as("dup_of"),
        lit("exact").as("kind"), lit(1.0).as("jaccard"))
    val bandKeys = e.filter(size(col("toks")) >= MinToks)
      .select(col("doc_id"), col("ih"), col("norm").as("inorm"),
        col("ishset"),
        posexplode(expr(
          s"minhash_band_keys(word_shingles(toks), $NumHashes, $Bands)")))
      .select(col("doc_id"), col("ih"), col("inorm"), col("ishset"),
        col("pos").as("band_id"), col("col").as("band_key"))
    val cand = idxBands.join(broadcast(bandKeys), Seq("band_id", "band_key"))
      .filter(col("ch") =!= col("ih")) // identical content → exact path
      .select(col("doc_id"), col("rep"), col("inorm"), col("ishset"))
      .dropDuplicates("doc_id", "rep")
    val corpusSide = Tables.parquet(s, st11ShsetsPath(s, dir))
      .join(broadcast(cand.select(col("rep")).distinct()), Seq("rep"))
    val inter = size(array_intersect(col("ishset"), col("cshset")))
      .cast("long")
    val uni = (size(col("ishset")) + size(col("cshset"))).cast("long") - inter
    val jacc = when(uni === 0,
      when(col("inorm") === col("cnorm"), lit(1.0)).otherwise(lit(0.0)))
      .otherwise(inter / uni)
    val near = cand.join(corpusSide, "rep")
      .withColumn("jaccard", jacc)
      .filter(col("jaccard") >= KeepMinJaccard)
      .select(col("doc_id"), col("rep").as("dup_of"),
        lit("near").as("kind"), col("jaccard"))
    exact.unionByName(near)
  }

  /** Parametric band-key CTE builder (the [[sqlD2PairsCtes]] sig/band
    * fragments retargeted at an arbitrary relation): `src` must expose
    * `keySel`'s columns plus `toks` and `shingles`; emits
    * `sig_<out>` and `<out>`(keySel..., band_id, band_key). */
  private def sqlBandsCte(src: String, keySel: String, out: String): String = {
    val sigCols = (0 until NumHashes)
      .map(j => s"  ${sqlMinhash(j)} AS h$j").mkString(",\n")
    val bandSelects = (0 until Bands).map { b =>
      val concat = (0 until RowsPerBand)
        .map(r => s"h${b * RowsPerBand + r}").mkString(" || ")
      s"  SELECT $keySel, $b AS band_id, md5($concat) AS band_key" +
        s" FROM sig_$out"
    }.mkString("\n  UNION ALL\n")
    s"""sig_$out AS (SELECT $keySel,
       |$sigCols
       |FROM $src WHERE len(toks) >= $MinToks),
       |$out AS (
       |$bandSelects)""".stripMargin
  }

  /** st11's DuckDB mirror: the index rebuilt at CONTENT level (ch →
    * min-doc rep, exactly [[d11IndexPath]]'s layout), the d11-derived
    * increment screened against it, the same exact/near split and
    * the same zero-union jaccard rule. */
  private[graft] lazy val sqlSt11FeedOracle: String = {
    val cgBands = sqlBandsCte("cgs", "ch, rep", "cbands")
    val incBands = sqlBandsCte("ins", "doc_id, ih", "ibands")
    s"""WITH mx AS (SELECT max(doc_id) AS mxid FROM documents),
       |inc AS (
       |  SELECT doc_id + mxid + 1 AS doc_id,
       |    CASE WHEN doc_id % $D11ExactMod = 0 THEN text
       |         WHEN doc_id % $D11NearMod = 0 THEN text || ' [inc]'
       |         ELSE reverse(text) END AS text
       |  FROM documents CROSS JOIN mx WHERE doc_id % $D11Mod = 0),
       |cn AS (SELECT doc_id, ${TextOps.sqlNormText} AS norm
       |  FROM documents),
       |cg AS (SELECT md5(norm) AS ch, min(doc_id) AS rep,
       |    min(norm) AS norm FROM cn GROUP BY md5(norm)),
       |cgt AS (SELECT ch, rep, norm, ${TextOps.sqlToks} AS toks FROM cg),
       |cgs AS (SELECT ch, rep, norm, toks,
       |    ${TextOps.sqlShingles} AS shingles FROM cgt),
       |in0 AS (SELECT doc_id, ${TextOps.sqlNormText} AS norm FROM inc),
       |int_ AS (SELECT doc_id, norm, md5(norm) AS ih,
       |    ${TextOps.sqlToks} AS toks FROM in0),
       |ins AS (SELECT doc_id, norm, ih, toks,
       |    ${TextOps.sqlShingles} AS shingles FROM int_),
       |ex AS (
       |  SELECT i.doc_id, g.rep AS dup_of, 'exact' AS kind,
       |    CAST(1.0 AS DOUBLE) AS jaccard
       |  FROM int_ i JOIN cg g ON g.ch = i.ih),
       |$cgBands,
       |$incBands,
       |cand AS (
       |  SELECT DISTINCT i.doc_id, i.ih, b.ch, b.rep
       |  FROM ibands i JOIN cbands b
       |    ON b.band_id = i.band_id AND b.band_key = i.band_key
       |    AND b.ch <> i.ih),
       |isets AS (SELECT doc_id, norm, list_distinct(shingles) AS shset
       |  FROM ins),
       |csets AS (SELECT ch, norm, list_distinct(shingles) AS shset
       |  FROM cgs),
       |near0 AS (
       |  SELECT c.doc_id, c.rep AS dup_of, a.norm AS inorm,
       |    b.norm AS cnorm,
       |    CAST(len(list_intersect(a.shset, b.shset)) AS BIGINT) AS inter,
       |    CAST(len(a.shset) + len(b.shset) AS BIGINT) AS sz
       |  FROM cand c JOIN isets a ON a.doc_id = c.doc_id
       |              JOIN csets b ON b.ch = c.ch),
       |near AS (
       |  SELECT doc_id, dup_of, 'near' AS kind,
       |    CASE WHEN sz - inter = 0
       |      THEN CASE WHEN inorm = cnorm THEN 1.0 ELSE 0.0 END
       |      ELSE inter / (sz - inter) END AS jaccard
       |  FROM near0)
       |SELECT doc_id, dup_of, kind, jaccard FROM (
       |  SELECT * FROM ex
       |  UNION ALL
       |  SELECT * FROM near WHERE jaccard >= $KeepMinJaccard)
       |ORDER BY doc_id, dup_of""".stripMargin
  }

  /** d14 knobs. Blocking is ASYMMETRIC: each doc PROBES with its
    * [[D14RareK]] rarest distinct shingles (document frequency ≤
    * [[D14MaxDf]], ties by shingle text) against an INDEX of ALL
    * df-capped shingle occurrences — a rare shared phrase is the
    * signature of quotation. Symmetric rarest-K×rarest-K blocking is
    * NOT enough: the container's own rarest shingles live OUTSIDE the
    * quoted span and push the shared ones out of its key set (the
    * first spelling missed planted quotes exactly this way; the spec
    * now pins the asymmetric contract against the brute force). The
    * df cap bounds every index bucket (≤ MaxDf docs), so candidates
    * are ≤ RareK·MaxDf per doc whatever the corpus. The recall trade
    * is explicit: a contained doc whose RareK rarest capped shingles
    * are ALL unshared is missed — DedupSpec measures recall 1.0 vs
    * the unblocked brute force on the gate corpus (median shingle df
    * there is 1; planted quotes carry exactly 4 self-only boundary
    * shingles, well under RareK). */
  val D14MaxDf = 16
  val D14RareK = 8
  /** Containment threshold, permille. */
  val D14Tau = 600L
  val D14PlantMod = 9
  val D14PlantMinToks = 40
  val D14SliceFrom = 3
  val D14SliceLen = 30

  /** d14: CONTAINMENT dedup — find (quote ⊆ host) document pairs that
    * Jaccard-based screens (d2/d4) structurally MISS: a 30-token quote
    * inside a 5000-token host has Jaccard ≈ 0.006 but containment
    * |sh(q)∩sh(h)| / |sh(q)| ≈ 1 (Broder's containment coefficient).
    * Training corpora are full of such pairs (syndicated excerpts,
    * quoted posts, boilerplate-wrapped reprints), and keeping both
    * host and quote double-counts the quoted span.
    *
    * The corpus carries no natural quotes, so both engines derive the
    * same planted ones: every [[D14PlantMod]]-th doc with ≥
    * [[D14PlantMinToks]] tokens spawns a quote doc (id shifted past
    * max) whose tokens are a [[D14SliceLen]]-token slice of the host
    * wrapped in a 2+2-token decoration — containment high but < 1.
    *
    * Shape: one shingle scan (the d2/d4 kernel), a df aggregation, a
    * per-doc rarest-[[D14RareK]] WindowGroupLimit, a candidate join on
    * rare shingles (bucket size ≤ [[D14MaxDf]] by construction), and a
    * candidate-bounded intersection count — never all-pairs. The
    * contained side is the SMALLER shingle set (ties → lower id), and
    * the score is integer permille ((inter·1000) div nsh_small), so
    * every comparison is exact in both engines. */
  def d14Containment(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "dedup.d14") { sc =>
      graft.functions.GraftFunctions.register(s)
      // adaptive spread: the normalize/tokenize/shingle kernels below
      // otherwise serialize onto a compact corpus's single scan split
      // (Tables.documentsSpread — the r16 d4-band root cause)
      // docsT feeds BOTH union branches below (the quotes branch re-runs
      // the kernel on the 1/9 plant slice) — checkpointing it once was
      // probed and REJECTED: materializing the corpus token arrays cost
      // +18% over the duplicated slice kernel (r18 same-JVM A/B, medians
      // 7.05 s vs 5.95 s)
      val docsT = Tables.documentsSpread(s, dir)
        .withColumn("norm", TextOps.normText(col("text")))
        .withColumn("toks", expr(TextOps.toksExpr))
        .select(col("doc_id"), col("toks"))
      val mx = docsT.agg(max(col("doc_id")).as("mxid"))
      val quotes = docsT.crossJoin(broadcast(mx))
        .filter(col("doc_id") % D14PlantMod === 0 &&
          size(col("toks")) >= D14PlantMinToks)
        .select((col("doc_id") + col("mxid") + 1).as("doc_id"),
          concat(array(lit("begin"), lit("quote")),
            slice(col("toks"), D14SliceFrom, D14SliceLen),
            array(lit("end"), lit("quote"))).as("toks"))
      // shared by ex/sizes below: one shingle pass
      val d = sc.cut(docsT.unionByName(quotes)
        .withColumn("shset", expr("array_distinct(word_shingles(toks))"))
        .select(col("doc_id"), col("shset"), size(col("shset")).as("nsh")))
      val ex = d.select(col("doc_id"), col("nsh"),
        explode(col("shset")).as("sh"))
      val df = ex.groupBy("sh").agg(count(lit(1)).as("dfc"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("dfc"), col("sh"))
      // one df-join pass feeds both index and probe
      val indexed = sc.cut(ex.join(df, "sh").filter(col("dfc") <= D14MaxDf)
        .select(col("doc_id"), col("sh"), col("dfc")))
      // the candidate join carries the 64-bit HASH of each rare shingle,
      // not the string (the q46 hashed-deletion-key argument, prescribed
      // by the r17 verdict): the index side is every df-capped shingle
      // occurrence, so fixed-width longs shrink its broadcast/exchange
      // bytes ~3x and its hash-relation build. Every value the OUTPUT
      // depends on (dfc for blocking, the intersection count, nsh) stays
      // on exact strings — a collision can only ADD a candidate pair,
      // and the exact-shingle confirm below recounts it from scratch; a
      // collision-added pair could only surface if it GENUINELY exceeds
      // the containment threshold while exact blocking missed it (none
      // exists at any gate SF — 3-SF hash-green — and at production
      // scale such a pair is a true containment the blocking recall
      // trade had dropped).
      val index = indexed.select(col("doc_id"), xxhash64(col("sh")).as("hs"))
      val probe = indexed
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= D14RareK)
        .select(col("doc_id"), xxhash64(col("sh")).as("hs"))
      val cand = probe.as("x").join(index.as("y"),
          col("x.hs") === col("y.hs") && col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("b")).distinct()
      val sizes = d.select(col("doc_id"), col("nsh"))
      // confirm: the candidate list is small by the blocking contract, so
      // AQE broadcasts it into the exploded shingle scan — the corpus is
      // never shuffled here. A semi-join member prune was probed and
      // REJECTED: it adds corpus-sized passes to pre-filter rows the
      // broadcast join already skips for free (probe runs sat at the top
      // of the 17-28s noise band, never below the simple shape).
      val inter = cand
        .join(ex.select(col("doc_id").as("a"), col("sh")), "a")
        .join(ex.select(col("doc_id").as("b"), col("sh")), Seq("b", "sh"))
        .groupBy("a", "b").agg(count(lit(1)).as("inter"))
      inter
        .join(sizes.select(col("doc_id").as("a"), col("nsh").as("na")), "a")
        .join(sizes.select(col("doc_id").as("b"), col("nsh").as("nb")), "b")
        .select(
          when(col("na") <= col("nb"), col("a")).otherwise(col("b"))
            .as("contained_id"),
          when(col("na") <= col("nb"), col("b")).otherwise(col("a"))
            .as("container_id"),
          col("inter"),
          least(col("na"), col("nb")).cast("long").as("nsh_small"),
          expr("(inter * 1000) div least(na, nb)").as("cont_permille"))
        .filter(col("cont_permille") >= D14Tau)
        .orderBy("contained_id", "container_id")
    }

  val oracle: Map[String, String] = Map(
    "d14_containment" ->
      s"""WITH norm_t AS (
         |  SELECT doc_id, ${TextOps.sqlNormText} AS norm FROM documents),
         |tok_t AS (SELECT doc_id, ${TextOps.sqlToks} AS toks FROM norm_t),
         |mx AS (SELECT max(doc_id) AS mxid FROM documents),
         |corpus AS (
         |  SELECT doc_id, toks FROM tok_t
         |  UNION ALL
         |  SELECT doc_id + mxid + 1 AS doc_id,
         |    ['begin','quote']
         |      || toks[$D14SliceFrom:${D14SliceFrom + D14SliceLen - 1}]
         |      || ['end','quote'] AS toks
         |  FROM tok_t CROSS JOIN mx
         |  WHERE doc_id % $D14PlantMod = 0
         |    AND len(toks) >= $D14PlantMinToks),
         |d AS (SELECT doc_id,
         |    list_distinct(${TextOps.sqlShingles}) AS shset FROM corpus),
         |sizes AS (SELECT doc_id, len(shset) AS nsh FROM d),
         |ex AS (SELECT doc_id, unnest(shset) AS sh FROM d),
         |dfq AS (SELECT sh, count(*) AS dfc FROM ex GROUP BY sh),
         |idx AS (SELECT e.doc_id, e.sh, f.dfc
         |  FROM ex e JOIN dfq f USING (sh) WHERE f.dfc <= $D14MaxDf),
         |probe AS (SELECT doc_id, sh FROM (
         |  SELECT doc_id, sh, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY dfc, sh) AS rn
         |  FROM idx) WHERE rn <= $D14RareK),
         |cand AS (SELECT DISTINCT least(x.doc_id, y.doc_id) AS a,
         |    greatest(x.doc_id, y.doc_id) AS b
         |  FROM probe x JOIN idx y
         |    ON x.sh = y.sh AND x.doc_id <> y.doc_id),
         |i AS (SELECT c.a, c.b, CAST(count(*) AS BIGINT) AS inter
         |  FROM cand c
         |  JOIN ex xa ON xa.doc_id = c.a
         |  JOIN ex xb ON xb.doc_id = c.b AND xb.sh = xa.sh
         |  GROUP BY c.a, c.b)
         |SELECT
         |  CASE WHEN na.nsh <= nb.nsh THEN i.a ELSE i.b END AS contained_id,
         |  CASE WHEN na.nsh <= nb.nsh THEN i.b ELSE i.a END AS container_id,
         |  inter,
         |  CAST(least(na.nsh, nb.nsh) AS BIGINT) AS nsh_small,
         |  CAST(inter * 1000 // least(na.nsh, nb.nsh) AS BIGINT)
         |    AS cont_permille
         |FROM i
         |JOIN sizes na ON na.doc_id = i.a
         |JOIN sizes nb ON nb.doc_id = i.b
         |WHERE inter * 1000 // least(na.nsh, nb.nsh) >= $D14Tau
         |ORDER BY contained_id, container_id""".stripMargin,
    "d11_dedup_incremental" -> sqlD11Oracle,
    "d1_dedup_exact" ->
      s"""SELECT md5(${TextOps.sqlNormText}) AS h,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  min(doc_id) AS keep_doc_id
         |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    "d2_dedup_minhash" ->
      s"""$sqlD2PairsCtes
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    "d6_dedup_pipeline" ->
      s"""$sqlConfirmedCtes
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (
         |  SELECT doc_b FROM confirmed WHERE jaccard >= $KeepMinJaccard)
         |ORDER BY doc_id""".stripMargin,
    "d8_dedup_clusters" ->
      s"""$sqlClusterCtes
         |SELECT doc_id, cluster_id FROM clus ORDER BY doc_id""".stripMargin,
    "d9_decontaminate" ->
      s"""${TextOps.sqlShingleCte},
         |$sqlD9Ctes
         |SELECT doc_id, n_shared, n_shingles FROM d9over
         |ORDER BY doc_id""".stripMargin,
    // positional 8-shingles on both sides, islands per alignment
    // diagonal (pos − row_number), maximal runs → spans — the exact
    // integer algebra of d16ContamSpans, no rounding anywhere
    "d16_contam_spans" ->
      s"""${TextOps.sqlShingleCte},
         |posg AS (
         |  SELECT doc_id,
         |    unnest(${TextOps.sqlShinglesW(D9ShingleW)}) AS shingle,
         |    unnest(generate_series(1, len(toks) - ${D9ShingleW - 1}))
         |      AS pos
         |  FROM tok_t WHERE len(toks) >= $D9ShingleW),
         |dbench AS (
         |  SELECT doc_id AS bench_doc, shingle, pos AS bpos FROM posg
         |  WHERE ${TextAnalysis.sqlSampleBucket("doc_id")} < $D9BenchPct),
         |dtrain AS (
         |  SELECT doc_id, shingle, pos FROM posg
         |  WHERE NOT (${TextAnalysis.sqlSampleBucket("doc_id")} < $D9BenchPct)),
         |mm AS (
         |  SELECT t.doc_id, b.bench_doc, t.pos, t.pos - b.bpos AS diag
         |  FROM dtrain t JOIN dbench b ON t.shingle = b.shingle),
         |isl AS (
         |  SELECT *, pos - row_number() OVER (
         |    PARTITION BY doc_id, bench_doc, diag ORDER BY pos) AS grp
         |  FROM mm),
         |sp AS (
         |  SELECT doc_id, bench_doc, diag,
         |    CAST(min(pos) AS BIGINT) AS tok_start,
         |    CAST(count(*) + ${D9ShingleW - 1} AS BIGINT) AS span_len
         |  FROM isl GROUP BY doc_id, bench_doc, diag, grp)
         |SELECT doc_id, bench_doc, tok_start,
         |  CAST(tok_start - diag AS BIGINT) AS bench_start, span_len
         |FROM sp WHERE span_len >= $D16MinSpan
         |ORDER BY doc_id, bench_doc, tok_start, bench_start""".stripMargin,
    // the staged benchmarks table is DERIVED deterministically from the
    // bench sample bucket (d9BenchmarksPath), so the oracle reproduces
    // its inventory from `documents` — the train side is the WHOLE
    // corpus, unlike d9's same-corpus slice gate
    "d9_decontaminate_xt" ->
      s"""${TextOps.sqlShingleCte},
         |xtsets AS (
         |  SELECT doc_id,
         |    list_distinct(${TextOps.sqlShinglesW(D9ShingleW)}) AS shset8
         |  FROM tok_t),
         |xtbench AS (
         |  SELECT DISTINCT unnest(shset8) AS shingle FROM xtsets
         |  WHERE ${TextAnalysis.sqlSampleBucket("doc_id")} < $D9BenchPct),
         |xttrain AS (
         |  SELECT doc_id, CAST(len(shset8) AS BIGINT) AS n_shingles,
         |    unnest(shset8) AS shingle FROM xtsets),
         |xtover AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared,
         |    t.n_shingles
         |  FROM xttrain t JOIN xtbench b ON t.shingle = b.shingle
         |  GROUP BY t.doc_id, t.n_shingles
         |  HAVING count(*) >= $D9MinShared)
         |SELECT doc_id, n_shared, n_shingles FROM xtover
         |ORDER BY doc_id""".stripMargin,
    // per-ITEM pairing (≥ D9MinShared with one bench doc), not d9's
    // union inventory; the suite side derives from `documents` exactly
    // like the d9_xt oracle
    "d9_report" ->
      s"""${TextOps.sqlShingleCte},
         |rsets AS (
         |  SELECT doc_id,
         |    list_distinct(${TextOps.sqlShinglesW(D9ShingleW)}) AS shset8
         |  FROM tok_t),
         |rbench AS (
         |  SELECT 'bench_' || CAST(doc_id AS VARCHAR) AS bench_id,
         |    unnest(shset8) AS shingle
         |  FROM rsets
         |  WHERE ${TextAnalysis.sqlSampleBucket("doc_id")} < $D9BenchPct),
         |rtrain AS (
         |  SELECT doc_id, unnest(shset8) AS shingle FROM rsets
         |  WHERE NOT (${TextAnalysis.sqlSampleBucket("doc_id")}
         |    < $D9BenchPct)),
         |rpairs AS (
         |  SELECT b.bench_id, t.doc_id, CAST(count(*) AS BIGINT) AS shared
         |  FROM rtrain t JOIN rbench b ON t.shingle = b.shingle
         |  GROUP BY b.bench_id, t.doc_id
         |  HAVING count(*) >= $D9MinShared)
         |SELECT bench_id, CAST(count(*) AS BIGINT) AS n_overlapping,
         |  max(shared) AS max_shared
         |FROM rpairs GROUP BY bench_id ORDER BY bench_id""".stripMargin,
    "d3_dedup_simhash" ->
      s"""$sqlSimhashCtes
         |SELECT doc_id, simhash, CAST(simhash >> 48 AS INTEGER) AS bucket
         |FROM fp ORDER BY doc_id""".stripMargin,
    "d7_hamming_pairs" ->
      s"""$sqlSimhashCtes
         |SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
         |FROM fp x JOIN fp y ON x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 6
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d4_ngram_jaccard" ->
      s"""WITH norm_t AS (
         |  SELECT doc_id, lang, n_chars, ${TextOps.sqlNormText} AS norm
         |  FROM documents),
         |gd AS (
         |  SELECT md5(norm) AS h, lang, n_chars // 100 AS cb, norm,
         |    list_sort(list(doc_id)) AS members
         |  FROM norm_t GROUP BY md5(norm), lang, n_chars // 100, norm),
         |gt AS (SELECT h, lang, cb, members, ${TextOps.sqlToks} AS toks
         |  FROM gd),
         |gsz AS (
         |  SELECT h || '|' || lang || '|' || CAST(cb AS VARCHAR) AS gk,
         |    lang, cb, members,
         |    list_distinct(${TextOps.sqlShingles}) AS shset
         |  FROM gt WHERE len(toks) >= $MinToks),
         |g AS (SELECT *, CAST(len(shset) AS BIGINT) AS nsh FROM gsz),
         |exq AS (SELECT gk, lang, cb, unnest(shset) AS sh FROM g),
         |dfq AS (SELECT lang, cb, sh, count(*) AS dfc
         |  FROM exq GROUP BY lang, cb, sh),
         |idx AS (SELECT e.gk, e.lang, e.cb, e.sh, f.dfc
         |  FROM exq e JOIN dfq f USING (lang, cb, sh)
         |  WHERE f.dfc <= $D4MaxDf),
         |probe AS (SELECT gk, lang, cb, sh FROM (
         |  SELECT gk, lang, cb, sh, row_number() OVER (
         |      PARTITION BY gk ORDER BY dfc, sh) AS rn
         |  FROM idx) WHERE rn <= $D4RareK),
         |cand AS (SELECT DISTINCT least(x.gk, y.gk) AS gka,
         |    greatest(x.gk, y.gk) AS gkb
         |  FROM probe x JOIN idx y
         |    ON x.lang = y.lang AND x.cb = y.cb AND x.sh = y.sh
         |    AND x.gk <> y.gk),
         |conf AS (
         |  SELECT a.members AS ma, b.members AS mb,
         |    CAST(len(list_intersect(a.shset, b.shset)) AS BIGINT) AS inter,
         |    a.nsh + b.nsh AS sz
         |  FROM cand c JOIN g a ON a.gk = c.gka JOIN g b ON b.gk = c.gkb),
         |scored AS (
         |  SELECT ma, mb, inter, sz - inter AS union_sz,
         |    inter / (sz - inter) AS jaccard
         |  FROM conf WHERE inter / (sz - inter) >= 0.2),
         |crossp AS (
         |  SELECT least(t1.a, t2.b) AS doc_a, greatest(t1.a, t2.b) AS doc_b,
         |    inter, union_sz, jaccard
         |  FROM scored, unnest(ma) AS t1(a), unnest(mb) AS t2(b)),
         |within AS (
         |  SELECT t1.a AS doc_a, t2.b AS doc_b, nsh AS inter,
         |    nsh AS union_sz, CAST(1.0 AS DOUBLE) AS jaccard
         |  FROM g, unnest(members) AS t1(a), unnest(members) AS t2(b)
         |  WHERE len(members) > 1 AND t1.a < t2.b)
         |SELECT doc_a, doc_b, inter, union_sz, jaccard FROM
         |  (SELECT * FROM crossp UNION ALL SELECT * FROM within)
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d5_dedup_embedding" ->
      s"""WITH params AS (
         |  SELECT GREATEST(8, CASE WHEN m = 0 THEN 0
         |    ELSE CAST(length(bin(m)) AS INT) END) AS bb
         |  FROM (SELECT ((GREATEST(count(*), 2)
         |    + ${Dedup.D5TargetOccupancy - 1}) // ${Dedup.D5TargetOccupancy})
         |    - 1 AS m FROM embeddings)),
         |g AS (
         |  SELECT embedding, min(vec_id) AS rep,
         |    list_sort(list(vec_id)) AS members
         |  FROM embeddings GROUP BY embedding),
         |pj AS (
         |  SELECT g.rep, b.band, j.j,
         |    list_reduce(list_transform(generate_series(1, 64),
         |      i -> CAST(g.embedding[i] AS DOUBLE) *
         |           ${graft.functions.HyperplaneWeights
                        .duckSql("i", "b.band * p.bb + j.j")}),
         |      (x, y) -> x + y) AS proj
         |  FROM g, params p,
         |       (SELECT unnest(generate_series(0, ${Dedup.D5Bands - 1}))
         |          AS band) b,
         |       (SELECT unnest(generate_series(0,
         |          (SELECT bb FROM params) - 1)) AS j) j),
         |bk AS (
         |  SELECT rep, band,
         |    CAST(SUM(CASE WHEN proj > 0 THEN (1 << j) ELSE 0 END) AS INT)
         |      AS bkey
         |  FROM pj GROUP BY rep, band),
         |cand AS (
         |  SELECT x.rep AS ra, y.rep AS rb, x.band, x.bkey
         |  FROM bk x JOIN bk y
         |    ON x.band = y.band AND x.bkey = y.bkey AND x.rep < y.rep),
         |scored AS (
         |  SELECT c.ra, c.rb, c.band, c.bkey,
         |    ${VectorOps.sqlCosine("gx.embedding", "gy.embedding")} AS cos,
         |    gx.members AS ma, gy.members AS mb
         |  FROM cand c JOIN g gx ON gx.rep = c.ra JOIN g gy ON gy.rep = c.rb),
         |topb AS (
         |  SELECT * FROM scored QUALIFY row_number() OVER (
         |    PARTITION BY band, bkey ORDER BY cos DESC, ra, rb)
         |      <= ${Dedup.D5PerBucketTopK}),
         |gp AS (SELECT DISTINCT ra, rb, cos, ma, mb FROM topb),
         |crosspairs AS (
         |  SELECT least(t1.a, t2.b) AS vec_a, greatest(t1.a, t2.b) AS vec_b,
         |    cos
         |  FROM gp, unnest(gp.ma) AS t1(a), unnest(gp.mb) AS t2(b)),
         |within AS (
         |  SELECT t1.a AS vec_a, t2.b AS vec_b,
         |    ${VectorOps.sqlCosine("g.embedding", "g.embedding")} AS cos
         |  FROM g, unnest(g.members) AS t1(a), unnest(g.members) AS t2(b)
         |  WHERE len(g.members) > 1 AND t1.a < t2.b)
         |SELECT vec_a, vec_b, cos FROM
         |  (SELECT * FROM crosspairs UNION ALL SELECT * FROM within)
         |ORDER BY cos DESC, vec_a, vec_b LIMIT 20""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_dedup_exact" -> d1Exact,
    "d2_dedup_minhash" -> d2Minhash,
    "d3_dedup_simhash" -> d3Simhash,
    "d4_ngram_jaccard" -> d4NgramJaccard,
    "d5_dedup_embedding" -> d5Embedding,
    "d6_dedup_pipeline" -> d6DedupPipeline,
    "d8_dedup_clusters" -> d8DedupClusters,
    "d9_decontaminate" -> d9Decontaminate,
    "d16_contam_spans" -> d16ContamSpans,
    "d9_decontaminate_xt" -> d9DecontaminateXt,
    "d9_report" -> d9Report,
    "d11_dedup_incremental" -> d11DedupIncremental,
    "d14_containment" -> d14Containment,
    // d3Candidates under the full gate: the banded candidate generation
    // must reproduce DuckDB's BRUTE-FORCE all-pairs hamming join exactly
    // — recall 1.0 is oracle-checked, not just spec-asserted (the
    // oracle's n² self-join is fine at gate scale; the Spark side stays
    // the banded production plan)
    "d7_hamming_pairs" -> ((s, dir) => d3Candidates(s, dir)),
  )
}
