package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** End-to-end corpus curation — the composed pass a training-data
  * pipeline runs before tokenization: quality-score filter (t2) →
  * near-duplicate removal (the d2→d4Confirm→keep chain) → deterministic
  * nested sampling (t5). Mirrors the reference's composed-DAG shape
  * (airflow/dags/twitter_airflow.py:69-137) at the corpus-curation
  * altitude.
  *
  * Scale shape: every stage is linear or candidate-bounded — the
  * quality score is a scan-local projection, the dedup chain is the
  * blocked screen/confirm/keep composition (never all-pairs), and the
  * sample filter is row-local hash arithmetic. The documents table is
  * scanned once per stage; at 100 TB the dedup chain dominates and the
  * extra quality/sample scans are bandwidth-bound map work that AQE
  * schedules alongside it.
  *
  * Semantics note: the d2 screen only considers docs with ≥
  * [[Dedup.MinToks]] tokens, so near-duplicates among very short docs
  * ride through the keep-list (the oracle mirrors this exactly). A
  * production corpus pass runs exact dedup (d1) upstream, which
  * collapses short exact copies; the quality threshold additionally
  * drops most sub-[[QualityMin]] fragments here.
  */
object Curation {

  /** Minimum t2 quality score kept (scores on the synthetic corpus run
    * 0.05–0.57, median ≈ 0.30 — the threshold keeps roughly the better
    * half). Shared with the DuckDB oracle. */
  val QualityMin = 0.3

  /** c1: curated corpus — doc_id, lang, score for every document that
    * (a) scores ≥ [[QualityMin]], (b) survives the dedup keep-list, and
    * (c) falls in the deterministic [[TextAnalysis.SamplePct]]% sample
    * bucket. */
  def c1CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.t2QualityScore(s, dir).select("doc_id", "score")
    val keep = Dedup.d6DedupPipeline(s, dir)
    Tables.documents(s, dir).select("doc_id", "lang")
      .join(quality, "doc_id")
      .filter(col("score") >= QualityMin)
      .join(keep, Seq("doc_id"), "left_semi")
      .filter(TextAnalysis.sampleBucket(col("doc_id")) < TextAnalysis.SamplePct)
      .select("doc_id", "lang", "score")
      .orderBy("doc_id")
  }

  /** Max duplicate-cluster size admitted by [[c2ClusterCuration]]:
    * clusters larger than this are dropped WHOLE — at corpus scale a
    * huge near-dup cluster is boilerplate (cookie banners, templated
    * pages), and no representative of it belongs in training data.
    * 3 keeps pairs/triples (genuine re-posts) and drops the planted
    * larger clusters at every test SF. Shared with the DuckDB oracle. */
  val MaxClusterSize = 3

  /** c2: cluster-aware curation — the d8 consumer. Where c1 applies the
    * greedy keep-list (keep the minimum doc_id of each confirmed PAIR),
    * c2 uses d8's transitive cluster ids to apply the two policies that
    * need whole-cluster visibility: a cluster-size cap (drop boilerplate
    * clusters entirely, see [[MaxClusterSize]]) and a canonical-
    * representative pick (keep each cluster's HIGHEST-QUALITY member by
    * t2 score, not its lowest id; ties break to the smaller doc_id).
    * Returns (doc_id, cluster_id, cluster_size, score) for each kept
    * representative — singleton "clusters" pass through as themselves.
    *
    * Scale shape: one hash aggregation on cluster_id computes size and
    * argmax TOGETHER (`max(struct(score, -doc_id, doc_id))` — field-wise
    * struct ordering gives max-score-then-min-id), with map-side partial
    * aggregation, so a pathological million-member boilerplate cluster
    * costs one combine per partition instead of a full per-cluster sort
    * (the window-function spelling would sort every cluster). Upstream,
    * the cluster ids and quality scores are both linear passes; the
    * confirmed-pairs subtree is shared via [[Dedup.confirmedPairs]]. */
  /** The c2 policy WITHOUT the presentation sort — the kept
    * representative per admitted cluster. Shared verbatim by the c2
    * gate entry and the c4 flagship's dedup stage so the two cannot
    * drift. */
  private def c2KeptReps(s: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.t2QualityScore(s, dir).select("doc_id", "score")
    Dedup.d8DedupClusters(s, dir)
      .join(quality, "doc_id")
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("score"), (-col("doc_id")).as("neg"),
          col("doc_id"))).as("best"))
      .filter(col("cluster_size") <= MaxClusterSize)
      .select(col("best.doc_id").as("doc_id"), col("cluster_id"),
        col("cluster_size"), col("best.score").as("score"))
  }

  def c2ClusterCuration(s: SparkSession, dir: String): DataFrame =
    c2KeptReps(s, dir).orderBy("doc_id")

  /** Max docs kept per source by [[c3SourceCap]] — binds at every test
    * SF (sources carry ≥25 docs each). Shared with the DuckDB oracle. */
  val C3PerSourceCap = 10

  /** c3: SOURCE-MIX curation — the per-source cap a training-data
    * pipeline applies so no single source (domain, crawl, feed)
    * dominates the mixture: keep each source's [[C3PerSourceCap]]
    * highest-quality docs by t2 score (ties break to the smaller
    * doc_id). Complements c1/c2: those decide which DOCS are good
    * enough; c3 decides how much of each SOURCE the mixture admits.
    *
    * Scale shape: one `row_number` window per source — Spark 4's
    * WindowGroupLimit inserts a map-side Partial limit below the
    * shuffle (verified on the s1/s2 plans), so each map partition
    * forwards at most cap rows per source and the per-source reducer
    * sees cap × partitions rows, not the source's full volume — safe
    * even with few, huge sources. Quality scores are a scan-local
    * projection. */
  def c3SourceCap(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = TextAnalysis.t2QualityScore(s, dir).select("doc_id", "score")
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("doc_id"))
    Tables.documents(s, dir).select("doc_id", "source")
      .join(quality, "doc_id")
      .withColumn("src_rank", row_number().over(w))
      .filter(col("src_rank") <= C3PerSourceCap)
      .select("doc_id", "source", "score", "src_rank")
      .orderBy("source", "src_rank")
  }

  /** c4: the FULL curation DAG — every curation stage this engine
    * ships, composed in production order over one corpus pass:
    * quality floor (t2 score ≥ [[QualityMin]]) → CLUSTER-AWARE near-dup
    * removal (the c2 policy: d8's transitive cluster ids, boilerplate
    * clusters above [[MaxClusterSize]] dropped WHOLE, each admitted
    * cluster keeping its highest-quality member) → decontamination
    * (drop the benchmark slice itself AND every doc d9 flags as
    * overlapping it) → per-source cap (c3's quality-ranked
    * top-[[C3PerSourceCap]]). This is the corpus pass a training-data
    * pipeline actually runs before tokenization; c1 remains the
    * historical quality→dedup→sample composition with the greedy
    * PAIR keep-list (d6) — c4 runs the cluster policy because
    * whole-cluster decisions (boilerplate dropping, canonical picks)
    * are the production dedup semantics the pair-greedy stage cannot
    * express (round-8 verdict, Missing #2). Note the composition
    * order: the cluster policy is computed over the FULL corpus (the
    * memoized membership d8/c2 share), so a cluster whose canonical
    * representative is quarantined in the benchmark slice or falls
    * below the quality floor drops entirely — its duplicates are
    * copies of a doc curation rejected. Sampling is deliberately NOT
    * a stage here — it is a downstream budget knob (t5), not a
    * curation decision.
    *
    * Scale shape: each stage is the already-audited plan of its
    * standalone entry — scan-local scoring, memoized cluster-membership
    * left join + one hash agg for the cluster policy (no per-cluster
    * sort; see [[c2ClusterCuration]]), broadcast 8-gram inventory
    * join, WindowGroupLimit cap — chained without materialization;
    * Catalyst fuses the scans and the memoized subtrees are shared
    * with d6/d8/d9's own entries in the same session. */
  def c4CurationFull(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = TextAnalysis.t2QualityScore(s, dir).select("doc_id", "score")
    val keep = c2KeptReps(s, dir).select("doc_id")
    val contaminated = Dedup.d9Decontaminate(s, dir).select("doc_id")
    val w = Window.partitionBy("source")
      .orderBy(col("score").desc, col("doc_id"))
    Tables.documents(s, dir).select("doc_id", "source")
      .filter(TextAnalysis.sampleBucket(col("doc_id")) >= Dedup.D9BenchPct)
      .join(quality, "doc_id")
      .filter(col("score") >= QualityMin)
      .join(keep, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("src_rank", row_number().over(w))
      .filter(col("src_rank") <= C3PerSourceCap)
      .select("doc_id", "source", "score", "src_rank")
      .orderBy("source", "src_rank")
  }

  /** Acceptance fraction for the LARGEST language under
    * [[c5MixtureSample]]'s temperature rebalance. 0.7 exercises both
    * branches of the cap at every test SF: the majority language keeps
    * floor(0.7·10000) buckets while the smallest languages hit the 1.0
    * cap and keep everything. Shared with the DuckDB oracle. */
  val C5BaseFrac = 0.7

  /** Acceptance-threshold granularity of [[c5MixtureSample]]: 16 md5
    * bits mod 10000 → 0.01% steps. */
  val C5Buckets = 10000

  /** c5: TEMPERATURE-BASED language mixing — the α-sampling step a
    * multilingual training pipeline runs so low-resource languages are
    * not drowned by the head language (the exponent-α upsampling of
    * the mBERT/XLM-R lineage; α = 0.5 here). Each language's
    * acceptance fraction is `min(1, [[C5BaseFrac]] ·
    * sqrt(n_max/n_lang))`: the largest language keeps C5BaseFrac of
    * its docs, smaller ones keep proportionally more (a language at a
    * quarter the head's size keeps 2·C5BaseFrac, capped at all of it
    * 1.0). Membership is the same deterministic md5-bucket arithmetic
    * as t5 — no RNG, stable across runs/engines, and NESTED in the
    * base fraction (growing the budget never discards sampled docs;
    * spec-asserted). Returns (doc_id, lang, keep_buckets): the
    * threshold column is the per-language acceptance in 0.01% units,
    * an INTEGER — the float math that derives it is division/sqrt/
    * multiply, all IEEE correctly-rounded, so Spark and DuckDB floor
    * to the same bucket count bit-for-bit.
    *
    * Scale shape: one map-side-combinable count on a low-cardinality
    * column (the only corpus shuffle), a 1-row max cross-joined onto
    * the tiny per-language frame, broadcast back, and a scan-local
    * bucket filter — at 100 TB the second pass is embarrassingly
    * parallel map work and the sample never moves data. */
  def c5MixtureSample(s: SparkSession, dir: String): DataFrame =
    c5Sample(s, dir, C5BaseFrac)

  /** [[c5MixtureSample]] with an explicit base fraction — shared by the
    * gate entry and the nestedness spec. */
  private[graft] def c5Sample(s: SparkSession, dir: String,
      baseFrac: Double): DataFrame = {
    val counts = Tables.documents(s, dir).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
    val nmax = counts.agg(max("n_docs").as("n_max"))
    val thr = counts.crossJoin(broadcast(nmax))
      .withColumn("keep_frac", least(lit(1.0), lit(baseFrac) *
        sqrt(col("n_max").cast("double") / col("n_docs").cast("double"))))
      .withColumn("keep_buckets",
        floor(col("keep_frac") * C5Buckets).cast("int"))
    Tables.documents(s, dir).select("doc_id", "lang")
      .join(broadcast(thr.select("lang", "keep_buckets")), "lang")
      .filter(TextAnalysis.bucketMod(col("doc_id"), C5Buckets)
        < col("keep_buckets"))
      .select("doc_id", "lang", "keep_buckets")
      .orderBy("doc_id")
  }

  /** c7: per-source dataset card — the "datasheet for datasets"
    * summary every published training corpus ships (docs, distinct
    * texts, language spread, volume in chars and whitespace tokens,
    * low-quality share per source). Composes the engine's own
    * metrics — d1's content hash, t3's whitespace token count, t2's
    * quality score against [[QualityMin]] — so the card can never
    * disagree with the operators it summarizes. Returns one row per
    * source, every measure an exact integer.
    *
    * Scale shape: the corpus-sized aggregation is TWO-LEVEL so the
    * distinct counts never Expand the raw scan: level 1 collapses to
    * (source, lang, content-hash) with map-side-combinable sums (one
    * keyed shuffle of already-collapsed partials — exact duplicates
    * merge map-side), level 2 runs count/count-distinct over the
    * collapsed frame, which is bounded by distinct texts, not docs.
    * The only other corpus touch is the t2 score join c1 also pays.
    * At 100 TB: two linear scans + one combinable shuffle; the card
    * itself is O(sources) rows. */
  def c7DatasetCard(s: SparkSession, dir: String): DataFrame = {
    val quality = TextAnalysis.t2QualityScore(s, dir).select("doc_id", "score")
    val base = Tables.documentsSpread(s, dir)
      .withColumn("h", md5(TextOps.normText(col("text"))))
      .withColumn("ws_tokens",
        size(TextOps.toksOf("text")).cast("long"))
      .join(quality, "doc_id")
    base.groupBy("source", "lang", "h")
      .agg(count(lit(1)).as("cnt"),
        sum("n_chars").as("chars"),
        sum("ws_tokens").as("toks"),
        sum(when(col("score") < QualityMin, 1L).otherwise(0L)).as("lowq"))
      .groupBy("source")
      .agg(sum("cnt").as("n_docs"),
        countDistinct("h").as("n_distinct_texts"),
        countDistinct("lang").as("n_langs"),
        sum("chars").as("total_chars"),
        sum("toks").as("total_ws_tokens"),
        sum("lowq").as("n_low_quality"))
      .orderBy("source")
  }

  /** c8 split geometry: md5 bucket of the CLUSTER id mod 10 — buckets
    * 0–7 train, 8 val, 9 test (the conventional 80/10/10). */
  val C8SplitBuckets = 10
  val C8TrainBuckets = 8

  /** c8: LEAKAGE-FREE train/val/test split — the split assignment an
    * LLM pipeline must make BY NEAR-DUP CLUSTER, not by document: a
    * doc-hash split puts two near-identical documents on opposite
    * sides of the train/test fence, and the held-out loss silently
    * measures memorization (the failure d9 guards against
    * cross-corpus, recreated inside one corpus by a naive split).
    * Every document is assigned the md5 bucket of its d8 cluster id —
    * so entire duplicate clusters move together and no confirmed
    * near-dup pair can ever straddle splits (spec-asserted). Docs in
    * no cluster are their own singleton, giving the uniform 80/10/10
    * hash split as the degenerate case. Returns (doc_id, cluster_id,
    * bucket, split), auditable per document.
    *
    * Scale shape: the memoized d8 membership (star contraction,
    * O(log² n) keyed shuffles, shared with c2/c4) plus ONE corpus-wide
    * left join; bucket and split are scan-local projections. At 100 TB
    * the membership build is the cost — already paid by any curation
    * run — and the split itself adds a single broadcast-free join. */
  def c8SplitLeakfree(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select("doc_id")
      .join(Dedup.clusterMembership(s, dir), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("component"), col("doc_id")))
      .withColumn("bucket",
        TextAnalysis.bucketMod(col("cluster_id"), C8SplitBuckets))
      .withColumn("split",
        when(col("bucket") < C8TrainBuckets, "train")
          .when(col("bucket") === C8TrainBuckets, "val")
          .otherwise("test"))
      .select("doc_id", "cluster_id", "bucket", "split")
      .orderBy("doc_id")

  /** c9 feature space: hashed-unigram buckets (md5 first byte mod
    * [[C9Buckets]]) and the fixed-point scale of the affinity ratio
    * (score 10000 = "exactly source-average affinity to the target"). */
  val C9Buckets = 64
  val C9Scale = 10000L
  /** The target DOMAIN whose distribution c9 upweights toward. */
  val C9TargetLang = "en"
  /** Base acceptance at affinity 1.0 — a doc exactly at the corpus
    * average keeps a 50% Bernoulli sample; twice-target-like keeps all. */
  val C9BaseDen = 2L

  private def c9BucketCol(word: org.apache.spark.sql.Column) =
    conv(substring(md5(word), 1, 2), 16, 10).cast("int") % C9Buckets

  private def sqlC9Bucket(w: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5($w), $i, 1)) - 1)"
    s"((${nib(1)} * 16 + ${nib(2)}) % $C9Buckets)"
  }

  /** c9: DSIR-shaped importance SELECTION — reweight the corpus toward
    * a target domain by hashed-n-gram distribution ratio (the Data
    * Selection via Importance Resampling recipe, Xie et al. 2023,
    * arXiv:2302.03169: featurize docs into hashed n-gram buckets,
    * weight by target/source probability ratio, resample ∝ weight).
    * Target here = the [[C9TargetLang]] sub-corpus; features = hashed
    * unigrams into [[C9Buckets]] buckets. Two deliberate departures
    * from the paper, both for the cross-engine gate: the per-bucket
    * log-ratio becomes an exact INTEGER ratio in [[C9Scale]] units
    * (Laplace-smoothed `((tgt+1)·(S+B)·10⁴) div ((src+1)·(T+B))` —
    * so a doc's importance is the c-weighted MEAN of bucket ratios
    * rather than the product of per-token ratios; same ordering
    * signal, zero transcendentals), and the resampling step is the
    * house deterministic md5-bucket Bernoulli (t5/c5 machinery):
    * accept iff hash-bucket(doc) < min(1, score/(2·10⁴))·10⁴ — i.e.
    * acceptance ∝ importance, capped at 1, with no RNG, so the same
    * doc decides the same way in both engines and across runs.
    * Output per doc: (score_10k, accept_buckets, is_selected) — the
    * full audit, not just survivors.
    *
    * Scale shape: two corpus scans, both map-side combinable — one
    * collapses to [[C9Buckets]] global (src,tgt) counts (64-key agg,
    * effectively free), one to per-(doc,bucket) counts (the only
    * data-sized shuffle, ≤64 rows per doc); the 64-row affinity table
    * and its 1-row totals ride as broadcasts, and selection is
    * row-local hash arithmetic. Integer headroom: the affinity path is
    * DECIMAL(38,0)-exact with a provable range guard (see
    * [[c9Affinity]]) good to ~9.2e14 source tokens ≈ 37× a 100 TB
    * corpus; past it the job fails loudly with a rescale hint. */
  /** The c9 affinity table from a per-bucket (b, src_c, tgt_c) count
    * frame: Laplace-smoothed integer ratio in [[C9Scale]] units.
    *
    * DECIMAL(38,0) intermediates on the (tiny, bucket-count-sized)
    * affinity frame: the plain BIGINT spelling silently WRAPS in
    * non-ANSI Spark once corpus token counts pass ~sf10 headroom,
    * while the DuckDB oracle promotes to HUGEINT — the engines would
    * diverge with wrong scores and no error. Decimal holds the exact
    * product to 1e38 (the oracle's HUGEINT reaches 1.7e38). The `div`
    * back to BIGINT is guarded by a PROVABLE range bound, not by
    * NULL-checking — Spark's IntegralDivide on decimals WRAPS to Long
    * silently (measured: 4.0e22 div → 7458848195172736512), it does
    * not go NULL: since tgt_c + 1 ≤ t_tot + [[C9Buckets]] always,
    * every ratio is ≤ (s_tot + B) · [[C9Scale]], so asserting
    * s_tot + B ≤ Long.Max/Scale (one row, broadcast) makes the whole
    * score path exact — ~9.2e14 source tokens of headroom, ≈37× a
    * 100 TB corpus; past it the job fails LOUDLY with the rescale
    * hint (ratios are scale-invariant) instead of wrapping.
    * CurationSpec feeds planted near-overflow counts through this
    * seam: past-Long-wrap products must score exactly (BigInt
    * reference), past-bound totals must fail loudly. */
  private[graft] def c9Affinity(buckets: DataFrame): DataFrame = {
    val totals = buckets
      .agg(sum("src_c").as("s_tot"), sum("tgt_c").as("t_tot"))
      .select(
        when(assert_true(
          col("s_tot") + C9Buckets <= Long.MaxValue / C9Scale,
          lit("c9 affinity ratio can exceed BIGINT at these totals — " +
            "rescale both totals by a common power of two (ratios are " +
            "scale-invariant) or widen the score path")).isNull,
          col("s_tot")).as("s_tot"),
        col("t_tot"))
    buckets.crossJoin(broadcast(totals))
      .withColumn("a_raw", expr(
        s"(CAST(tgt_c + 1 AS DECIMAL(38,0)) * (s_tot + $C9Buckets) " +
          s"* $C9Scale) div " +
          s"(CAST(src_c + 1 AS DECIMAL(38,0)) * (t_tot + $C9Buckets))"))
      .select(col("b"),
        when(assert_true(col("a_raw").isNotNull,
          lit("c9 affinity ratio overflowed BIGINT — rescale totals " +
            "(ratios are scale-invariant) or widen the score path")).isNull,
          col("a_raw")).as("a"))
  }

  def c9DsirSelect(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documentsSpread(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(expr("filter(split(text, ' '), x -> x <> '')")).as("word"))
      .withColumn("b", c9BucketCol(col("word")))
    val buckets = toks.groupBy("b")
      .agg(count(lit(1)).as("src_c"),
        sum(when(col("lang") === C9TargetLang, 1L).otherwise(0L)).as("tgt_c"))
    val aff = c9Affinity(buckets)
    toks.groupBy("doc_id", "lang", "b").agg(count(lit(1)).as("c"))
      .join(broadcast(aff), "b")
      .groupBy("doc_id", "lang")
      // w rides DECIMAL(38,0): under the c9Affinity range guard every
      // a fits BIGINT, but dl·a can still pass 2⁶³ for a long doc in a
      // skewed corpus — the decimal sum is exact to 1e38 (mirroring the
      // oracle's HUGEINT) and the final div lands back in range because
      // w div dl ≤ max(a)
      .agg(sum(expr("c * CAST(a AS DECIMAL(38,0))")).as("w"),
        sum("c").as("dl"))
      .withColumn("score_10k", expr("w div dl"))
      .withColumn("accept_buckets",
        least(lit(C9Scale), expr(s"w div ($C9BaseDen * dl)")).cast("int"))
      .withColumn("is_selected",
        (TextAnalysis.bucketMod(col("doc_id"), C9Scale.toInt) <
          col("accept_buckets")).cast("int"))
      .select("doc_id", "lang", "score_10k", "accept_buckets", "is_selected")
      .orderBy("doc_id")
  }

  /** DuckDB CTE `sized` over `clus` (from [[Dedup.sqlClusterCtes]]) and
    * a score CTE `q` with (doc_id, score): whole-corpus cluster size +
    * quality-ranked member rank. Shared by the c2 and c4 oracles so the
    * flagship's dedup stage cannot drift from c2's gate spelling; the
    * kept representatives are `rk = 1 AND cluster_size <=`
    * [[MaxClusterSize]]. */
  private def sqlSizedCte(q: String): String =
    s"""sized AS (
       |  SELECT clus.doc_id, clus.cluster_id, $q.score,
       |    count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY $q.score DESC, clus.doc_id) AS rk
       |  FROM clus JOIN $q ON $q.doc_id = clus.doc_id)""".stripMargin

  /** c4_report: per-stage retention lineage for the [[c4CurationFull]]
    * DAG — (stage, rows_in, rows_out, rows_dropped) for each of the
    * five stages, the audit table every production curation run
    * publishes next to its output (the reference's monitoring
    * altitude: notebooks/Chapter 3 - Celery Monitoring & Analytics;
    * its task-counts dashboards are this table for task pipelines).
    *
    * Scale shape: NOT five re-executions — every stage predicate
    * becomes a boolean flag on one corpus pass (the same memoized
    * cluster/decontamination joins c4 itself uses), the source-cap
    * rank reuses c4's window, and all ten counts come from a single
    * global aggregation with map-side partials. The report is strictly
    * cheaper than c4 itself at any scale. */
  def c4Report(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val quality = TextAnalysis.t2QualityScore(s, dir).select("doc_id", "score")
    val keep = c2KeptReps(s, dir)
      .select(col("doc_id"), lit(true).as("kept"))
    val cont = Dedup.d9Decontaminate(s, dir)
      .select(col("doc_id"), lit(true).as("contaminated"))
    val flags = Tables.documents(s, dir).select("doc_id", "source")
      .join(quality, "doc_id")
      .join(keep, Seq("doc_id"), "left")
      .join(cont, Seq("doc_id"), "left")
      .withColumn("p0",
        TextAnalysis.sampleBucket(col("doc_id")) >= Dedup.D9BenchPct)
      .withColumn("p1", col("p0") && col("score") >= QualityMin)
      .withColumn("p2", col("p1") && coalesce(col("kept"), lit(false)))
      .withColumn("p3",
        col("p2") && !coalesce(col("contaminated"), lit(false)))
    // rank within (source, p3): only the p3=true partitions matter for
    // the cap flag, and partitioning BY the flag keeps the window one
    // pass over the same rows instead of a survivors-only re-join
    val w = Window.partitionBy("source", "p3")
      .orderBy(col("score").desc, col("doc_id"))
    flags
      .withColumn("rk", row_number().over(w))
      .withColumn("p4", col("p3") && col("rk") <= C3PerSourceCap)
      .agg(count(lit(1)).as("n_in"),
        count(when(col("p0"), 1)).as("n0"),
        count(when(col("p1"), 1)).as("n1"),
        count(when(col("p2"), 1)).as("n2"),
        count(when(col("p3"), 1)).as("n3"),
        count(when(col("p4"), 1)).as("n4"))
      .select(expr(
        """stack(5,
          |  1, 'bench_holdout', n_in, n0,
          |  2, 'quality_floor', n0, n1,
          |  3, 'cluster_dedup', n1, n2,
          |  4, 'decontaminate', n2, n3,
          |  5, 'source_cap', n3, n4)
          |  AS (stage_id, stage, rows_in, rows_out)""".stripMargin))
      .withColumn("rows_dropped", col("rows_in") - col("rows_out"))
      .orderBy("stage_id")
  }

  // ------------------------------------------------ c30 curation v2

  /** c30: the REFRESHED flagship curation DAG — the production stage
    * order every modern corpus paper ships (CCNet/RefinedWeb/FineWeb/
    * Dolma lineage): URL dedup → normalize → surface rules → learned
    * quality (relative cut) → near-dup clusters → decontamination
    * (n-gram AND semantic) → language mix. c4 remains the round-8/9
    * composition (absolute t2 floor, count cap); c30 composes the
    * stages the engine has since grown, each the already-audited
    * spelling of its standalone entry:
    *
    *  1. `url_dedup` (d13): canonicalize each doc's crawl URL
    *     ([[TextAnalysis.t14UrlSql]] variant 1 — the corpus carries no
    *     URL column — through the `url_canon` kernel) and keep only
    *     the minimum doc_id per canonical key.
    *  2. `normalize` (t13): NFC + whitespace/control collapse + trim
    *     over the t13-decorated text (the decoration exercises the
    *     compose path on this ASCII corpus); a TRANSFORM stage — the
    *     report carries its `rows_changed`, and every later stage
    *     consumes `norm30`, so its effect is hash-verified downstream.
    *  3. `gopher_rules` (t12): the seven-rule battery
    *     ([[TextAnalysis.gopherCols]]) over the normalized text, no
    *     planting — organic failures only (short docs, stopword-free
    *     non-Latin docs: the battery is English-calibrated, as
    *     published).
    *  4. `quality_cut` (t15 × c22): score every doc with the TRAINED
    *     NB quality classifier ([[Classifier.modelFor]] — the oracle
    *     replays training itself, the c10 discipline) and keep each
    *     source's top 1/[[C22KeepDen]] by integer micro-nat score,
    *     nearest-rank over the survivor histogram (the c22 rule, on
    *     the learned score — the FineWeb practice).
    *  5. `cluster_dedup` (c2/d8): the whole-corpus cluster policy —
    *     boilerplate clusters dropped, best-quality representative
    *     kept ([[c2KeptReps]], memoized membership).
    *  6. `decontaminate` (d9 ∧ d15): drop the benchmark slice itself,
    *     every doc d9's 8-gram overlap flags, AND every doc d15's
    *     embedding screen flags (vec_id ≡ doc_id where an embedding
    *     exists; docs without embeddings pass the semantic screen —
    *     you screen what you can embed).
    *  7. `lang_mix` (c5): temperature rebalance over the survivors'
    *     language counts (α = ½, base [[C5BaseFrac]]) — the head
    *     language sheds ~30%, small languages keep everything.
    *
    * Scale shape: stages 2–4's scoring is scan-local (kernels + HOF
    * walk against the broadcast weight literal); stage 1 is one keyed
    * window on the canonical URL; stage 4's threshold rides the
    * (source × distinct-score) HISTOGRAM, never a per-source doc sort;
    * stages 5–6 join the memoized cluster/decontamination frames; the
    * flag frame is cut once, in the calling query's scope, and the two
    * survivor aggregations (threshold, mix) read it instead of
    * re-deriving the corpus pass. Everything after the (hash-proven)
    * kernel outputs is integer arithmetic. */
  private def c30Flags(sc: graft.Artifacts.Scope, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = sc.session
    graft.functions.GraftFunctions.register(s)
    val m = Classifier.modelFor(s, dir)
    val deco = TextAnalysis.T13Deco
    val raw30 = concat(
      when(col("doc_id") % 3 === 0, lit(deco(0)))
        .when(col("doc_id") % 3 === 1, lit(deco(1)))
        .otherwise(lit(deco(2))),
      when(col("doc_id") % 2 === 0, lit(TextAnalysis.T13Gap))
        .otherwise(lit(" ")),
      col("text"))
    val base = sc.cut(TextAnalysis.gopherCols(
      Tables.documentsSpread(s, dir)
        .withColumn("canon",
          expr(s"url_canon(${TextAnalysis.t14UrlSql(1)})"))
        .withColumn("p1",
          min("doc_id").over(Window.partitionBy("canon")) === col("doc_id"))
        .withColumn("raw30", raw30)
        .withColumn("norm30", trim(regexp_replace(
          expr("nfc_normalize(raw30)"), TextAnalysis.T13WsRe, " ")))
        .withColumn("chg", col("norm30") =!= col("raw30"))
        .withColumn("ptext", col("norm30")))
      .withColumn("norm", TextOps.normText(col("norm30")))
      .withColumn("toks", expr(TextOps.toksExpr))
      // codegen'd classifier walk (graft.functions.ClfScore) — the
      // interpreted aggregate() HOF this pass shipped with ran per
      // token; bit-identical by ClassifierSpec's kernel≡HOF pin
      .withColumn("score_micro", Classifier.scoreKernelCol(m))
      .withColumn("p3", col("p1") && col("passes_gopher"))
      .select("doc_id", "lang", "source", "chg", "p1", "p3", "score_micro"))
    val p3rows = base.filter(col("p3"))
    val hist = p3rows.groupBy("source", "score_micro")
      .agg(count(lit(1)).as("c"))
    val tot = p3rows.groupBy("source").agg(count(lit(1)).as("n_src"))
    val w4 = Window.partitionBy("source").orderBy(col("score_micro").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist.withColumn("cum_ge", sum("c").over(w4))
      .join(tot, "source")
      .filter(col("cum_ge") >=
        expr(s"(n_src + ${C22KeepDen - 1}) div $C22KeepDen"))
      .groupBy("source").agg(max("score_micro").as("thr_u"))
    val keep = c2KeptReps(s, dir)
      .select(col("doc_id"), lit(true).as("kept"))
    val ngc = Dedup.d9Decontaminate(s, dir)
      .select(col("doc_id"), lit(true).as("ng_cont"))
    val semc = Similarity.d15SemDecontam(s, dir)
      .filter(col("contaminated") === 1)
      .select(col("vec_id").as("doc_id"), lit(true).as("sem_cont"))
    val flagged = sc.cut(base
      .join(thr, Seq("source"), "left")
      .join(keep, Seq("doc_id"), "left")
      .join(ngc, Seq("doc_id"), "left")
      .join(semc, Seq("doc_id"), "left")
      .withColumn("p4", col("p3") && col("score_micro") >= col("thr_u"))
      .withColumn("p5", col("p4") && coalesce(col("kept"), lit(false)))
      .withColumn("p6", col("p5") &&
        TextAnalysis.sampleBucket(col("doc_id")) >= Dedup.D9BenchPct &&
        !coalesce(col("ng_cont"), lit(false)) &&
        !coalesce(col("sem_cont"), lit(false)))
      .select("doc_id", "lang", "source", "chg", "p1", "p3", "p4", "p5",
        "p6", "score_micro"))
    val mixc = flagged.filter(col("p6")).groupBy("lang")
      .agg(count(lit(1)).as("n_docs"))
    val mixn = mixc.agg(max("n_docs").as("n_max"))
    val mixThr = mixc.crossJoin(broadcast(mixn))
      .withColumn("keep_frac", least(lit(1.0), lit(C5BaseFrac) *
        sqrt(col("n_max").cast("double") / col("n_docs").cast("double"))))
      .withColumn("keep_buckets",
        floor(col("keep_frac") * C5Buckets).cast("int"))
      .select("lang", "keep_buckets")
    flagged.join(broadcast(mixThr), Seq("lang"), "left")
      .withColumn("p7", col("p6") &&
        TextAnalysis.bucketMod(col("doc_id"), C5Buckets)
          < col("keep_buckets"))
  }

  def c30CurationV2(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "curation.c30")(sc =>
      c30Flags(sc, dir).filter(col("p7"))
        .select("doc_id", "lang", "source", "score_micro")
        .orderBy("doc_id"))

  /** c30_report: per-stage retention lineage of [[c30CurationV2]] —
    * the c4_report shape plus a `rows_changed` column so the
    * TRANSFORM stage (normalize) is visible next to the filter
    * stages. One aggregation over the same flag frame. */
  def c30Report(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "curation.c30Report")(sc =>
      c30Flags(sc, dir)
        .agg(count(lit(1)).as("n_in"),
          count(when(col("p1"), 1)).as("n1"),
          count(when(col("p1") && col("chg"), 1)).as("nchg"),
          count(when(col("p3"), 1)).as("n3"),
          count(when(col("p4"), 1)).as("n4"),
          count(when(col("p5"), 1)).as("n5"),
          count(when(col("p6"), 1)).as("n6"),
          count(when(col("p7"), 1)).as("n7"))
        .select(expr(
          """stack(7,
            |  1, 'url_dedup',     n_in, n1, CAST(0 AS BIGINT),
            |  2, 'normalize',     n1,   n1, nchg,
            |  3, 'gopher_rules',  n1,   n3, CAST(0 AS BIGINT),
            |  4, 'quality_cut',   n3,   n4, CAST(0 AS BIGINT),
            |  5, 'cluster_dedup', n4,   n5, CAST(0 AS BIGINT),
            |  6, 'decontaminate', n5,   n6, CAST(0 AS BIGINT),
            |  7, 'lang_mix',      n6,   n7, CAST(0 AS BIGINT))
            |  AS (stage_id, stage, rows_in, rows_out, rows_changed)"""
            .stripMargin))
        .withColumn("rows_dropped", col("rows_in") - col("rows_out"))
        .select("stage_id", "stage", "rows_in", "rows_out", "rows_dropped",
          "rows_changed")
        .orderBy("stage_id"))

  /** c6 packing parameters: token budget per training sequence and the
    * shard fan-out. 256 tokens ≈ a few docs per sequence on this corpus
    * (docs run ~50 whitespace tokens), so both the fill and the close
    * paths are exercised at every SF; 8 shards keeps the per-shard
    * stream long enough to pack several sequences at sf0.001. At
    * cluster scale shards = O(input partitions). */
  val C6PackBudget = 256
  val C6PackShards = 8

  /** c6: shard-local sequence PACKING — the training-batch preparation
    * step that groups WHOLE documents into contiguous ≈budget-token
    * sequences (the "sequence packing" every LLM training pipeline
    * runs so short documents don't waste context length; docs are
    * never split here — the tokenizer-level splitter is t9's chunking,
    * and composing c6 after t9 packs chunks instead).
    *
    * Packing is SHARD-local by design: a global greedy pack is a
    * sequential scan — ONE partition at 100 TB — while real pipelines
    * pack within shards/workers independently. The operator shards by
    * `doc_id % shards` (deterministic, engine-independent) and packs
    * inside each shard with one window pass:
    * `seq_id = floor(preceding-shard-tokens / budget)` — the exact
    * contiguous-fill rule, under which a sequence overflows the budget
    * by at most one document and a document larger than the whole
    * budget occupies its sequence alone (skipping the seq_ids its
    * excess spans). All integer arithmetic — no float crosses the
    * gate.
    *
    * Scale shape: one hash shuffle on the shard key + per-shard sort
    * (the window), both linear; token counting is scan-local. Shard
    * count grows with the cluster, so the per-shard sorted stream
    * stays partition-sized. */
  /** Generic contiguous-fill packing over ANY keyed frame: within each
    * `shardCol` group, rows ordered by `idCol` get
    * `seq_id = floor(preceding-tokens / budget)`. The reusable core of
    * [[c6PackSequences]] — compose it after
    * [[TextAnalysis.t9DocChunks]] (one row per chunk, tok = chunk
    * token count) to pack CHUNKS instead of documents (spec-tested
    * composition in CurationSpec). */
  def packSequences(df: DataFrame, idCol: String, tokCol: String,
      shardCol: String, budget: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the scratch/output names must not collide with caller columns —
    // withColumn would silently REPLACE them and corrupt the packing
    require(!df.columns.contains("cum_excl") && !df.columns.contains("seq_id"),
      "packSequences input must not already have cum_excl/seq_id columns")
    require(budget > 0, s"packSequences budget must be positive, got $budget")
    val w = Window.partitionBy(shardCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("cum_excl", coalesce(sum(col(tokCol)).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"CAST(cum_excl div $budget AS INT)"))
      .drop("cum_excl")
  }

  def c6PackSequences(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextOps.toksOf("text")).as("n_tok"),
        (col("doc_id") % C6PackShards).cast("int").as("shard"))
    packSequences(toks, "doc_id", "n_tok", "shard", C6PackBudget)
      .select(col("doc_id"), col("shard"), col("n_tok"), col("seq_id"))
      .orderBy("doc_id")
  }

  /** c12 staged-snapshot derivation constants: of v1's documents,
    * every 97th doc is DROPPED in v2, every 83rd surviving doc is
    * CHANGED (a ` [rev2]` suffix), and every 101st doc additionally
    * arrives as a NEW doc re-keyed past v1's max id. Deterministic, so
    * the oracle reproduces v2 from `documents` in SQL while the Spark
    * side reads the genuinely staged second parquet. */
  val C12DropMod = 97
  val C12ChangeMod = 83
  val C12AddMod = 101

  /** The c12 staged-v2 derivation as DuckDB CTE text (`mx`, `v2`) —
    * shared by the c12/c13/c20 oracles and t18's drift oracle, so the
    * SQL replay of the staged snapshot has exactly one spelling. */
  private[operators] def sqlV2Ctes: String =
    s"""mx AS (SELECT max(doc_id) AS mxid FROM documents),
       |v2 AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $C12ChangeMod = 0 THEN text || ' [rev2]'
       |         ELSE text END AS text
       |  FROM documents WHERE doc_id % $C12DropMod <> 0
       |  UNION ALL
       |  SELECT doc_id + mxid + 1 AS doc_id, text
       |  FROM documents CROSS JOIN mx WHERE doc_id % $C12AddMod = 0)""".stripMargin

  /** The v2 snapshot, staged once per corpus generation under a
    * fingerprint-keyed path ([[graft.Artifacts.staged]]). */
  def c12SnapshotPath(s: SparkSession, dir: String): String =
    graft.Artifacts.staged(s, graft.Artifacts.stagedDir("snapdata",
        Tables.fingerprint(s, dir, "documents"),
        "documents_v2.parquet")) { out =>
      val docs = Tables.documents(s, dir)
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      docs.filter(col("doc_id") % C12DropMod =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % C12ChangeMod === 0,
            concat(col("text"), lit(" [rev2]"))).otherwise(col("text"))
            .as("text"))
        .unionAll(docs.filter(col("doc_id") % C12AddMod === 0)
          .select((col("doc_id") + maxId + 1).as("doc_id"), col("text")))
        .write.parquet(out)
    }

  /** c12: SNAPSHOT DIFF — the incremental-ingestion audit every
    * versioned corpus store (Delta/Iceberg-shaped pipelines, dataset
    * cards tracking drift) derives when a new crawl lands: per doc,
    * is it added / removed / changed / unchanged vs the previous
    * snapshot? Content equality is judged on md5 FINGERPRINTS, not
    * text — the scale point: the diff join shuffles fixed-width
    * hashes, never the 100 TB of bodies, and the hash is the same
    * scan-local projection d1 dedups on.
    *
    * Plan: both snapshots project (doc_id, md5(text)) scan-locally,
    * FULL OUTER join on doc_id (one co-partitioned shuffle pair —
    * the only data-sized movement), status is a row-local CASE. The
    * staged v2 is a genuine second parquet ([[c12SnapshotPath]] —
    * the d9_xt production-plumbing argument: a second path, a second
    * read, zero operators below the scan change). */
  def c12SnapshotDiff(s: SparkSession, dir: String): DataFrame =
    c12DiffCore(s, dir).orderBy("doc_id")

  /** The c12 diff WITHOUT the presentation sort — the internal input
    * [[c13ApplyDiff]] derives its changeset from (a merge consumer
    * must not pay a global order-by it immediately re-filters). */
  private def c12DiffCore(s: SparkSession, dir: String): DataFrame = {
    // presence is keyed on marker columns, NOT on hash nullity — a doc
    // with NULL text must read as present-with-null-content (changed /
    // unchanged via the null-safe compare), never as absent
    val v1 = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("h1"), lit(1).as("p1"))
    val v2 = Tables.parquet(s, c12SnapshotPath(s, dir))
      .select(col("doc_id"), md5(col("text")).as("h2"), lit(1).as("p2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("p1").isNull, lit("added"))
          .when(col("p2").isNull, lit("removed"))
          .when(col("h1") <=> col("h2"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Partition count for [[c13ApplyDiff]]'s versioned documents table
    * (hash partitions on doc_id — a real lake partitions by ingest
    * date; the merge machinery is identical). */
  val C13Parts = 16

  private def c13Table(s: SparkSession, dir: String): String =
    // fingerprint-keyed (not just dir-keyed): an in-place corpus
    // regeneration changes the fingerprint, so a long-lived session can
    // never merge onto (or audit) a staging of the PREVIOUS corpus
    s"graft_docs_merge_${graft.Tables.fingerprint(s, dir, "documents")}"

  /** c13: APPLY a snapshot diff — the MERGE half c12 only audits. c12
    * tells the lake owner WHAT changed between snapshots; c13 applies
    * the changeset (upsert added/changed with v2 content, delete
    * removed) onto the live partitioned documents table through
    * [[graft.sources.Sources.mergeIntoPartitioned]] — only the
    * partitions containing touched keys are read or rewritten (dynamic
    * partition overwrite, the Delta-shaped MERGE over plain parquet).
    * Returns the applied table as (doc_id, content md5) — which must
    * equal the STAGED v2 snapshot byte-for-byte, so the gate
    * hash-verifies the merge's end state against the independent v2
    * derivation; the merge is idempotent by construction (anti-join
    * by key, then re-insert — spec re-applies and compares).
    *
    * The versioned table stages pay-once per (session, dir) from v1
    * (the q23/q30 ensure-tables shape); every call then re-applies
    * the changeset, so bench medians measure the MERGE itself. */
  def c13ApplyDiff(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "curation.c13") { sc =>
      val t = graft.sources.Sources.ensureStagedPartitioned(
        s, c13Table(s, dir), "pt",
        Tables.documents(s, dir).select(col("doc_id"), col("text"))
          .withColumn("pt", pmod(col("doc_id"), lit(C13Parts))))
      // the diff (a v1⋈v2 full-outer join over two md5 scans) feeds BOTH
      // changeset sides; filtered to touched keys it is changeset-sized —
      // evaluate it ONCE instead of once per side (and without c12's
      // presentation sort, which the filters below would discard anyway)
      val diff = sc.cut(c12DiffCore(s, dir)
        .filter(col("status") =!= "unchanged"))
      val v2 = Tables.parquet(s, c12SnapshotPath(s, dir))
      val upserts = diff.filter(col("status").isin("added", "changed"))
        .join(v2, Seq("doc_id"))
        .select(col("doc_id"), col("text"),
          pmod(col("doc_id"), lit(C13Parts)).as("pt"))
      val deletes = diff.filter(col("status") === "removed")
        .select(col("doc_id"), pmod(col("doc_id"), lit(C13Parts)).as("pt"))
      graft.sources.Sources.mergeIntoPartitioned(
        s, t, "pt", "doc_id", upserts, deletes)
      s.table(t).select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    }

  /** Every [[C15ForgetMod]]th user id is on the c15 forget list —
    * deterministic, so the oracle filters the same set. */
  val C15ForgetMod = 13

  private def c15Table(s: SparkSession, dir: String): String =
    // fingerprint-keyed, like c13: erasure against a stale staging of a
    // regenerated corpus would silently "forget" nothing
    s"graft_events_forget_${graft.Tables.fingerprint(s, dir, "events")}"

  /** c15: FORGET keys — the right-to-be-forgotten delete (GDPR art.
    * 17 / CCPA): purge EVERY event of the listed users from the live
    * date-partitioned lake table, rewriting only partitions that
    * actually contain them. The date layout is the standard one
    * (q30's), and it is exactly what makes erasure expensive: a
    * user's rows scatter across every date they were active, so the
    * touched-partition set must be DISCOVERED — one filtered scan
    * collects the user's (user_id, dt) footprint, and
    * [[graft.sources.Sources.mergeIntoPartitioned]] (empty upsert
    * side) anti-joins the keys out of only those directories via
    * dynamic partition overwrite. Re-running is a structural no-op:
    * the forgotten users are gone, the footprint scan returns zero
    * partitions, and the merge returns before touching a file
    * (CurationSpec pins file mtimes on a planted table where the
    * forget list lives in one partition of three — the others are
    * never rewritten even on the FIRST apply).
    *
    * The gate returns the post-erasure audit (per event type: rows,
    * distinct users, exact value sum) and the oracle computes the
    * same over `events` minus the forget list — the erasure's end
    * state is hash-verified at all three SFs. At 100 TB the erasure
    * cost is (footprint scan + rewrite of touched directories); a
    * user-bucketed layout (q23) would bound the rewrite further —
    * the trade every lake makes between scan locality and erasure
    * locality. */
  def c15ForgetKeys(s: SparkSession, dir: String): DataFrame = {
    val t = graft.sources.Sources.ensureStagedPartitioned(
      s, c15Table(s, dir), "dt",
      Tables.events(s, dir)
        .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd")))
    // the forget footprint: which (user, partition) pairs exist
    val deleteKeys = s.table(t)
      .filter(col("user_id") % C15ForgetMod === 0)
      .select("user_id", "dt").distinct()
    graft.sources.Sources.mergeIntoPartitioned(
      s, t, "dt", "user_id", s.table(t).limit(0), deleteKeys,
      // delete-only: a limit(0) upsert side re-derives for free, and a
      // re-applied (no-op) erasure must not pay a materialization job
      materializeUpserts = false)
    s.table(t).groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        Exact.dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  private def c16Table(s: SparkSession, dir: String): String =
    s"graft_events_frag_${graft.Tables.fingerprint(s, dir, "events")}"

  /** c16: COMPACT small files — the standing lake-maintenance job
    * (Delta OPTIMIZE / Iceberg rewrite_data_files over plain parquet):
    * every streaming or incremental writer leaves file-per-trigger
    * debris, and each small file costs a task and an open at every
    * future scan. The gate stages a deliberately FRAGMENTED
    * date-partitioned events table once per corpus generation (8
    * writer tasks per directory — the shape an 8-executor micro-batch
    * writer leaves), runs
    * [[graft.sources.Sources.compactPartitions]] (rewrites only
    * directories over the file budget, one writer task each; a
    * second run finds nothing fragmented and returns before opening
    * a footer), and returns the compacted table's content audit —
    * which must equal the same aggregates over the raw events, so
    * the gate hash-proves compaction changed NOTHING but layout.
    * CurationSpec pins the mechanics: ≥8 files/dir before, exactly 1
    * after, byte-identical untouched directories, and a free no-op
    * re-run. */
  def c16CompactShards(s: SparkSession, dir: String): DataFrame = {
    val t = c16Table(s, dir)
    graft.sources.Sources.ensureStaged(s, t)(
      Tables.events(s, dir)
        .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
        .repartition(8) // deliberate fragmentation: 8 tasks × every dir
        .write.mode("overwrite").partitionBy("dt")
        .format("parquet").saveAsTable(t))
    graft.sources.Sources.compactPartitions(s, t, "dt")
    s.table(t).groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        Exact.dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** Every [[C17ChangeMod]]th customer's balance changed between the
    * initial dimension load and the second batch (deterministic, so
    * the oracle derives the identical changeset); every
    * [[C17NewMod]]th customer arrives re-keyed as a brand-new member.
    * Amounts move in integer CENTS — the history compare stays in
    * exact integers end to end. */
  val C17ChangeMod = 7
  val C17NewMod = 11
  /** Balance delta (cents) applied to changed members at [[C17Date1]]. */
  val C17DeltaCents = 12345L
  /** Effective dates of the two dimension batches, plus the open-row
    * high-date sentinel every SCD2 implementation carries (a literal
    * `9999-12-31` beats NULL valid_to: range predicates like
    * `valid_from <= d AND d < valid_to` need no null branch). */
  val C17Date0 = "2024-01-01"
  val C17Date1 = "2024-06-01"
  val C17HighDate = "9999-12-31"

  private def c17Table(s: SparkSession, dir: String): String =
    s"graft_cust_scd2_${graft.Tables.fingerprint(s, dir, "customer")}"

  /** The customer dimension in SCD2 shape: integer cents (exact —
    * `floor(bal*100 + 0.5)` is the same IEEE op sequence in both
    * engines), effective-dating columns appended. */
  private def c17Base(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey"),
      col("c_mktsegment"),
      floor(col("c_acctbal") * lit(100.0) + lit(0.5)).as("bal_cents"))

  /** c17: SLOWLY-CHANGING-DIMENSION Type-2 maintenance (Kimball's
    * SCD2) — the warehouse-side sibling of the c13 merge: when a new
    * dimension batch lands, a changed member's current row is CLOSED
    * (valid_to = batch date) and a new version opened, while new
    * members insert as open rows — full history, point-in-time
    * joinable with `valid_from <= d AND d < valid_to`.
    *
    * Scale shape: the history table is hash-partitioned on the
    * business key ([[C13Parts]] dirs; a real deployment sizes this to
    * the dimension); the batch diffs against CURRENT rows only (an
    * attribute-hash compare join on the key — broadcast when the
    * batch is small, shuffle otherwise), and
    * [[graft.sources.Sources.mergeIntoPartitioned]] rewrites only
    * partitions containing touched keys. Upserts carry BOTH versions
    * of a changed key (closed old + open new) — the merge's
    * anti-join-then-insert contract replaces every version of a
    * touched key, which also makes re-applying the same batch
    * idempotent (the changeset is ABSOLUTE, derived from the source
    * dimension, never from the mutated history). Unchanged members —
    * the overwhelming majority of a 100 TB dimension — are never
    * read or rewritten.
    *
    * The gate stages the v1 history once (pay-once, the c13 shape),
    * re-applies the batch each call (bench medians measure the SCD2
    * merge), and returns the FULL history audit; the oracle derives
    * the same history directly from `customer` — end state
    * hash-verified at all three SFs, in exact integers and date
    * strings. */
  def c17Scd2(s: SparkSession, dir: String): DataFrame =
    c17History(s, dir).orderBy("c_custkey", "valid_from")

  /** The maintained SCD2 history (staging + batch merge applied),
    * WITHOUT c17's presentation sort — the join input [[c21PitLookup]]
    * reads (a point-in-time join must not pay a global order-by on
    * its build side). */
  private[graft] def c17History(s: SparkSession, dir: String): DataFrame = {
    val t = graft.sources.Sources.ensureStagedPartitioned(
      s, c17Table(s, dir), "pt",
      c17Base(s, dir)
        .withColumn("valid_from", lit(C17Date0))
        .withColumn("valid_to", lit(C17HighDate))
        .withColumn("pt", pmod(col("c_custkey"), lit(C13Parts))))
    val base = c17Base(s, dir)
    val changed = base.filter(col("c_custkey") % C17ChangeMod === 0)
    val mx = Tables.customer(s, dir)
      .agg(max(col("c_custkey")).as("mxid"))
    val upserts = changed // closed-out prior version
      .withColumn("valid_from", lit(C17Date0))
      .withColumn("valid_to", lit(C17Date1))
      .unionByName(changed // new open version
        .withColumn("bal_cents", col("bal_cents") + lit(C17DeltaCents))
        .withColumn("valid_from", lit(C17Date1))
        .withColumn("valid_to", lit(C17HighDate)))
      .unionByName(base // late arrivals, re-keyed past the key space
        .filter(col("c_custkey") % C17NewMod === 0)
        .crossJoin(broadcast(mx))
        .withColumn("c_custkey", col("c_custkey") + col("mxid") + lit(1))
        .drop("mxid")
        .withColumn("valid_from", lit(C17Date1))
        .withColumn("valid_to", lit(C17HighDate)))
      .withColumn("pt", pmod(col("c_custkey"), lit(C13Parts)))
    graft.sources.Sources.mergeIntoPartitioned(
      s, t, "pt", "c_custkey", upserts,
      upserts.select("c_custkey", "pt").limit(0))
    s.table(t).select(
        col("c_custkey"), col("c_mktsegment"), col("bal_cents"),
        col("valid_from"), col("valid_to"),
        (col("valid_to") === C17HighDate).as("is_current"))
  }

  /** c21: POINT-IN-TIME dimension lookup against the maintained SCD2
    * history — the join every feature store and Kimball warehouse
    * runs ("which version of the customer was current when this
    * order happened?"), and the leakage trap it exists to prevent:
    * joining facts to the CURRENT dimension row backfills future
    * attribute values into past training examples (c8 guards split
    * leakage; c21 guards temporal leakage).
    *
    * The fact side needs an event date straddling the history's
    * version boundary; orders' own dates predate the SCD2 epoch, so
    * both engines DERIVE the same deterministic lookup date
    * `date_add('{C17Date0}', o_orderkey % 365)` (the t14
    * derived-input discipline) — spanning 2024-01-01..2024-12-30
    * across the 2024-06-01 change date, so BOTH versions of every
    * changed member take hits. Dates ride as ISO-8601 STRINGS and the
    * validity predicate `valid_from <= d AND d < valid_to` is
    * lexicographic — identical semantics in both engines, no
    * timestamp parsing in the join.
    *
    * Scale shape: an EQUI-join on the business key with the validity
    * interval as a residual filter — never a range-only join (a
    * range-only condition degenerates to BroadcastNestedLoop; on the
    * key it's a plain hash/sort-merge shuffle, and each key carries
    * ≤ version-count rows, here ≤ 2, so the residual scans O(1) rows
    * per probe). No broadcast hint: a 100 TB dimension history
    * shuffles; AQE may still elect broadcast at gate scale. The
    * output is the version-assignment AUDIT (per segment × version:
    * order count, balance-cents sum, custkey sum — each order-free
    * integer sums sensitive to any misassigned row), not the
    * order-grain payload, so the gate artifact stays
    * segment×version-sized at any SF. Oracle derives the identical
    * history (c17's CTE) + the same derived dates and aggregates.
    * Exactly-one-version-per-order is spec-asserted (CurationSpec),
    * as is the both-versions-hit property. */
  def c21PitLookup(s: SparkSession, dir: String): DataFrame = {
    val hist = c17History(s, dir)
    val facts = Tables.orders(s, dir).select(
      col("o_orderkey"), col("o_custkey"),
      date_add(to_date(lit(C17Date0)),
        (col("o_orderkey") % 365).cast("int")).cast("string").as("d"))
    facts.join(hist,
        facts("o_custkey") === hist("c_custkey") &&
          hist("valid_from") <= col("d") && col("d") < hist("valid_to"))
      .groupBy(col("c_mktsegment"), col("valid_from"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("bal_cents")).as("sum_bal_cents"),
        sum(col("o_custkey")).as("sum_custkey"))
      .orderBy("c_mktsegment", "valid_from")
  }

  /** c22 keep fraction: top 1/[[C22KeepDen]] of each source. */
  val C22KeepDen = 4

  /** The t2 score in integer MICRO-UNITS — `floor(score·1e6 + 0.5)`
    * (the c17 cents pattern: `CAST(double AS BIGINT)` truncates in
    * Spark but rounds in DuckDB; the half-up floor is the one agreed
    * spelling). The score doubles themselves are bit-identical across
    * engines (the c1 gate proves the shared spelling), so the scaled
    * integers are too. */
  private def c22ScoreUnitsSql(score: String): String =
    s"CAST(floor(($score) * CAST(1000000.0 AS DOUBLE) " +
      s"+ CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** c22: per-source RELATIVE quality cut — "keep each source's top
    * quarter by quality score", the FineWeb/RefinedWeb per-dump
    * practice and the third quality-gating mode beside c1's ABSOLUTE
    * floor (score ≥ 0.3 — drifts with the score distribution: a
    * strict floor empties a low-scoring-but-valuable domain) and
    * c3's COUNT cap (top-N — ignores quality mass entirely). A
    * relative cut adapts to each source's own distribution, which is
    * what survives distribution shift across crawls/domains.
    *
    * Threshold: the k-th largest score per source, k = ceil(n/4) in
    * exact integer arithmetic (`(n + 3) div 4`), nearest-rank — q33's
    * histogram discipline, NEVER a per-source sort of raw docs: the
    * rank is found on the (source, score_u) HISTOGRAM, whose window
    * input is bounded by DISTINCT score values per source, not docs.
    * thr_u = max score_u with cum_ge ≥ k (cum_ge = docs at-or-above
    * the bin, a from-the-top running sum); keep score_u ≥ thr_u —
    * ties at the threshold all kept (nearest-rank semantics: ≥ k
    * docs survive, deterministic without an intra-tie ordering).
    *
    * Scale shape: one corpus scan → score projection (scan-local
    * kernels), one keyed shuffle to the histogram (map-side
    * partials), the cumulative window over the COLLAPSED histogram,
    * and a per-source threshold frame joined back — source-count
    * sized, no broadcast hint needed (AQE elects one at gate scale;
    * a million-source crawl's frame still fits, but the plan does
    * not depend on it). Everything after the (hash-proven) score
    * doubles is exact Long arithmetic. */
  def c22QuantileFilter(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    // score IN the corpus scan (t2's shared chain) — joining the t2
    // frame back on doc_id would be a corpus self-join, two exchanges
    // a scan-local projection never needs
    val q = TextAnalysis.t2ScoreCols(
        Tables.documentsSpread(s, dir).select("doc_id", "source", "text"))
      .withColumn("score_u", expr(c22ScoreUnitsSql("score")))
      .select("doc_id", "source", "score_u")
    val hist = q.groupBy("source", "score_u").agg(count(lit(1)).as("c"))
    val tot = q.groupBy("source").agg(count(lit(1)).as("n_src"))
    val w = Window.partitionBy("source").orderBy(col("score_u").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val thr = hist.withColumn("cum_ge", sum("c").over(w))
      .join(tot, "source")
      .filter(col("cum_ge") >=
        expr(s"(n_src + ${C22KeepDen - 1}) div $C22KeepDen"))
      .groupBy("source").agg(max("score_u").as("thr_u"))
    q.join(thr, "source")
      .filter(col("score_u") >= col("thr_u"))
      .select("doc_id", "source", "score_u", "thr_u")
      .orderBy("doc_id")
  }

  /** c23 shuffle seed (changing it re-deals the whole order) and the
    * training micro-batch size the dense positions fold into. */
  val C23Seed = "s42"
  val C23BatchSize = 32

  /** c23: REPRODUCIBLE training order — the seeded global shuffle
    * every trainer runs over its corpus (identical across re-runs,
    * resumable mid-epoch, auditable: "which examples were in batch
    * 17 of run X" must have one answer). Order key =
    * md5(seed ‖ doc_id) — deterministic in both engines, and a new
    * seed re-deals the entire order.
    *
    * The interesting part at scale is DENSE POSITION ASSIGNMENT
    * without a single-partition window: `row_number() OVER (ORDER BY
    * key)` serializes the corpus through one task. The
    * classic distributed enumeration instead: (1) bucket by the
    * key's first hex byte — buckets are lexicographic RANGES of the
    * key, so bucket-asc + in-bucket-key-asc IS global key order;
    * (2) row_number within each bucket (256 parallel windows);
    * (3) exclusive prefix-sum of bucket counts (a 256-row frame —
    * the only serial step is bucket-count-sized) broadcast back;
    * pos = offset + in-bucket rank. Batches are then exact integer
    * folds `(pos-1) div batchSize` — every batch full except the
    * last, positions a permutation of 1..n (spec-asserted).
    * The oracle spells the same order as ONE global row_number —
    * hash-equality proves the two-phase enumeration ≡ the global
    * sort. */
  def c23TrainOrder(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(concat(lit(C23Seed), col("doc_id").cast("string"))).as("okey"))
      .withColumn("bkt", substring(col("okey"), 1, 2))
    val perBucket = keyed.withColumn("r",
      row_number().over(Window.partitionBy("bkt")
        .orderBy(col("okey"), col("doc_id"))))
    val offsets = keyed.groupBy("bkt").agg(count(lit(1)).as("bc"))
      .withColumn("off",
        coalesce(sum("bc").over(Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "off")
    perBucket.join(broadcast(offsets), "bkt")
      .withColumn("pos", col("off") + col("r"))
      .withColumn("batch_id", expr(s"(pos - 1) div $C23BatchSize"))
      .select("doc_id", "okey", "pos", "batch_id")
      .orderBy("pos")
  }

  /** c25 shuffle seed — deliberately distinct from [[C23Seed]]: the
    * two orders must be visibly unrelated (spec-asserted). */
  val C25Seed = "cur7"

  /** c25: CURRICULUM training order (Bengio et al. 2009) — the
    * easy→hard presentation order an LLM pretraining run uses when it
    * stages data by difficulty: t17's perplexity terciles ARE the
    * difficulty bands (head = cleanest, tail = noisiest — CCNet
    * itself was built to feed exactly this kind of staging), documents
    * are ordered band-major, and WITHIN a band the order is a seeded
    * deterministic shuffle (md5(seed ‖ doc_id) — c23's re-dealable
    * key: correlated within-band order would bias every batch toward
    * low doc_ids). Dense global positions and full-batch folds come
    * from c23's TWO-PHASE enumeration, extended to a composite sort
    * key: partition by (band, first-hex-byte-of-key) — bucket-asc
    * IS (band, key) order since the key starts with its byte — rank
    * in ~768 parallel windows, broadcast the exclusive prefix of
    * bucket counts back, pos = offset + in-bucket rank. No
    * single-partition window anywhere; the one serial frame is
    * bucket-count-sized. The oracle spells the SAME order as ONE
    * global row_number over (band, key, doc_id) — hash-equality
    * proves the composite two-phase ≡ the global sort, INCLUDING the
    * t17 model training that defines the bands (the c10
    * trainer-replay discipline, via the shared t17 CTEs). */
  def c25Curriculum(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.Artifacts.scoped(s, "curation.c25")(
        TextAnalysis.t17CcnetPpl(_, dir))
      .select(col("doc_id"), col("ppl_bucket"))
      .withColumn("br",
        when(col("ppl_bucket") === "head", 0)
          .when(col("ppl_bucket") === "middle", 1).otherwise(2))
      .withColumn("okey",
        md5(concat(lit(C25Seed), col("doc_id").cast("string"))))
      .withColumn("hb", substring(col("okey"), 1, 2))
    val perB = scored.withColumn("r",
      row_number().over(Window.partitionBy("br", "hb")
        .orderBy(col("okey"), col("doc_id"))))
    val offs = scored.groupBy("br", "hb").agg(count(lit(1)).as("bc"))
      .withColumn("off",
        coalesce(sum("bc").over(Window.orderBy("br", "hb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("br", "hb", "off")
    perB.join(broadcast(offs), Seq("br", "hb"))
      .withColumn("pos", col("off") + col("r"))
      .withColumn("batch_id", expr(s"(pos - 1) div $C23BatchSize"))
      .select("doc_id", "ppl_bucket", "pos", "batch_id")
      .orderBy("pos")
  }

  /** The audited column set of [[c26TableStats]]: (table, column,
    * canonical-integer-units SQL) — prices in cents, ids/quantities
    * raw, the events item extracted via the q15/q37 idiom (genuinely
    * nullable: non-click events carry no `k`). Shared spelling with
    * the oracle via [[c26SqlUnits]]. */
  private val C26Cols: Seq[(String, Seq[(String, String, String)])] = Seq(
    "lineitem" -> Seq(
      ("l_quantity", "CAST(l_quantity AS BIGINT)",
        "CAST(l_quantity AS BIGINT)"),
      ("l_extendedprice", "CAST(round(l_extendedprice * 100, 0) AS BIGINT)",
        "CAST(round(l_extendedprice * 100, 0) AS BIGINT)"),
      ("l_discount", "CAST(round(l_discount * 100, 0) AS BIGINT)",
        "CAST(round(l_discount * 100, 0) AS BIGINT)")),
    "orders" -> Seq(
      ("o_totalprice", "CAST(round(o_totalprice * 100, 0) AS BIGINT)",
        "CAST(round(o_totalprice * 100, 0) AS BIGINT)"),
      ("o_custkey", "CAST(o_custkey AS BIGINT)",
        "CAST(o_custkey AS BIGINT)")),
    "events" -> Seq(
      ("props_k",
        "CAST(CAST(get_json_object(props, '$.k') AS INT) AS BIGINT)",
        "CAST(CAST(NULLIF(regexp_extract(props, '\"k\":\\s*(\\d+)', 1)," +
          " '') AS INTEGER) AS BIGINT)"),
      // '$.v' never occurs in props: the ALL-NULL column (a schema
      // column empty in this partition — real lakes have them), which
      // a stats collector must survive: zero hashed values = the
      // EMPTY SKETCH (v_empty = m, est = 0), min/max NULL
      ("props_v",
        "CAST(CAST(get_json_object(props, '$.v') AS INT) AS BIGINT)",
        "CAST(CAST(NULLIF(regexp_extract(props, '\"v\":\\s*(\\d+)', 1)," +
          " '') AS INTEGER) AS BIGINT)")))

  /** One fused stats scan per table: count + per-column (null count,
    * hll_sketch NDV, min, max) in a SINGLE aggregate, then exploded
    * to one row per column — the c18 conditional-aggregation shape
    * with q44's native sketch aggregate riding alongside. */
  private def c26Table(s: SparkSession, tbl: String, df: DataFrame,
      cols: Seq[(String, String, String)]): DataFrame = {
    val base = df.select(cols.map { case (n, u, _) =>
      expr(u).as(s"u_$n") }: _*)
    val aggs = cols.flatMap { case (n, _, _) => Seq(
      sum(when(col(s"u_$n").isNull, 1L).otherwise(0L)).as(s"nn_$n"),
      expr(s"hll_sketch(CAST(conv(substring(md5(CAST(u_$n AS STRING))," +
        s" 1, 8), 16, 10) AS BIGINT))").as(s"sk_$n"),
      min(col(s"u_$n")).as(s"mn_$n"),
      max(col(s"u_$n")).as(s"mx_$n")) }
    base.agg(count(lit(1)).as("n_rows"), aggs: _*)
      .select(explode(array(cols.map { case (n, _, _) =>
        struct(lit(tbl).as("tbl"), lit(s"$tbl.$n").as("col_name"),
          col("n_rows"), col(s"nn_$n").as("n_nulls"),
          col(s"sk_$n.v_empty").as("v_empty"),
          col(s"sk_$n.s_scaled").as("s_scaled"),
          col(s"sk_$n.hll_est").as("hll_est"),
          col(s"mn_$n").as("min_u"), col(s"mx_$n").as("max_u"))
      }: _*)).as("c"))
      .select("c.*")
  }

  /** c26: TABLE STATISTICS maintenance — the lake's `ANALYZE TABLE`:
    * per-column row count, null count, NDV estimate, min and max,
    * the inputs a cost-based optimizer (and every data-quality
    * monitor) reads before planning against a 100 TB table. Each
    * table pays ONE scan: all of its columns' aggregates — including
    * one [[graft.functions.HllSketchAgg]] `hll_sketch` per column,
    * fixed 64-byte state each — run in a single conditional
    * aggregation (the c18 fused-scan rule: the 50th column costs an
    * aggregate, never another pass), then explode to the per-column
    * audit rows. NDV rides the q40/q44 integer-exact sketch, so even
    * the ESTIMATES hash-match cross-engine — the oracle replays the
    * register pipeline per column via the shared
    * [[Relational.hllOracleSqlKeyed]] generator keyed on col_name.
    * min/max travel in canonical integer units (cents for prices —
    * the engine-shared exact spelling). events.props_k exercises the
    * null path genuinely (non-click events carry no item). */
  def c26TableStats(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val frames = C26Cols.map { case (tbl, cols) =>
      val df = tbl match {
        case "lineitem" => Tables.lineitem(s, dir)
        case "orders" => Tables.orders(s, dir)
        case _ => Tables.events(s, dir)
      }
      c26Table(s, tbl, df, cols)
    }
    frames.reduce(_.unionByName(_)).orderBy("col_name")
  }

  /** c27 bucket count (equi-height fence posts per column). */
  val C27Buckets = 8

  /** c27: equi-height COLUMN HISTOGRAMS — the distribution half of
    * the optimizer's statistics (c26 maintains the scalars; a CBO's
    * selectivity estimates read equi-height histograms, Spark's own
    * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` shape). For
    * each audited column, the [[C27Buckets]] nearest-rank fence
    * posts: `ub_i` = smallest value whose cumulative count reaches
    * `ceil(i·n/B)` (pure integers: `cum·B ≥ i·n` — the q39 rank
    * rule), so bucket i holds ~n/B rows and a heavily-tied column
    * (l_quantity, ~50 distinct values) legitimately repeats bounds
    * where one value spans several fences.
    *
    * Scale shape: ONE scan emits every column's (col_name, value)
    * pairs via `stack` (the c26 one-scan-per-table rule), ONE keyed
    * histogram shuffle collapses them to distinct values, and the
    * cumulative counts run the t17/c23 TWO-PHASE prefix sum (round
    * 13): a `Window.partitionBy(col_name)` alone puts a near-unique
    * column's whole collapsed histogram in ONE task — ~600k serial
    * rows for cents at sf0.1, the whole column's distinct values at
    * 100 TB. Values are nonnegative, so `u div` [[C27HistB]] buckets
    * are lexicographic RANGES of the value: in-bucket cumulative
    * sums run as hundreds of parallel windows per column, an
    * exclusive prefix of per-bucket totals (the only serial frame,
    * bucket-count-sized) broadcasts back, cum = offset + in-bucket
    * cum. The ORACLE keeps the one-window global spelling, so
    * hash-equality proves two-phase ≡ global (t17's argument). Fence
    * extraction stays one histogram-bounded aggregate against a
    * B-row constant frame; both engines run the same rank
    * arithmetic — hash-exact. */
  def c27Histograms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vals = Tables.lineitem(s, dir).select(expr(
      "stack(2, 'l_quantity', CAST(l_quantity AS BIGINT), " +
        "'l_extendedprice', CAST(round(l_extendedprice * 100, 0) " +
        "AS BIGINT)) AS (col_name, u)"))
    val hist = vals.groupBy("col_name", "u").agg(count(lit(1)).as("c"))
      .withColumn("hb", expr(s"u div ${C27HistB}L"))
    val inW = Window.partitionBy("col_name", "hb").orderBy("u")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = hist.groupBy("col_name", "hb").agg(sum("c").as("bc"))
      .withColumn("off",
        coalesce(sum("bc").over(Window.partitionBy("col_name")
          .orderBy("hb").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("col_name", "hb", "off")
    val tot = hist.groupBy("col_name").agg(sum("c").as("n"))
    val cum = hist
      .withColumn("incum", sum("c").over(inW))
      .join(broadcast(offs), Seq("col_name", "hb"))
      .withColumn("cum", col("incum") + col("off"))
      .join(tot, "col_name")
    // fence extraction as ONE aggregate with B conditional mins + a
    // stack back to rows — the histogramFor spelling. The retired
    // crossJoin(range(B)) form expanded the NDV-sized cumulative frame
    // ×B (≈4.8M rows at sf0.1) through a second keyed shuffle; the
    // conditional aggs reduce map-side to one row per partition per
    // col_name, so the fence shuffle carries partials only. Same rank
    // arithmetic, same output rows/order — the unchanged DuckDB oracle
    // hash-proves the rewrite.
    val fenceAggs = (1 to C27Buckets).map { i =>
      min(when(col("cum") * C27Buckets >= lit(i.toLong) * col("n"),
        col("u"))).as(s"ub_$i")
    }
    val stackSql = (1 to C27Buckets)
      .map(i => s"CAST($i AS BIGINT), ub_$i").mkString(", ")
    cum.groupBy("col_name")
      .agg(max("n").as("n_rows"), fenceAggs: _*)
      .select(col("col_name"),
        expr(s"stack($C27Buckets, $stackSql) AS (bucket, ub)"),
        col("n_rows"))
      .select("col_name", "bucket", "ub", "n_rows")
      .orderBy("col_name", "bucket")
  }

  /** Width of the value-range buckets c27's two-phase cumulative
    * counts run within (the t17HistB sibling): 2¹⁴ spans cent-valued
    * price columns in a few hundred parallel windows. */
  val C27HistB = 16384L

  // ------------------------------------------------ c29 catalog analyze

  /** c29 column manifest: (staged table, column, source table, DuckDB
    * derivation, kind). Kind drives the min/max EXTERNAL-string
    * spelling the oracle reproduces: `int` BIGINT digits, `date` ISO
    * yyyy-MM-dd, `ts` the catalog v2 UTC micros format, `str` no
    * bounds (measured char lengths instead). Every derivation is the
    * c26 canonical-integer-units discipline, so both engines hash and
    * format identical values. */
  private val C29Cols: Seq[(String, String, String, String, String)] = Seq(
    ("g_c29_orders", "ck", "orders", "CAST(o_custkey AS BIGINT)", "int"),
    ("g_c29_orders", "od", "orders", "CAST(o_orderdate AS DATE)", "date"),
    ("g_c29_orders", "ots", "orders",
      "CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP)", "ts"),
    ("g_c29_orders", "pcn", "orders",
      "CASE WHEN o_custkey % 5 = 0 THEN NULL ELSE " +
        "CAST(round(o_totalprice * 100, 0) AS BIGINT) END", "int"),
    ("g_c29_lineitem", "qty", "lineitem", "CAST(l_quantity AS BIGINT)",
      "int"),
    ("g_c29_lineitem", "rf", "lineitem", "l_returnflag", "str"))

  /** c29: ANALYZE under the ORACLE — the catalog-statistics write
    * ([[CatalogStats.analyze]]) promoted to a hash-verified gate
    * entry. c26/c27 prove the statistics MATH cross-engine and
    * CurationSpec proves the persisted stats flip plans; this entry
    * closes the remaining gap — the CBO's actual INPUT (what
    * `alterTableStats` wrote: rowCount, HLL distinctCount, nullCount,
    * the type-formatted external min/max strings, measured string
    * lengths, and the equi-height histogram bins) is READ BACK from
    * the session catalog and hash-compared against a DuckDB
    * recompute. Two staged tables cover the type surface: bigint,
    * date, timestamp (the v2 `yyyy-MM-dd HH:mm:ss.SSSSSS` external
    * format), a planted-null bigint carrying the near-unique
    * histogram (null filtering + the two-phase cumulative under the
    * gate), a tie-heavy histogram column (one value spanning several
    * fences), and a string column (no bounds, measured avg/max char
    * lengths).
    *
    * Scale shape: [[CatalogStats.analyze]]'s — one fused scan per
    * table for the scalars, the c27 two-phase distinct-value-bounded
    * pass per histogram column, one metastore call per table. Staging
    * here copies projections only because the gate corpus is
    * path-based parquet; a production lake table registers its
    * existing LOCATION and pays no copy. */
  /** Fingerprint-keyed write-once staging: the staged projection is a
    * pure function of the source corpus, so a matching `graft.fp`
    * table property means the table is already the right content —
    * the ANALYZE operator then measures ANALYZE, not a parquet copy
    * (production's contract: the table exists; ANALYZE is the op). */
  private def c29Stage(s: SparkSession, name: String, fp: String,
      df: => DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    val cat = s.sessionState.catalog
    val cur =
      if (cat.tableExists(TableIdentifier(name)))
        cat.getTableMetadata(TableIdentifier(name)).properties.get("graft.fp")
      else None
    if (!cur.contains(fp)) {
      CatalogStats.stage(s, name, df)
      s.sql(s"ALTER TABLE $name SET TBLPROPERTIES('graft.fp'='$fp')")
    }
  }

  def c29Analyze(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.catalyst.TableIdentifier
    graft.functions.GraftFunctions.register(s)
    val orders = Tables.orders(s, dir).select(
      col("o_custkey").cast("long").as("ck"),
      col("o_orderdate").cast("date").as("od"),
      col("o_orderdate").cast("date").cast("timestamp").as("ots"),
      when(col("o_custkey") % 5 === 0, lit(null).cast("long"))
        .otherwise(expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
        .as("pcn"))
    val li = Tables.lineitem(s, dir).select(
      expr("CAST(l_quantity AS BIGINT)").as("qty"),
      col("l_returnflag").as("rf"))
    c29Stage(s, "g_c29_orders", Tables.fingerprint(s, dir, "orders"), orders)
    c29Stage(s, "g_c29_lineitem", Tables.fingerprint(s, dir, "lineitem"), li)
    CatalogStats.analyze(s, "g_c29_orders", Seq("ck", "od", "ots", "pcn"),
      histCols = Set("pcn"))
    CatalogStats.analyze(s, "g_c29_lineitem", Seq("qty", "rf"),
      histCols = Set("qty"))
    val sess = s
    import sess.implicits._
    // READBACK from the catalog, not analyze()'s return value: the
    // gate proves what was PERSISTED survives the metastore round trip
    val rows = Seq(
      "g_c29_orders" -> Seq("ck", "od", "ots", "pcn"),
      "g_c29_lineitem" -> Seq("qty", "rf")).flatMap { case (t, cols) =>
      val meta = s.sessionState.catalog.getTableMetadata(TableIdentifier(t))
      val st = meta.stats.get
      val rc = st.rowCount.get.toLong
      cols.flatMap { c =>
        val cs = st.colStats(c)
        val isStr = meta.schema(c).dataType ==
          org.apache.spark.sql.types.StringType
        val scalar = (t, c, "scalar", Some(rc),
          Some(cs.nullCount.get.toLong), Some(cs.distinctCount.get.toLong),
          cs.min, cs.max,
          if (isStr) cs.avgLen.map(_.toLong) else None,
          if (isStr) cs.maxLen.map(_.toLong) else None,
          None: Option[Long], None: Option[Long], None: Option[Long])
        val hist = cs.histogram.toSeq.flatMap(_.bins.zipWithIndex.map {
          case (b, i) =>
            (t, c, "hist", None: Option[Long], None: Option[Long],
              None: Option[Long], None: Option[String],
              None: Option[String], None: Option[Long],
              None: Option[Long],
              Some((i + 1).toLong), Some(b.hi.toLong), Some(b.ndv))
        })
        scalar +: hist
      }
    }
    rows.toDF("tbl", "col_name", "kind", "row_count", "null_count", "ndv",
        "min_s", "max_s", "avg_len", "max_len", "bucket", "ub", "bin_ndv")
      .orderBy(col("tbl"), col("col_name"), col("kind"),
        coalesce(col("bucket"), lit(0L)))
  }

  /** c29 oracle: HLL register replay keyed on col_name (the c26
    * fragment), plain-SQL scalars with type-formatted VARCHAR bounds,
    * and the c27 fence rule + per-bin distinct counts for the two
    * histogram columns. */
  private def c29OracleSql: String = {
    val hashedUnion = C29Cols.map { case (_, c, src, duck, _) =>
      s"""SELECT '$c' AS col_name, ${Relational.sqlHash32(duck)} AS h
         |  FROM $src WHERE ($duck) IS NOT NULL""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    val sketchSql = Relational.hllOracleSqlKeyed(Seq("col_name"),
      s"SELECT col_name, h FROM (\n  $hashedUnion)", withMerge = false)
    def bound(kind: String, f: String) = kind match {
      case "int" => s"CAST($f(u) AS VARCHAR)"
      case "date" => s"strftime($f(u), '%Y-%m-%d')"
      case "ts" => s"strftime($f(u), '%Y-%m-%d %H:%M:%S.%f')"
      case "str" => "CAST(NULL AS VARCHAR)"
    }
    val scalarUnion = C29Cols.map { case (t, c, src, duck, kind) =>
      val (al, ml) =
        if (kind == "str")
          // DuckDB length(VARCHAR) = CHARACTER count, mirroring
          // CatalogStats.analyze's length(col) (upstream ANALYZE
          // measures string lengths in chars, not bytes)
          ("CAST(ceil(avg(length(u))) AS BIGINT)",
            "CAST(max(length(u)) AS BIGINT)")
        else ("CAST(NULL AS BIGINT)", "CAST(NULL AS BIGINT)")
      s"""SELECT '$t' AS tbl, '$c' AS col_name, 'scalar' AS kind,
         |    CAST(count(*) AS BIGINT) AS row_count,
         |    CAST(sum(CASE WHEN u IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS null_count,
         |    ${bound(kind, "min")} AS min_s,
         |    ${bound(kind, "max")} AS max_s,
         |    $al AS avg_len, $ml AS max_len
         |  FROM (SELECT ($duck) AS u FROM $src)""".stripMargin
    }.mkString("\n  UNION ALL\n  ")
    def histCtes(tag: String, duck: String, src: String) =
      s"""hv_$tag AS (
         |  SELECT u, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT ($duck) AS u FROM $src) WHERE u IS NOT NULL
         |  GROUP BY 1),
         |cq_$tag AS (
         |  SELECT u, sum(c) OVER (ORDER BY u ROWS UNBOUNDED PRECEDING)
         |    AS cum, sum(c) OVER () AS n FROM hv_$tag),
         |f_$tag AS (
         |  SELECT bucket,
         |    min(CASE WHEN cum * $C27Buckets >= bucket * n THEN u END)
         |      AS ub
         |  FROM cq_$tag CROSS JOIN bx GROUP BY 1),
         |fl_$tag AS (
         |  SELECT bucket, ub,
         |    COALESCE(lag(ub) OVER (ORDER BY bucket),
         |      (SELECT min(u) FROM hv_$tag)) AS lo
         |  FROM f_$tag),
         |hb_$tag AS (
         |  SELECT fl.bucket, fl.ub, CAST(count(hv.u) AS BIGINT) AS bin_ndv
         |  FROM fl_$tag fl LEFT JOIN hv_$tag hv
         |    ON hv.u <= fl.ub
         |      AND (hv.u > fl.lo OR (fl.bucket = 1 AND hv.u >= fl.lo))
         |  GROUP BY 1, 2)"""
    val pcnDuck = C29Cols.find(_._2 == "pcn").get._4
    val qtyDuck = C29Cols.find(_._2 == "qty").get._4
    def histSelect(t: String, c: String, tag: String) =
      s"""SELECT '$t' AS tbl, '$c' AS col_name, 'hist' AS kind,
         |    CAST(NULL AS BIGINT) AS row_count,
         |    CAST(NULL AS BIGINT) AS null_count,
         |    CAST(NULL AS BIGINT) AS ndv,
         |    CAST(NULL AS VARCHAR) AS min_s, CAST(NULL AS VARCHAR) AS max_s,
         |    CAST(NULL AS BIGINT) AS avg_len, CAST(NULL AS BIGINT) AS max_len,
         |    bucket, CAST(ub AS BIGINT) AS ub, bin_ndv
         |  FROM hb_$tag""".stripMargin
    s"""WITH bx AS (
       |  SELECT CAST(unnest(generate_series(1, $C27Buckets)) AS BIGINT)
       |    AS bucket),
       |${histCtes("pcn", pcnDuck, "orders")},
       |${histCtes("qty", qtyDuck, "lineitem")}
       |SELECT * FROM (
       |SELECT sc.tbl, sc.col_name, sc.kind, sc.row_count, sc.null_count,
       |  COALESCE(sk.hll_est, CAST(0 AS BIGINT)) AS ndv,
       |  sc.min_s, sc.max_s, sc.avg_len, sc.max_len,
       |  CAST(NULL AS BIGINT) AS bucket, CAST(NULL AS BIGINT) AS ub,
       |  CAST(NULL AS BIGINT) AS bin_ndv
       |FROM ($scalarUnion) sc
       |LEFT JOIN ($sketchSql) sk USING (col_name)
       |UNION ALL
       |${histSelect("g_c29_orders", "pcn", "pcn")}
       |UNION ALL
       |${histSelect("g_c29_lineitem", "qty", "qty")}
       |) ORDER BY tbl, col_name, kind, COALESCE(bucket, 0)""".stripMargin
  }

  /** Shared DuckDB CTE chain of the c30 oracles, ending in
    * `f7`(doc_id, lang, source, chg, s1, s3..s7, score_micro) — every
    * stage the composed stage-mirror of its standalone entry's
    * spelling: [[Dedup.sqlClusterCtes]] + [[sqlSizedCte]] (cluster
    * policy), [[Dedup.sqlD9Ctes]] (n-gram decontamination),
    * [[Classifier.sqlTrainTail]] + prior (the FULL trainer replayed —
    * the c10 discipline), [[Similarity.d15Ctes]] (semantic screen),
    * [[TextAnalysis.sqlGopherCtes]]/[[TextAnalysis.sqlGopherPass]]
    * (rule battery over the normalized text), the t14 canonicalizer
    * (URL stage) and the c5 mix rule over survivors. */
  private def c30OracleCtes: String =
    s"""${Dedup.sqlClusterCtes},
       |m4 AS (SELECT doc_id,
       |    CAST(len(toks) AS INTEGER) AS n_tok,
       |    CAST(len(list_filter(toks,
       |      t -> t IN (${TextAnalysis.sqlStopList}))) AS BIGINT) AS n_stop
       |  FROM tok_t),
       |q4 AS (SELECT doc_id,
       |    ${TextAnalysis.sqlScore("n_stop", "n_tok")} AS score
       |  FROM m4),
       |${Dedup.sqlD9Ctes},
       |${sqlSizedCte("q4")},
       |c2keep AS MATERIALIZED (SELECT doc_id FROM sized
       |  WHERE rk = 1 AND cluster_size <= $MaxClusterSize),
       |${Classifier.sqlTrainTail},
       |docs_t AS (SELECT CAST(SUM(y) AS BIGINT) AS d_pos,
       |    CAST(SUM(1 - y) AS BIGINT) AS d_neg FROM lab),
       |${Similarity.d15Ctes},
       |d15cont AS MATERIALIZED (SELECT vec_id FROM d15best
       |  WHERE rnk = 1 AND cos >= CAST(${Similarity.D15Tau} AS DOUBLE)),
       |d9cont AS MATERIALIZED (SELECT doc_id FROM d9over),
       |urls30 AS (SELECT doc_id, ${TextAnalysis.t14UrlSql(1)} AS url
       |  FROM documents),
       |u30 AS MATERIALIZED (SELECT doc_id,
       |    ${TextAnalysis.t14CanonSql("url", spark = false)} AS canon
       |  FROM urls30),
       |p1k AS (SELECT canon, min(doc_id) AS keep_id FROM u30
       |  GROUP BY canon),
       |nn30 AS MATERIALIZED (SELECT doc_id, raw30,
       |    trim(regexp_replace(nfc_normalize(raw30),
       |      '${TextAnalysis.T13WsRe}', ' ', 'g')) AS norm30
       |  FROM (SELECT doc_id,
       |      ((CASE doc_id % 3 WHEN 0 THEN '${TextAnalysis.T13Deco(0)}'
       |        WHEN 1 THEN '${TextAnalysis.T13Deco(1)}'
       |        ELSE '${TextAnalysis.T13Deco(2)}' END) ||
       |       (CASE WHEN doc_id % 2 = 0 THEN '${TextAnalysis.T13Gap}'
       |        ELSE ' ' END) || text) AS raw30
       |    FROM documents)),
       |${TextAnalysis.sqlGopherCtes("nn30", "norm30", "c30")},
       |clfn30 AS (SELECT doc_id,
       |    ${TextOps.sqlToksOf(TextOps.sqlNormTextOf("norm30"))} AS toks30
       |  FROM nn30),
       |tokf30 AS MATERIALIZED (SELECT doc_id,
       |    ${TextAnalysis.sqlBucketMod("tok", Classifier.ClfBuckets)} AS f
       |  FROM (SELECT doc_id, unnest(toks30) AS tok FROM clfn30) u),
       |ds30 AS (SELECT doc_id, SUM(COALESCE(w.w_micro, 0)) AS tok_sum
       |  FROM tokf30 LEFT JOIN w USING (f) GROUP BY doc_id),
       |sc30 AS (SELECT d.doc_id,
       |    CAST(pr.p + COALESCE(ds30.tok_sum, 0) AS BIGINT) AS score_micro
       |  FROM documents d LEFT JOIN ds30 USING (doc_id)
       |  CROSS JOIN (SELECT ${Classifier.priorSql("d_pos", "d_neg")} AS p
       |    FROM docs_t) pr),
       |f30 AS (
       |  SELECT d.doc_id, d.lang, d.source,
       |    (u30.doc_id = p1k.keep_id) AS s1,
       |    (nn30.norm30 <> nn30.raw30) AS chg,
       |    ((u30.doc_id = p1k.keep_id) AND
       |      ${TextAnalysis.sqlGopherPass}) AS s3,
       |    sc30.score_micro
       |  FROM documents d
       |  JOIN u30 ON u30.doc_id = d.doc_id
       |  JOIN p1k ON p1k.canon = u30.canon
       |  JOIN nn30 ON nn30.doc_id = d.doc_id
       |  JOIN gc_c30 g ON g.doc_id = d.doc_id
       |  JOIN sc30 ON sc30.doc_id = d.doc_id),
       |hist4 AS (SELECT source, score_micro, CAST(count(*) AS BIGINT) AS c
       |  FROM f30 WHERE s3 GROUP BY 1, 2),
       |tot4 AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
       |  FROM f30 WHERE s3 GROUP BY 1),
       |thr4 AS (SELECT source, max(score_micro) AS thr_u FROM (
       |    SELECT h.source, h.score_micro,
       |      sum(h.c) OVER (PARTITION BY h.source
       |        ORDER BY h.score_micro DESC ROWS UNBOUNDED PRECEDING)
       |        AS cum_ge,
       |      t.n_src
       |    FROM hist4 h JOIN tot4 t USING (source))
       |  WHERE cum_ge >= (n_src + ${C22KeepDen - 1}) // $C22KeepDen
       |  GROUP BY source),
       |f6 AS MATERIALIZED (SELECT f30.*,
       |    (s3 AND score_micro >= thr4.thr_u) AS s4,
       |    (s3 AND score_micro >= thr4.thr_u
       |      AND doc_id IN (SELECT doc_id FROM c2keep)) AS s5,
       |    (s3 AND score_micro >= thr4.thr_u
       |      AND doc_id IN (SELECT doc_id FROM c2keep)
       |      AND ${TextAnalysis.sqlSampleBucket("doc_id")}
       |        >= ${Dedup.D9BenchPct}
       |      AND doc_id NOT IN (SELECT doc_id FROM d9cont)
       |      AND doc_id NOT IN (SELECT vec_id FROM d15cont)) AS s6
       |  FROM f30 LEFT JOIN thr4 USING (source)),
       |mixc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM f6 WHERE s6 GROUP BY lang),
       |mixn AS (SELECT max(n_docs) AS n_max FROM mixc),
       |mixthr AS (
       |  SELECT lang, CAST(floor(least(CAST(1.0 AS DOUBLE),
       |      $C5BaseFrac * sqrt(CAST(n_max AS DOUBLE)
       |        / CAST(n_docs AS DOUBLE))) * $C5Buckets) AS INTEGER)
       |    AS keep_buckets
       |  FROM mixc, mixn),
       |f7 AS (SELECT f6.*,
       |    (s6 AND ${TextAnalysis.sqlBucketMod("doc_id", C5Buckets)}
       |      < mixthr.keep_buckets) AS s7
       |  FROM f6 LEFT JOIN mixthr USING (lang))""".stripMargin

  /** The mktsegment domain [[c18Expectations]] validates against
    * (shared with the oracle). */
  val C18Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  /** One fused-scan constraint group: `checked` rows scanned once,
    * each (name, violation-predicate) pair counted in the SAME
    * aggregate, then exploded to one audit row per constraint —
    * adding the 50th expectation to a table costs a column in this
    * aggregate, never another pass over 100 TB. */
  private def c18Group(tbl: String, df: DataFrame,
      checks: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val aggd = df.agg(
      count(lit(1)).as("checked"),
      checks.map { case (n, pred) =>
        coalesce(sum(when(pred, 1L)), lit(0L)).as(s"v_$n")
      }: _*)
    aggd.select(lit(tbl).as("tbl"), col("checked"),
        explode(array(checks.map { case (n, _) =>
          struct(lit(n).as("cname"), col(s"v_$n").as("violations"))
        }: _*)).as("c"))
      .select(col("tbl"), col("c.cname").as("constraint_name"),
        col("checked"), col("c.violations").as("violations"))
  }

  /** c18: declarative DATA-QUALITY EXPECTATIONS over the warehouse —
    * the Great Expectations / Delta Live Tables `EXPECT` audit: each
    * constraint reports (checked, violations, pass) so a pipeline can
    * gate promotion on `pass` and route violation counts to
    * monitoring. Covers the four production constraint shapes:
    * range/domain/null checks (fused per table — customer and
    * lineitem each pay ONE scan for all their constraints via
    * conditional aggregation), referential integrity (orders.custkey
    * ⊆ customer — a broadcast-able left join counting unmatched
    * rows, never a distinct-materialize), cross-table ordering
    * invariants (lineitem ships on/after its order date — the fact
    * join counts rows violating the business rule), and key
    * uniqueness (events.event_id — count minus distinct-count, one
    * aggregate). The synthetic data genuinely exercises BOTH
    * verdicts: negative account balances and pre-order ship dates
    * exist at every SF, while the other constraints hold — so the
    * audit's pass column carries real information, hash-verified
    * cross-engine. Output is constraint-count-sized; every branch is
    * map-side-combinable or a key join. */
  def c18Expectations(s: SparkSession, dir: String): DataFrame = {
    val cust = c18Group("customer", Tables.customer(s, dir), Seq(
      "acctbal_nonneg" -> (col("c_acctbal") < 0),
      "mktsegment_known" -> !col("c_mktsegment").isin(C18Segments: _*),
      "name_not_null" -> col("c_name").isNull))
    val li = c18Group("lineitem", Tables.lineitem(s, dir), Seq(
      "qty_in_range" -> (col("l_quantity") < 1 || col("l_quantity") > 50),
      "price_positive" -> (col("l_extendedprice") <= 0),
      "discount_in_range" ->
        (col("l_discount") < 0 || col("l_discount") > 0.1)))
    // no broadcast hint: Spark picks broadcast while the dimension fits
    // and falls back to shuffle when it doesn't — a forced broadcast
    // would hard-fail past the 8 GB limit at large SFs
    val ri = c18Group("orders",
      Tables.orders(s, dir).join(
        Tables.customer(s, dir).select(
          col("c_custkey"), lit(1L).as("cust_hit")),
        col("o_custkey") === col("c_custkey"), "left_outer"),
      Seq("custkey_ri" -> col("cust_hit").isNull))
    val shp = c18Group("lineitem_x_orders",
      Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate").join(
        Tables.orders(s, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey")),
      Seq("ship_on_or_after_order" -> (col("l_shipdate") < col("o_orderdate"))))
    val ev = Tables.events(s, dir).agg(
        count(lit(1)).as("checked"),
        (count(lit(1)) - countDistinct(col("event_id"))).as("violations"))
      .select(lit("events").as("tbl"),
        lit("event_id_unique").as("constraint_name"),
        col("checked"), col("violations"))
    cust.unionByName(li).unionByName(ri).unionByName(shp).unionByName(ev)
      .withColumn("pass", col("violations") === 0L)
      .orderBy("tbl", "constraint_name")
  }

  /** Group-key modulus for [[c20IncrementalMv]]'s materialized view
    * (g = doc_id % C20Groups). Prime and DISTINCT from the c12
    * changeset mods (97/83/101), so changeset rows spread across MV
    * groups instead of collapsing into group 0. */
  val C20Groups = 89

  /** MV partition-directory count (pg = g % C20Parts) — stands in for
    * the date/tenant layout a production MV table partitions by. */
  val C20Parts = 8

  /** The view definition: per doc_id-group, document count and total
    * content chars. Both aggregates are SELF-MAINTAINABLE (closed
    * under +delta), which is what makes incremental maintenance exact;
    * MIN/MAX or DISTINCT would need the re-scan c20 exists to avoid. */
  private def c20Mv(docs: DataFrame): DataFrame =
    docs.groupBy(pmod(col("doc_id"), lit(C20Groups.toLong)).as("g"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(length(col("text")), lit(0)).cast("long"))
          .as("sum_chars"))
      .withColumn("pg", pmod(col("g"), lit(C20Parts.toLong)))

  // fingerprint-keyed like c13/c15: maintenance against a staging of a
  // regenerated corpus must restage, never mix snapshots
  private def c20V1Table(s: SparkSession, dir: String): String =
    s"graft_mv_v1_${graft.Tables.fingerprint(s, dir, "documents")}"
  private def c20LiveTable(s: SparkSession, dir: String): String =
    s"graft_mv_live_${graft.Tables.fingerprint(s, dir, "documents")}"

  /** CDC-shaped changeset with BEFORE/AFTER images — (doc_id, status,
    * old_chars, new_chars), staged pay-once next to the v2 snapshot.
    * In production this artifact ARRIVES (Debezium-style row images or
    * a c12 diff job's output); deriving it here reuses the c12
    * derivation so the gate's changeset is definitionally consistent
    * with the snapshots. Carrying the images is the design point: the
    * maintenance pass needs old and new contributions WITHOUT touching
    * either corpus snapshot. */
  private def c20ChangesetPath(s: SparkSession, dir: String): String =
    graft.Artifacts.staged(s, graft.Artifacts.stagedDir("snapdata",
        Tables.fingerprint(s, dir, "documents"), "changeset.parquet")) { out =>
      val v1 = Tables.documents(s, dir).select(col("doc_id"),
        coalesce(length(col("text")), lit(0)).cast("long").as("old_chars"))
      val v2 = Tables.parquet(s, c12SnapshotPath(s, dir)).select(col("doc_id"),
        coalesce(length(col("text")), lit(0)).cast("long").as("new_chars"))
      c12SnapshotDiff(s, dir).filter(col("status") =!= "unchanged")
        .join(v1, Seq("doc_id"), "left_outer")
        .join(v2, Seq("doc_id"), "left_outer")
        .write.parquet(out)
    }

  /** c20: INCREMENTAL MATERIALIZED-VIEW MAINTENANCE — keep a persisted
    * aggregate table consistent with its base table as changesets land,
    * without ever re-scanning the base. This closes the lake loop the
    * c-family built up: c12 audits WHAT changed, c13 applies it to the
    * BASE table, st10 streams it — c20 maintains the DOWNSTREAM
    * aggregate (the dataset-card / dashboard summary every corpus
    * owner keeps) by pure delta arithmetic.
    *
    * Algorithm (classic self-maintainable-view delta propagation): the
    * staged changeset carries before/after images; per MV group,
    * dn = Σ(+1 added, −1 removed), dchars = Σ(new − old). The
    * IMMUTABLE v1 MV is read ONLY at the touched partitions (the
    * partition filter comes from the delta's ≤[[C20Parts]] distinct pg
    * values — a bounded collect), new absolute rows = old + delta, and
    * [[graft.sources.Sources.mergeIntoPartitioned]] upserts them into
    * the live MV (groups maintained to zero docs become deletes — the
    * emptied-partition case the merge machinery handles). Upserts are
    * ABSOLUTE values derived from the immutable v1, so re-applying the
    * same changeset is idempotent by construction (CurationSpec
    * re-runs and compares).
    *
    * Scale: maintenance cost ∝ |changeset| + |touched MV partitions|.
    * The base table (100 TB) is never opened; the MV (group-cardinality
    * rows) is read only where touched. The gate hash-verifies the
    * maintained table against an independent FULL re-aggregation of the
    * v2 snapshot — delta maintenance must be EXACTLY the recompute. */
  def c20IncrementalMv(s: SparkSession, dir: String): DataFrame = {
    val v1t = graft.sources.Sources.ensureStagedPartitioned(
      s, c20V1Table(s, dir), "pg", c20Mv(Tables.documents(s, dir)))
    val livet = graft.sources.Sources.ensureStagedPartitioned(
      s, c20LiveTable(s, dir), "pg", c20Mv(Tables.documents(s, dir)))
    val delta = Tables.parquet(s, c20ChangesetPath(s, dir))
      .groupBy(pmod(col("doc_id"), lit(C20Groups.toLong)).as("g"))
      .agg(
        sum(when(col("status") === "added", 1L)
          .when(col("status") === "removed", -1L).otherwise(0L)).as("dn"),
        sum(coalesce(col("new_chars"), lit(0L)) -
          coalesce(col("old_chars"), lit(0L))).as("dc"))
      .withColumn("pg", pmod(col("g"), lit(C20Parts.toLong)))
    // bounded collect: ≤ C20Parts partition values, the same literal-
    // prune shape mergeIntoPartitioned uses for its own write side
    val touchedPg = delta.select("pg").distinct().collect().map(_.get(0))
    val merged = s.table(v1t)
      .filter(col("pg").isin(touchedPg.toIndexedSeq: _*))
      .drop("pg")
      .join(delta, Seq("g"), "right_outer")
      .select(col("g"),
        (coalesce(col("n_docs"), lit(0L)) + col("dn")).as("n_docs"),
        (coalesce(col("sum_chars"), lit(0L)) + col("dc")).as("sum_chars"),
        col("pg"))
    graft.sources.Sources.mergeIntoPartitioned(
      s, livet, "pg", "g",
      merged.filter(col("n_docs") > 0L),
      merged.filter(col("n_docs") <= 0L).select("g", "pg"),
      // group-cardinality delta over the staged changeset parquet —
      // re-deriving it per consumer is cheaper than a checkpoint job
      // (r18 A/B: 1.44 s lazy vs 1.55 s materialized; the r17 +14%
      // quiet regression adjudicated)
      materializeUpserts = false)
    s.table(livet).select("g", "n_docs", "sum_chars").orderBy("g")
  }

  /** Epoch ceiling of [[c31EpochPlan]] in milli-epochs: no source is
    * repeated more than 4 passes however small it is (past ~4 epochs
    * repetition hurts — the Muennighoff et al. 2023 data-constrained
    * scaling result; the c5/mBERT α-upweight must respect it). */
  val C31MaxEpochsMilli = 4000L
  /** Fixed-point scale of the epoch column (1000 = 1.0 epochs). */
  val C31EpochScale = 1000L

  /** c31: the EPOCH-ALLOCATION PLAN — the per-source data-recipe
    * table a training run is provisioned from ("how many passes over
    * each source, how many tokens does that contribute, what share of
    * the mixture is it"). The α = 0.5 temperature rule of
    * [[c5MixtureSample]] lifted from doc-acceptance to EPOCH space:
    * the head source trains exactly 1.0 epochs
    * ([[C31EpochScale]] milli), a source at 1/x the head's tokens
    * trains sqrt(x) epochs, capped at [[C31MaxEpochsMilli]] — the
    * standard data-constrained recipe (upsample the tail, never past
    * the repetition ceiling). Token counts are c7's whitespace
    * tokens; epochs land as FLOORED fixed-point integers (the c5
    * bucket discipline: divide/sqrt/multiply are IEEE
    * correctly-rounded, so both engines floor identically), and
    * everything downstream (allocated tokens, mixture share in basis
    * points) is exact bigint arithmetic — hash-green with no float in
    * the output.
    *
    * Scale shape: ONE corpus kernel pass (the split/filter token
    * count, map-side-combinable into an O(sources) frame, eagerly
    * checkpointed), then all planning arithmetic runs on that tiny
    * frame (two broadcast scalar joins) — at 100 TB the plan costs
    * one linear scan, and the recipe itself never moves data. */
  def c31EpochPlan(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "curation.c31") { sc =>
      // O(sources) rows; one corpus pass total
      val perSrc = sc.cut(Tables.documentsSpread(s, dir)
        .withColumn("ws_tokens",
          size(TextOps.toksOf("text")).cast("long"))
        .groupBy("source").agg(sum("ws_tokens").as("n_tokens")))
      val nmax = perSrc.agg(max("n_tokens").as("n_max"))
      val alloc = perSrc.crossJoin(broadcast(nmax))
        .withColumn("epochs_milli",
          least(lit(C31MaxEpochsMilli),
            floor(lit(C31EpochScale.toDouble) *
              sqrt(col("n_max").cast("double") /
                col("n_tokens").cast("double")))).cast("long"))
        .withColumn("alloc_tokens",
          expr(s"n_tokens * epochs_milli div $C31EpochScale"))
      val tot = alloc.agg(sum("alloc_tokens").as("tot"))
      alloc.crossJoin(broadcast(tot))
        .withColumn("share_bp", expr("(10000 * alloc_tokens) div tot"))
        .select("source", "n_tokens", "epochs_milli", "alloc_tokens",
          "share_bp")
        .orderBy("source")
    }

  val oracle: Map[String, String] = Map(
    // same temperature arithmetic on the same whitespace-token sums;
    // HUGEINT intermediates cast back so dtypes match Spark's longs
    "c31_epoch_plan" ->
      s"""WITH per_src AS (
         |  SELECT source,
         |    CAST(sum(len(${TextOps.sqlToksOf("text")})) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY source),
         |mx AS (SELECT max(n_tokens) AS n_max FROM per_src),
         |alloc AS (
         |  SELECT source, n_tokens, epochs_milli,
         |    n_tokens * epochs_milli // $C31EpochScale AS alloc_tokens
         |  FROM (
         |    SELECT source, n_tokens,
         |      CAST(least($C31MaxEpochsMilli,
         |        floor(${C31EpochScale}.0 * sqrt(CAST(n_max AS DOUBLE)
         |          / CAST(n_tokens AS DOUBLE)))) AS BIGINT)
         |        AS epochs_milli
         |    FROM per_src CROSS JOIN mx)),
         |tot AS (SELECT sum(alloc_tokens) AS tot FROM alloc)
         |SELECT source, n_tokens, epochs_milli,
         |  CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
         |  CAST((10000 * alloc_tokens) // tot AS BIGINT) AS share_bp
         |FROM alloc CROSS JOIN tot ORDER BY source""".stripMargin,
    // the maintained MV must equal an independent full re-aggregation
    // of the derived v2 snapshot — delta maintenance ≡ recompute
    "c20_incremental_mv" ->
      s"""WITH mx AS (SELECT max(doc_id) AS mxid FROM documents),
         |v2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % $C12ChangeMod = 0 THEN text || ' [rev2]'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % $C12DropMod <> 0
         |  UNION ALL
         |  SELECT doc_id + mxid + 1 AS doc_id, text
         |  FROM documents CROSS JOIN mx WHERE doc_id % $C12AddMod = 0)
         |SELECT doc_id % $C20Groups AS g,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS sum_chars
         |FROM v2 GROUP BY 1 ORDER BY g""".stripMargin,
    // every expectation recomputed as plain SQL over the raw tables
    "c18_expectations" ->
      s"""WITH cust AS (SELECT CAST(count(*) AS BIGINT) AS checked,
         |    CAST(coalesce(sum(CASE WHEN c_acctbal < 0 THEN 1 END), 0)
         |      AS BIGINT) AS v_bal,
         |    CAST(coalesce(sum(CASE WHEN c_mktsegment NOT IN
         |      (${C18Segments.map("'" + _ + "'").mkString(", ")})
         |      THEN 1 END), 0) AS BIGINT) AS v_seg,
         |    CAST(coalesce(sum(CASE WHEN c_name IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS v_name
         |  FROM customer),
         |li AS (SELECT CAST(count(*) AS BIGINT) AS checked,
         |    CAST(coalesce(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
         |      THEN 1 END), 0) AS BIGINT) AS v_qty,
         |    CAST(coalesce(sum(CASE WHEN l_extendedprice <= 0
         |      THEN 1 END), 0) AS BIGINT) AS v_price,
         |    CAST(coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1
         |      THEN 1 END), 0) AS BIGINT) AS v_disc
         |  FROM lineitem),
         |ri AS (SELECT CAST(count(*) AS BIGINT) AS checked,
         |    CAST(coalesce(sum(CASE WHEN c.c_custkey IS NULL THEN 1 END), 0)
         |      AS BIGINT) AS violations
         |  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
         |shp AS (SELECT CAST(count(*) AS BIGINT) AS checked,
         |    CAST(coalesce(sum(CASE WHEN l.l_shipdate < o.o_orderdate
         |      THEN 1 END), 0) AS BIGINT) AS violations
         |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         |ev AS (SELECT CAST(count(*) AS BIGINT) AS checked,
         |    CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
         |      AS violations
         |  FROM events)
         |SELECT tbl, constraint_name, checked, violations,
         |  violations = 0 AS pass
         |FROM (
         |  SELECT 'customer' AS tbl, 'acctbal_nonneg' AS constraint_name,
         |    checked, v_bal AS violations FROM cust
         |  UNION ALL SELECT 'customer', 'mktsegment_known', checked, v_seg
         |    FROM cust
         |  UNION ALL SELECT 'customer', 'name_not_null', checked, v_name
         |    FROM cust
         |  UNION ALL SELECT 'lineitem', 'qty_in_range', checked, v_qty
         |    FROM li
         |  UNION ALL SELECT 'lineitem', 'price_positive', checked, v_price
         |    FROM li
         |  UNION ALL SELECT 'lineitem', 'discount_in_range', checked, v_disc
         |    FROM li
         |  UNION ALL SELECT 'orders', 'custkey_ri', checked, violations
         |    FROM ri
         |  UNION ALL SELECT 'lineitem_x_orders', 'ship_on_or_after_order',
         |    checked, violations FROM shp
         |  UNION ALL SELECT 'events', 'event_id_unique', checked, violations
         |    FROM ev
         |) ORDER BY tbl, constraint_name""".stripMargin,
    // point-in-time correctness: the maintained history joined at the
    // derived event dates must equal the directly-derived history
    // joined the same way — misassigning ANY order to the wrong
    // version shifts the integer sums
    "c21_pit_lookup" ->
      s"""WITH hist AS (
         |  SELECT c_custkey, c_mktsegment,
         |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents,
         |    '$C17Date0' AS valid_from, '$C17HighDate' AS valid_to
         |  FROM customer WHERE c_custkey % $C17ChangeMod <> 0
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment,
         |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT),
         |    '$C17Date0', '$C17Date1'
         |  FROM customer WHERE c_custkey % $C17ChangeMod = 0
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment,
         |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) + $C17DeltaCents,
         |    '$C17Date1', '$C17HighDate'
         |  FROM customer WHERE c_custkey % $C17ChangeMod = 0),
         |facts AS (
         |  SELECT o_orderkey, o_custkey,
         |    CAST(DATE '$C17Date0'
         |      + CAST(o_orderkey % 365 AS INTEGER) AS VARCHAR) AS d
         |  FROM orders)
         |SELECT c_mktsegment, valid_from,
         |  CAST(count(*) AS BIGINT) AS n_orders,
         |  CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents,
         |  CAST(sum(o_custkey) AS BIGINT) AS sum_custkey
         |FROM facts JOIN hist ON o_custkey = c_custkey
         |  AND valid_from <= d AND d < valid_to
         |GROUP BY c_mktsegment, valid_from
         |ORDER BY c_mktsegment, valid_from""".stripMargin,
    // the maintained history must equal the directly-derived SCD2
    // history of the two batches — exact integers and date strings
    "c17_scd2" ->
      s"""WITH mx AS (SELECT max(c_custkey) AS mxid FROM customer),
         |base AS (SELECT c_custkey, c_mktsegment,
         |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents
         |  FROM customer)
         |SELECT c_custkey, c_mktsegment, bal_cents,
         |  valid_from, valid_to,
         |  valid_to = '$C17HighDate' AS is_current
         |FROM (
         |  SELECT c_custkey, c_mktsegment, bal_cents,
         |    '$C17Date0' AS valid_from, '$C17HighDate' AS valid_to
         |  FROM base WHERE c_custkey % $C17ChangeMod <> 0
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment, bal_cents,
         |    '$C17Date0', '$C17Date1'
         |  FROM base WHERE c_custkey % $C17ChangeMod = 0
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment, bal_cents + $C17DeltaCents,
         |    '$C17Date1', '$C17HighDate'
         |  FROM base WHERE c_custkey % $C17ChangeMod = 0
         |  UNION ALL
         |  SELECT c_custkey + mxid + 1, c_mktsegment, bal_cents,
         |    '$C17Date1', '$C17HighDate'
         |  FROM base, mx WHERE c_custkey % $C17NewMod = 0
         |) ORDER BY c_custkey, valid_from""".stripMargin,
    // compaction is pure layout: the compacted table's audit equals
    // the raw events aggregates
    "c16_compact_shards" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  ${Exact.sqlDsum("value")} AS sum_value
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the erased table's audit must equal the source minus the forget
    // list — erasure end state, not mechanics
    "c15_forget_keys" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  ${Exact.sqlDsum("value")} AS sum_value
         |FROM events WHERE user_id % $C15ForgetMod <> 0
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the applied table must equal the independently-derived v2
    // snapshot — the merge's end state, not its mechanics
    "c13_apply_diff" ->
      s"""WITH mx AS (SELECT max(doc_id) AS mxid FROM documents),
         |v2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % $C12ChangeMod = 0 THEN text || ' [rev2]'
         |         ELSE text END AS text
         |  FROM documents WHERE doc_id % $C12DropMod <> 0
         |  UNION ALL
         |  SELECT doc_id + mxid + 1 AS doc_id, text
         |  FROM documents CROSS JOIN mx WHERE doc_id % $C12AddMod = 0)
         |SELECT doc_id, md5(text) AS h FROM v2 ORDER BY doc_id""".stripMargin,
    // v2 is reproduced from documents by the same deterministic
    // derivation the staging wrote; md5 hex agrees across engines
    "c12_snapshot_diff" ->
      s"""WITH $sqlV2Ctes
         |SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         |  CASE WHEN a.doc_id IS NULL THEN 'added'
         |       WHEN b.doc_id IS NULL THEN 'removed'
         |       WHEN md5(a.text) IS DISTINCT FROM md5(b.text)
         |         THEN 'changed'
         |       ELSE 'unchanged' END AS status
         |FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
         |ORDER BY doc_id""".stripMargin,
    // same md5-byte bucketing, same Laplace-smoothed integer affinity
    // ratio, same md5-bucket Bernoulli — pure integer arithmetic
    // throughout (DuckDB's HUGEINT intermediates collapse back to the
    // same BIGINT values Spark computes; all counts are positive and
    // far under 2^63)
    "c9_dsir_select" ->
      s"""WITH t AS (
         |  SELECT doc_id, lang, ${sqlC9Bucket("word")} AS b FROM (
         |    SELECT doc_id, lang,
         |      unnest(string_split(text, ' ')) AS word
         |    FROM documents) raw
         |  WHERE word <> ''),
         |bk AS (
         |  SELECT b, count(*) AS src_c,
         |    count(*) FILTER (WHERE lang = '$C9TargetLang') AS tgt_c
         |  FROM t GROUP BY b),
         |tot AS (SELECT CAST(sum(src_c) AS BIGINT) AS s_tot,
         |               CAST(sum(tgt_c) AS BIGINT) AS t_tot FROM bk),
         |aff AS (
         |  SELECT b, ((tgt_c + 1) * (s_tot + $C9Buckets) * $C9Scale) //
         |    ((src_c + 1) * (t_tot + $C9Buckets)) AS a
         |  FROM bk CROSS JOIN tot),
         |db AS (
         |  SELECT doc_id, lang, b, count(*) AS c FROM t
         |  GROUP BY doc_id, lang, b),
         |sc AS (
         |  SELECT doc_id, lang,
         |    sum(c * a) AS w,
         |    CAST(sum(c) AS BIGINT) AS dl
         |  FROM db JOIN aff USING (b) GROUP BY doc_id, lang)
         |SELECT doc_id, lang,
         |  CAST(w // dl AS BIGINT) AS score_10k,
         |  CAST(least($C9Scale, w // ($C9BaseDen * dl)) AS INTEGER)
         |    AS accept_buckets,
         |  CAST(CASE WHEN ${TextAnalysis.sqlBucketMod("doc_id", 10000)} <
         |    least($C9Scale, w // ($C9BaseDen * dl)) THEN 1 ELSE 0 END
         |    AS INTEGER) AS is_selected
         |FROM sc ORDER BY doc_id""".stripMargin,
    // same recursive-CTE membership as d8, same md5-bucket arithmetic
    // as t5/c5 applied to the cluster id; integers and strings only
    "c8_split_leakfree" ->
      s"""${Dedup.sqlClusterCtes},
         |b AS (
         |  SELECT doc_id, cluster_id,
         |    ${TextAnalysis.sqlBucketMod("cluster_id", C8SplitBuckets)}
         |      AS bucket
         |  FROM clus)
         |SELECT doc_id, cluster_id, bucket,
         |  CASE WHEN bucket < $C8TrainBuckets THEN 'train'
         |    WHEN bucket = $C8TrainBuckets THEN 'val'
         |    ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    // same whitespace token count as t3, same shard arithmetic, same
    // exclusive running sum; seq_id is integer division in both engines
    "c6_pack_sequences" ->
      s"""WITH tok AS (
         |  SELECT doc_id,
         |    CAST(len(${TextOps.sqlToksOf("text")}) AS INTEGER) AS n_tok,
         |    CAST(doc_id % $C6PackShards AS INTEGER) AS shard
         |  FROM documents),
         |cum AS (
         |  SELECT doc_id, shard, n_tok,
         |    COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS cum_excl
         |  FROM tok)
         |SELECT doc_id, shard, n_tok,
         |  CAST(cum_excl // $C6PackBudget AS INTEGER) AS seq_id
         |FROM cum ORDER BY doc_id""".stripMargin,
    // the keep_frac arithmetic is division → sqrt → multiply → floor,
    // every step IEEE correctly-rounded in both engines, so the INTEGER
    // keep_buckets (and hence membership) is bit-identical; the gate
    // itself compares only integers/strings
    "c5_mixture_sample" ->
      s"""WITH counts AS (
         |  SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
         |nmax AS (SELECT max(n_docs) AS n_max FROM counts),
         |thr AS (
         |  SELECT lang, CAST(floor(least(CAST(1.0 AS DOUBLE),
         |      $C5BaseFrac * sqrt(CAST(n_max AS DOUBLE)
         |        / CAST(n_docs AS DOUBLE))) * $C5Buckets) AS INTEGER)
         |    AS keep_buckets
         |  FROM counts, nmax)
         |SELECT d.doc_id, d.lang, t.keep_buckets
         |FROM documents d JOIN thr t ON t.lang = d.lang
         |WHERE ${TextAnalysis.sqlBucketMod("d.doc_id", C5Buckets)}
         |  < t.keep_buckets
         |ORDER BY d.doc_id""".stripMargin,
    "c4_curation_full" ->
      s"""${Dedup.sqlClusterCtes},
         |m4 AS (SELECT doc_id,
         |    CAST(len(toks) AS INTEGER) AS n_tok,
         |    CAST(len(list_filter(toks,
         |      t -> t IN (${TextAnalysis.sqlStopList}))) AS BIGINT) AS n_stop
         |  FROM tok_t),
         |q4 AS (SELECT doc_id,
         |    ${TextAnalysis.sqlScore("n_stop", "n_tok")} AS score
         |  FROM m4),
         |${Dedup.sqlD9Ctes},
         |${sqlSizedCte("q4")},
         |c2keep AS (SELECT doc_id FROM sized
         |  WHERE rk = 1 AND cluster_size <= $MaxClusterSize),
         |survivors AS (
         |  SELECT d.doc_id, d.source, q4.score
         |  FROM documents d JOIN q4 ON q4.doc_id = d.doc_id
         |  WHERE ${TextAnalysis.sqlSampleBucket("d.doc_id")}
         |      >= ${Dedup.D9BenchPct}
         |    AND q4.score >= $QualityMin
         |    AND d.doc_id IN (SELECT doc_id FROM c2keep)
         |    AND d.doc_id NOT IN (SELECT doc_id FROM d9over)),
         |ranked4 AS (SELECT doc_id, source, score,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id) AS src_rank
         |  FROM survivors)
         |SELECT doc_id, source, score, CAST(src_rank AS INTEGER)
         |    AS src_rank
         |FROM ranked4 WHERE src_rank <= $C3PerSourceCap
         |ORDER BY source, src_rank""".stripMargin,
    "c30_curation_v2" ->
      s"""$c30OracleCtes
         |SELECT doc_id, lang, source, score_micro
         |FROM f7 WHERE s7 ORDER BY doc_id""".stripMargin,
    "c30_report" ->
      s"""$c30OracleCtes,
         |cnt AS (SELECT
         |    CAST(count(*) AS BIGINT) AS n_in,
         |    CAST(count(*) FILTER (s1) AS BIGINT) AS n1,
         |    CAST(count(*) FILTER (s1 AND chg) AS BIGINT) AS nchg,
         |    CAST(count(*) FILTER (s3) AS BIGINT) AS n3,
         |    CAST(count(*) FILTER (s4) AS BIGINT) AS n4,
         |    CAST(count(*) FILTER (s5) AS BIGINT) AS n5,
         |    CAST(count(*) FILTER (s6) AS BIGINT) AS n6,
         |    CAST(count(*) FILTER (s7) AS BIGINT) AS n7
         |  FROM f7)
         |SELECT stage_id, stage, rows_in, rows_out,
         |  rows_in - rows_out AS rows_dropped, rows_changed
         |FROM (
         |  SELECT CAST(1 AS INTEGER) AS stage_id, 'url_dedup' AS stage,
         |    n_in AS rows_in, n1 AS rows_out, CAST(0 AS BIGINT)
         |      AS rows_changed FROM cnt
         |  UNION ALL SELECT 2, 'normalize', n1, n1, nchg FROM cnt
         |  UNION ALL SELECT 3, 'gopher_rules', n1, n3,
         |    CAST(0 AS BIGINT) FROM cnt
         |  UNION ALL SELECT 4, 'quality_cut', n3, n4,
         |    CAST(0 AS BIGINT) FROM cnt
         |  UNION ALL SELECT 5, 'cluster_dedup', n4, n5,
         |    CAST(0 AS BIGINT) FROM cnt
         |  UNION ALL SELECT 6, 'decontaminate', n5, n6,
         |    CAST(0 AS BIGINT) FROM cnt
         |  UNION ALL SELECT 7, 'lang_mix', n6, n7,
         |    CAST(0 AS BIGINT) FROM cnt)
         |ORDER BY stage_id""".stripMargin,
    "c4_report" ->
      s"""${Dedup.sqlClusterCtes},
         |m4 AS (SELECT doc_id,
         |    CAST(len(toks) AS INTEGER) AS n_tok,
         |    CAST(len(list_filter(toks,
         |      t -> t IN (${TextAnalysis.sqlStopList}))) AS BIGINT) AS n_stop
         |  FROM tok_t),
         |q4 AS (SELECT doc_id,
         |    ${TextAnalysis.sqlScore("n_stop", "n_tok")} AS score
         |  FROM m4),
         |${Dedup.sqlD9Ctes},
         |${sqlSizedCte("q4")},
         |c2keep AS (SELECT doc_id FROM sized
         |  WHERE rk = 1 AND cluster_size <= $MaxClusterSize),
         |flags AS (
         |  SELECT d.doc_id, d.source, q4.score,
         |    (${TextAnalysis.sqlSampleBucket("d.doc_id")}
         |      >= ${Dedup.D9BenchPct}) AS p0,
         |    (${TextAnalysis.sqlSampleBucket("d.doc_id")}
         |      >= ${Dedup.D9BenchPct} AND q4.score >= $QualityMin) AS p1
         |  FROM documents d JOIN q4 ON q4.doc_id = d.doc_id),
         |flags2 AS (
         |  SELECT *, (p1 AND doc_id IN (SELECT doc_id FROM c2keep)) AS p2
         |  FROM flags),
         |flags3 AS (
         |  SELECT *, (p2 AND doc_id NOT IN (SELECT doc_id FROM d9over))
         |    AS p3
         |  FROM flags2),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY source, p3
         |    ORDER BY score DESC, doc_id) AS rk
         |  FROM flags3),
         |counts AS (SELECT
         |    count(*) AS n_in,
         |    count(*) FILTER (p0) AS n0,
         |    count(*) FILTER (p1) AS n1,
         |    count(*) FILTER (p2) AS n2,
         |    count(*) FILTER (p3) AS n3,
         |    count(*) FILTER (p3 AND rk <= $C3PerSourceCap) AS n4
         |  FROM ranked)
         |SELECT stage_id, stage, rows_in, rows_out,
         |  rows_in - rows_out AS rows_dropped
         |FROM (
         |  SELECT CAST(1 AS INTEGER) AS stage_id,
         |    'bench_holdout' AS stage, n_in AS rows_in, n0 AS rows_out
         |  FROM counts
         |  UNION ALL SELECT 2, 'quality_floor', n0, n1 FROM counts
         |  UNION ALL SELECT 3, 'cluster_dedup', n1, n2 FROM counts
         |  UNION ALL SELECT 4, 'decontaminate', n2, n3 FROM counts
         |  UNION ALL SELECT 5, 'source_cap', n3, n4 FROM counts)
         |ORDER BY stage_id""".stripMargin,
    "c3_source_cap" ->
      s"""WITH norm_t AS (
         |  SELECT doc_id, source, ${TextOps.sqlNormText} AS norm
         |  FROM documents),
         |tok_t AS (SELECT *, ${TextOps.sqlToks} AS toks FROM norm_t),
         |m AS (SELECT doc_id, source,
         |    CAST(len(toks) AS INTEGER) AS n_tok,
         |    CAST(len(list_filter(toks,
         |      t -> t IN (${TextAnalysis.sqlStopList}))) AS BIGINT) AS n_stop
         |  FROM tok_t),
         |q AS (SELECT doc_id, source,
         |    ${TextAnalysis.sqlScore("n_stop", "n_tok")} AS score
         |  FROM m),
         |ranked AS (SELECT doc_id, source, score,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id) AS src_rank
         |  FROM q)
         |SELECT doc_id, source, score, CAST(src_rank AS INTEGER)
         |    AS src_rank
         |FROM ranked WHERE src_rank <= $C3PerSourceCap
         |ORDER BY source, src_rank""".stripMargin,
    "c2_cluster_curation" ->
      s"""${Dedup.sqlClusterCtes},
         |m AS (SELECT doc_id,
         |    CAST(len(toks) AS INTEGER) AS n_tok,
         |    CAST(len(list_filter(toks,
         |      t -> t IN (${TextAnalysis.sqlStopList}))) AS BIGINT) AS n_stop
         |  FROM tok_t),
         |q AS (SELECT doc_id, ${TextAnalysis.sqlScore("n_stop", "n_tok")}
         |    AS score
         |  FROM m),
         |${sqlSizedCte("q")}
         |SELECT doc_id, cluster_id, CAST(cluster_size AS BIGINT)
         |    AS cluster_size, score
         |FROM sized WHERE rk = 1 AND cluster_size <= $MaxClusterSize
         |ORDER BY doc_id""".stripMargin,
    // single-level GROUP BY in SQL ≡ Spark's two-level spelling (sum of
    // per-(lang,hash) partial counts = count; distinct over the
    // collapsed frame = distinct); every measure cast to BIGINT so
    // DuckDB's HUGEINT sums don't dtype-mismatch Spark's longs
    "c7_dataset_card" ->
      s"""WITH norm_t AS (
         |  SELECT *, ${TextOps.sqlNormText} AS norm FROM documents),
         |tok_t AS (SELECT *, ${TextOps.sqlToks} AS toks FROM norm_t),
         |m AS (SELECT doc_id, source, lang, n_chars, md5(norm) AS h,
         |    len(${TextOps.sqlToksOf("text")}) AS ws_tokens,
         |    CAST(len(toks) AS INTEGER) AS n_tok,
         |    CAST(len(list_filter(toks,
         |      t -> t IN (${TextAnalysis.sqlStopList}))) AS BIGINT) AS n_stop
         |  FROM tok_t),
         |q AS (SELECT *, ${TextAnalysis.sqlScore("n_stop", "n_tok")} AS score
         |  FROM m)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT h) AS BIGINT) AS n_distinct_texts,
         |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
         |  CAST(count(*) FILTER (score < $QualityMin) AS BIGINT)
         |    AS n_low_quality
         |FROM q GROUP BY source ORDER BY source""".stripMargin,
    // ONE global row_number over the same md5 order — hash-equality
    // proves Spark's two-phase bucket enumeration ≡ the global sort
    "c23_train_order" ->
      s"""WITH k AS (
         |  SELECT doc_id,
         |    md5('$C23Seed' || CAST(doc_id AS VARCHAR)) AS okey
         |  FROM documents),
         |r AS (
         |  SELECT doc_id, okey,
         |    row_number() OVER (ORDER BY okey, doc_id) AS pos
         |  FROM k)
         |SELECT doc_id, okey, CAST(pos AS BIGINT) AS pos,
         |  CAST((pos - 1) // $C23BatchSize AS BIGINT) AS batch_id
         |FROM r ORDER BY pos""".stripMargin,
    // same rank arithmetic: cum·B >= i·n over the per-column value
    // histogram, fences via a generated bucket axis
    "c29_analyze" -> c29OracleSql,
    "c27_histograms" ->
      s"""WITH v AS (
         |  SELECT 'l_quantity' AS col_name,
         |    CAST(l_quantity AS BIGINT) AS u FROM lineitem
         |  UNION ALL
         |  SELECT 'l_extendedprice' AS col_name,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS u
         |  FROM lineitem),
         |h AS (SELECT col_name, u, CAST(count(*) AS BIGINT) AS c
         |  FROM v GROUP BY 1, 2),
         |cq AS (
         |  SELECT col_name, u, c,
         |    sum(c) OVER (PARTITION BY col_name ORDER BY u
         |      ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(c) OVER (PARTITION BY col_name) AS n
         |  FROM h),
         |bx AS (SELECT CAST(unnest(generate_series(1, $C27Buckets))
         |  AS BIGINT) AS bucket)
         |SELECT col_name, bucket,
         |  CAST(min(CASE WHEN cum * $C27Buckets >= bucket * n THEN u END)
         |    AS BIGINT) AS ub,
         |  CAST(max(n) AS BIGINT) AS n_rows
         |FROM cq CROSS JOIN bx
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // per-column register replay via the shared HLL generator keyed
    // on col_name; plain SQL stats joined alongside
    "c26_table_stats" -> {
      val hashedUnion = C26Cols.flatMap { case (tbl, cols) =>
        cols.map { case (n, _, duck) =>
          s"""SELECT '$tbl.$n' AS col_name,
             |    ${Relational.sqlHash32(duck)} AS h
             |  FROM $tbl WHERE ($duck) IS NOT NULL""".stripMargin }
      }.mkString("\n  UNION ALL\n  ")
      val statsUnion = C26Cols.flatMap { case (tbl, cols) =>
        cols.map { case (n, _, duck) =>
          s"""SELECT '$tbl' AS tbl, '$tbl.$n' AS col_name,
             |    CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(sum(CASE WHEN u IS NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_nulls,
             |    CAST(min(u) AS BIGINT) AS min_u,
             |    CAST(max(u) AS BIGINT) AS max_u
             |  FROM (SELECT ($duck) AS u FROM $tbl)""".stripMargin }
      }.mkString("\n  UNION ALL\n  ")
      val sketchSql = Relational.hllOracleSqlKeyed(Seq("col_name"),
        s"SELECT col_name, h FROM (\n  $hashedUnion)",
        withMerge = false)
      // LEFT join + empty-sketch identity: a column with zero hashed
      // values has no register rows, so its sketch is the constants
      // (v_empty = m, s_scaled = m·2^(w+1), est = 0)
      s"""SELECT st.tbl, st.col_name, st.n_rows, st.n_nulls,
         |  COALESCE(sk.v_empty, ${Relational.HllM}) AS v_empty,
         |  COALESCE(sk.s_scaled, CAST(${Relational.HllM.toLong *
            (1L << (Relational.HllWBits + 1))} AS BIGINT)) AS s_scaled,
         |  COALESCE(sk.hll_est, CAST(0 AS BIGINT)) AS hll_est,
         |  st.min_u, st.max_u
         |FROM ($statsUnion) st
         |LEFT JOIN ($sketchSql) sk USING (col_name)
         |ORDER BY st.col_name""".stripMargin
    },
    // the t17 trainer + terciles replayed via the shared CTEs, then
    // the curriculum order as ONE global row_number — proving the
    // composite two-phase enumeration ≡ the global sort
    "c25_curriculum" ->
      s"""WITH ${TextAnalysis.sqlT17Ctes},
         |ck AS (
         |  SELECT doc_id, ppl_bucket,
         |    CASE ppl_bucket WHEN 'head' THEN 0
         |      WHEN 'middle' THEN 1 ELSE 2 END AS br,
         |    md5('$C25Seed' || CAST(doc_id AS VARCHAR)) AS okey
         |  FROM t17q),
         |r AS (
         |  SELECT doc_id, ppl_bucket,
         |    row_number() OVER (ORDER BY br, okey, doc_id) AS pos
         |  FROM ck)
         |SELECT doc_id, ppl_bucket, CAST(pos AS BIGINT) AS pos,
         |  CAST((pos - 1) // $C23BatchSize AS BIGINT) AS batch_id
         |FROM r ORDER BY pos""".stripMargin,
    // the same score spelling as c1/t2, scaled to micro-units by the
    // shared half-up floor; ranks found on the histogram, as in Spark
    "c22_quantile_filter" ->
      s"""WITH norm_t AS (
         |  SELECT doc_id, source, ${TextOps.sqlNormText} AS norm
         |  FROM documents),
         |tok_t AS (SELECT *, ${TextOps.sqlToks} AS toks FROM norm_t),
         |m AS (SELECT doc_id, source,
         |    CAST(len(toks) AS INTEGER) AS n_tok,
         |    CAST(len(list_filter(toks,
         |      t -> t IN (${TextAnalysis.sqlStopList}))) AS BIGINT) AS n_stop
         |  FROM tok_t),
         |q AS (SELECT doc_id, source,
         |    ${c22ScoreUnitsSql(TextAnalysis.sqlScore("n_stop", "n_tok"))}
         |      AS score_u
         |  FROM m),
         |hist AS (SELECT source, score_u, CAST(count(*) AS BIGINT) AS c
         |  FROM q GROUP BY source, score_u),
         |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src
         |  FROM q GROUP BY source),
         |thr AS (
         |  SELECT source, max(score_u) AS thr_u
         |  FROM (SELECT source, score_u,
         |      sum(c) OVER (PARTITION BY source ORDER BY score_u DESC
         |        ROWS UNBOUNDED PRECEDING) AS cum_ge
         |    FROM hist) JOIN tot USING (source)
         |  WHERE cum_ge >= (n_src + ${C22KeepDen - 1}) // $C22KeepDen
         |  GROUP BY source)
         |SELECT doc_id, source, score_u, thr_u
         |FROM q JOIN thr USING (source)
         |WHERE score_u >= thr_u
         |ORDER BY doc_id""".stripMargin,
    "c1_curation_pipeline" ->
      s"""${Dedup.sqlConfirmedCtes},
         |m AS (SELECT doc_id, lang,
         |    CAST(len(toks) AS INTEGER) AS n_tok,
         |    CAST(len(list_filter(toks,
         |      t -> t IN (${TextAnalysis.sqlStopList}))) AS BIGINT) AS n_stop
         |  FROM tok_t),
         |q AS (SELECT doc_id, lang,
         |    ${TextAnalysis.sqlScore("n_stop", "n_tok")} AS score
         |  FROM m)
         |SELECT doc_id, lang, score FROM q
         |WHERE score >= $QualityMin
         |  AND doc_id NOT IN (
         |    SELECT doc_b FROM confirmed
         |    WHERE jaccard >= ${Dedup.KeepMinJaccard})
         |  AND ${TextAnalysis.sqlSampleBucket("doc_id")}
         |      < ${TextAnalysis.SamplePct}
         |ORDER BY doc_id""".stripMargin,
  )

  // ------------------------------------------ c28 shard-admission composite

  /** c28 shard derivation: every [[C28Mod]]th doc THAT HAS AN EMBEDDING
    * (doc_id joins vec_id — the s5 alignment), re-keyed past BOTH
    * tables' max so the d11 and d12 admission contracts (shard ids
    * exceed corpus ids) hold simultaneously. Two independent planted
    * bits make all four screen combinations occur:
    * text bit (doc_id div [[C28Mod]]) % 2 — 0 = exact copy (the
    * signature screen must reject), 1 = reversed (novel shingles);
    * vector bit (doc_id div 2·[[C28Mod]]) % 2 — 0 = copied embedding
    * (the semantic screen must reject: cosine with its source is the
    * self-cosine, ≥ τ), 1 = negated (survives except against the
    * corpus's ≤ −τ tail). Deterministic, so the oracle derives the
    * identical shard in SQL. */
  val C28Mod = 6

  /** The staged c28 shard (doc_id, text, embedding) — fingerprint-keyed
    * on BOTH source tables, staged once ([[graft.Artifacts.staged]]);
    * the unit is `shard.parquet` alone, beside c28's per-call
    * `indexed/` tree. */
  def c28ShardPath(s: SparkSession, dir: String): String =
    // full fingerprints, never a 32-bit hash of them: a hashCode
    // collision across corpora would silently reuse a stale shard
    graft.Artifacts.staged(s, graft.Artifacts.stagedDir("admitshard",
        s"${Tables.fingerprint(s, dir, "documents")}_" +
          Tables.fingerprint(s, dir, "embeddings"), "shard.parquet")) { out =>
      val docs = Tables.documents(s, dir)
      val vecs = Tables.embeddings(s, dir)
      val m = math.max(
        docs.agg(max(col("doc_id"))).head().getLong(0),
        vecs.agg(max(col("vec_id"))).head().getLong(0))
      docs.filter(col("doc_id") % C28Mod === 0)
        .join(vecs, col("vec_id") === col("doc_id"))
        .select(
          (col("doc_id") + m + 1).as("doc_id"),
          when(expr(s"(doc_id div $C28Mod) % 2") === 0, col("text"))
            .otherwise(reverse(col("text"))).as("text"),
          when(expr(s"(doc_id div ${2 * C28Mod}) % 2") === 0,
            col("embedding"))
            .otherwise(expr("transform(embedding, x -> CAST(-x AS FLOAT))"))
            .as("embedding"))
        .write.parquet(out)
    }

  /** c28: END-TO-END SHARD ADMISSION — the c1 composition discipline
    * applied to the incremental family: ONE staged shard runs the
    * d11 signature screen (persisted band index, [[Dedup.d11Admit]]),
    * the d12 semantic screen (frozen quantizer, cell-pruned corpus
    * side, [[Similarity.d12Admit]]), and the s8 physical admit
    * ([[Similarity.s8WriteAssigned]] of exactly the intersection into
    * a cell-partitioned tree). The output row per shard doc is
    * (doc_id, cell, sig_ok, sem_ok, indexed) with `indexed` READ BACK
    * from the written tree — the oracle recomputes both screens as
    * full recomputes on the union (each stage's own oracle shape) and
    * `indexed` as their conjunction, so the gate hash-proves the
    * physical write landed exactly the docs both screens admitted.
    * CurationSpec asserts the composite equals the three stages run
    * separately and that all four (sig, sem) combinations occur.
    *
    * Scale shape: inherits each stage's admission contract — zero
    * corpus-sized work (broadcast band probe, cell-pruned index read,
    * partitioned append ∝ admitted shard). */
  def c28AdmitShard(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "curation.c28") { sc =>
      val shardPath = c28ShardPath(s, dir)
      val shard = sc.cut(Tables.parquet(s, shardPath))
      val sig = Dedup.d11Admit(sc, dir, shard.select("doc_id", "text"))
        .select(col("doc_id"), col("is_new_unique").as("sig_ok"))
      val sem = Similarity.d12Admit(sc, dir,
          shard.select(col("doc_id").as("vec_id"), col("embedding")))
        .select(col("vec_id").as("doc_id"), col("cell"),
          col("is_new_unique").as("sem_ok"))
      // shard-sized (one row per shard doc); TWO consumers — the physical
      // admit below and the final read-back join — so materialize the two
      // screen probes once instead of re-running both per consumer.
      val verdicts = sc.cut(sig.join(sem, "doc_id"))
      val admitted = verdicts
        .filter(col("sig_ok") === 1 && col("sem_ok") === 1)
        .select(col("doc_id").as("vec_id"))
        .join(shard.select(col("doc_id").as("vec_id"), col("embedding")),
          Seq("vec_id"))
      val outPath = new org.apache.hadoop.fs.Path(shardPath)
        .getParent.toString + "/indexed"
      Similarity.s8WriteAssigned(s, dir, admitted, outPath)
      // explicit schema: a corpus whose semantic tail rejects the WHOLE
      // shard (legitimate — e.g. every negated vector collides) leaves a
      // zero-partition tree that schema inference cannot read
      val indexed = s.read
        .schema("vec_id LONG, embedding ARRAY<FLOAT>, cell INT")
        .parquet(outPath)
        .select(col("vec_id").as("doc_id"), lit(1).as("ix"))
      verdicts.join(indexed, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cell").cast("int").as("cell"),
          col("sig_ok"), col("sem_ok"),
          coalesce(col("ix"), lit(0)).cast("int").as("indexed"))
        .orderBy("doc_id")
    }

  /** DuckDB mirror of [[c28AdmitShard]]: the d11 full-union text
    * recompute AND the d12 full-union semantic recompute (trained
    * centroids inlined), joined on the SQL-derived shard; `indexed` =
    * the conjunction. */
  private[graft] def c28OracleSql(cent: Array[Array[Float]]): String = {
    val unionChain = Dedup.sqlConfirmedCtes.stripPrefix("WITH ")
      .replace("FROM documents", "FROM udocs")
    s"""WITH mxx AS (
       |  SELECT greatest((SELECT max(doc_id) FROM documents),
       |    (SELECT max(vec_id) FROM embeddings)) AS m),
       |shard AS (
       |  SELECT d.doc_id + mxx.m + 1 AS doc_id,
       |    CASE WHEN (d.doc_id // $C28Mod) % 2 = 0 THEN d.text
       |      ELSE reverse(d.text) END AS text,
       |    CASE WHEN (d.doc_id // ${2 * C28Mod}) % 2 = 0 THEN e.embedding
       |      ELSE list_transform(e.embedding, x -> CAST(-x AS FLOAT))
       |      END AS embedding
       |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
       |  CROSS JOIN mxx
       |  WHERE d.doc_id % $C28Mod = 0),
       |udocs AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id, text FROM shard),
       |$unionChain,
       |sigq AS (
       |  SELECT s.doc_id,
       |    CASE WHEN EXISTS (SELECT 1 FROM confirmed c
       |      WHERE c.doc_b = s.doc_id
       |        AND c.jaccard >= ${Dedup.KeepMinJaccard})
       |      THEN 0 ELSE 1 END AS sig_ok
       |  FROM shard s),
       |uvecs AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL SELECT doc_id AS vec_id, embedding FROM shard),
       |${Similarity.sqlRankedCells(cent, "uvecs")},
       |cells AS (
       |  SELECT vec_id, embedding, cid AS cell FROM ranked_cells
       |  WHERE crnk = 1),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id
       |  FROM cells x JOIN cells y
       |    ON x.cell = y.cell AND x.vec_id < y.vec_id
       |  WHERE ${VectorOps.sqlCosine("x.embedding", "y.embedding")}
       |    >= ${Similarity.D10Tau}),
       |sem AS (
       |  SELECT s.doc_id, c.cell,
       |    CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS sem_ok
       |  FROM shard s JOIN cells c ON c.vec_id = s.doc_id
       |  LEFT JOIN dropped d ON d.vec_id = s.doc_id)
       |SELECT sigq.doc_id, CAST(sem.cell AS INTEGER) AS cell,
       |  CAST(sigq.sig_ok AS INTEGER) AS sig_ok,
       |  CAST(sem.sem_ok AS INTEGER) AS sem_ok,
       |  CAST(sigq.sig_ok * sem.sem_ok AS INTEGER) AS indexed
       |FROM sigq JOIN sem ON sem.doc_id = sigq.doc_id
       |ORDER BY sigq.doc_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c1_curation_pipeline" -> c1CurationPipeline,
    "c2_cluster_curation" -> c2ClusterCuration,
    "c3_source_cap" -> c3SourceCap,
    "c4_curation_full" -> c4CurationFull,
    "c4_report" -> c4Report,
    "c30_curation_v2" -> c30CurationV2,
    "c30_report" -> c30Report,
    "c5_mixture_sample" -> c5MixtureSample,
    "c6_pack_sequences" -> c6PackSequences,
    "c7_dataset_card" -> c7DatasetCard,
    "c8_split_leakfree" -> c8SplitLeakfree,
    "c9_dsir_select" -> c9DsirSelect,
    "c28_admit_shard" -> c28AdmitShard, // oracle: centroids inlined
      // (Similarity.oracleFor carries it — the screen needs the
      // trained quantizer)
    "c12_snapshot_diff" -> c12SnapshotDiff,
    "c13_apply_diff" -> c13ApplyDiff,
    "c15_forget_keys" -> c15ForgetKeys,
    "c16_compact_shards" -> c16CompactShards,
    "c17_scd2" -> c17Scd2,
    "c21_pit_lookup" -> c21PitLookup,
    "c22_quantile_filter" -> c22QuantileFilter,
    "c23_train_order" -> c23TrainOrder,
    "c25_curriculum" -> c25Curriculum,
    "c26_table_stats" -> c26TableStats,
    "c27_histograms" -> c27Histograms,
    "c29_analyze" -> c29Analyze,
    "c18_expectations" -> c18Expectations,
    "c20_incremental_mv" -> c20IncrementalMv,
    "c31_epoch_plan" -> c31EpochPlan,
  )
}
