package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** t15: trained QUALITY CLASSIFIER over hashed bag-of-words features —
  * the learned quality filter every production LLM corpus ships in
  * front of (GPT-3's WebText LR filter, LLaMA/CCNet's fastText,
  * DCLM-baseline's fastText): distill a cheap weak label into a
  * classifier over features the labeler never sees, then score the
  * whole corpus with the trained model. The reference's closest
  * semantic is the heuristic quality gate feeding its curation DAG
  * (the t2 score is the repo's port of it); t15 is the LEARNED stage
  * production pipelines put behind that heuristic.
  *
  * Model: multinomial Naive Bayes with Laplace +1 smoothing over
  * [[ClfBuckets]] hashed unigram buckets (the hashing trick — fixed
  * feature dimension at any vocabulary, the fastText embedding-bag
  * analogue). NB is chosen over iterative trainers deliberately:
  * training is ONE combinable count aggregation — the only trainer
  * whose cost at 100 TB is exactly one map-side-combined pass, no
  * epochs, no driver loop (a batch perceptron was prototyped and
  * REJECTED: full-batch updates oscillate between all-positive and
  * all-negative predictions on this corpus — measured ~50% accuracy
  * flip-flopping across epochs, vs 89–98% for NB at the three SFs).
  *
  * Weak label (the supervision signal, computed identically in both
  * engines): y = 1 iff [[ClfStopFactor]]·n_stop ≥ n_tok over the
  * shared stopword list — stopword density is the classic
  * natural-language-vs-junk signal (CCNet uses the same family). The
  * classifier does NOT see the stopword list; it learns which of the
  * 128 hash buckets correlate with the label (measured accuracy vs
  * majority-class baseline: 0.89 vs 0.53 at sf0.001, 0.98 vs 0.51 at
  * sf0.1 — asserted in ClassifierSpec).
  *
  * Cross-engine exactness (the s4-BM25 discipline): the gate's only
  * transcendental is `ln`, whose libm-vs-JVM 1-ulp skew is absorbed
  * by rounding the log-likelihood-ratio to INTEGER MICRO-UNITS the
  * moment it is born ([[llrSql]], spelled ONCE and parsed by both
  * engines); everything downstream — per-token weight lookups, the
  * per-doc sum, the prior — is order-free Long arithmetic, so scores
  * are bit-identical however partials merge. Long headroom: |w_micro|
  * ≤ ~40e6 (a log-ratio of token masses), so a doc needs ~2·10¹¹
  * tokens to overflow a Long score — 400 GB of text in ONE row,
  * far past Spark's 2 GB string ceiling.
  *
  * Scale shape: TRAIN is one explode + groupBy(f) count with map-side
  * partials (≤ [[ClfBuckets]] rows out per partition — the q13
  * wordcount shuffle shape with a fixed-size key space), plus two
  * scalar aggregates; the collected model is ≤ 128+1 Longs — the
  * s3-centroids bounded-artifact collect, fingerprint-keyed per
  * corpus generation. SCORE is zero-shuffle: a scan-local
  * `aggregate(toks, …)` walk against the weight map inlined as a
  * literal (no join, no state) — the shape that lets the trained
  * model ride along any other corpus pass for free. The HOF
  * evaluates interpreted (the verify-skill gotcha); ClassifierSpec
  * pins it bit-equal to the codegen'd broadcast-join spelling
  * ([[t15ScoresJoinSpelling]]), the t11 kernel≡join pattern, so
  * either spelling can ship.
  */
object Classifier {
  /** Hashed-feature dimension (buckets of md5's first 16 bits). 128
    * keeps the trained artifact two cache lines while leaving the
    * 10-word stopword signal separable (measured: no accuracy gain at
    * 1024 on this corpus). */
  val ClfBuckets = 128

  /** Fixed-point scale: 1 weight unit = 1e-6 nats ("micro-nats"). */
  val ClfScale = 1000000L

  /** Weak-label threshold: y = 1 iff ClfStopFactor·n_stop ≥ n_tok
    * (stop-ratio ≥ 1/16 — the corpus median, so classes stay near
    * balanced at every SF; measured pos share 0.48–0.53). */
  val ClfStopFactor = 16

  /** Trained model: per-bucket integer micro-nat LLR weights + class
    * prior. `train` carries the full verifiable artifact (counts +
    * weight per observed bucket, ordered by bucket). */
  final case class ClfModel(
      weights: Map[Int, Long],
      priorMicro: Long,
      train: Seq[(Int, Long, Long, Long)])

  // ------------------------------------------------- shared spellings

  private def dbl(x: String) = s"CAST($x AS DOUBLE)"

  /** Laplace-smoothed log-likelihood ratio in integer micro-nats,
    * spelled ONCE and parsed by BOTH engines (the s4 bm25TermScoreSql
    * sharing pattern). Explicit DOUBLE casts keep Spark from parsing
    * bare literals as DECIMAL. */
  private def llrSql(cPos: String, cNeg: String,
      totPos: String, totNeg: String): String =
    s"CAST(round((ln((${dbl(cPos)} + ${dbl("1.0")}) / " +
      s"(${dbl(totPos)} + ${dbl(s"$ClfBuckets.0")})) - " +
      s"ln((${dbl(cNeg)} + ${dbl("1.0")}) / " +
      s"(${dbl(totNeg)} + ${dbl(s"$ClfBuckets.0")}))) * " +
      s"${dbl(s"$ClfScale.0")}, 0) AS BIGINT)"

  /** Class-prior log-ratio in micro-nats, same discipline. Shared with
    * the c30 composed-DAG oracle. */
  private[operators] def priorSql(dPos: String, dNeg: String): String =
    s"CAST(round((ln(${dbl(dPos)}) - ln(${dbl(dNeg)})) * " +
      s"${dbl(s"$ClfScale.0")}, 0) AS BIGINT)"

  // ------------------------------------------------------ Spark side

  /** documents + norm/toks + the weak label y — the shared head of
    * training and scoring. */
  private def labeled(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val stopCsv = Relational.stopwords.mkString(",")
    Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("y",
        when(lit(ClfStopFactor) * expr(s"count_in(toks, '$stopCsv')") >=
          size(col("toks")), 1).otherwise(0))
  }

  /** Hash bucket of a token — IDENTICAL spelling to training's
    * bucketMod so score-time lookups hit the trained keys. */
  private def bucket(t: Column): Column =
    TextAnalysis.bucketMod(t, ClfBuckets)

  /** The distributed trainer: per-bucket class-conditional token
    * counts (ONE combinable shuffle, ≤ [[ClfBuckets]] rows out) joined
    * with the broadcast class-mass scalars, weights born as integer
    * micro-nats. This frame IS the t15_clf_train gate entry. */
  private def weightsFrame(s: SparkSession, dir: String): DataFrame = {
    val tokf = labeled(s, dir)
      .select(col("doc_id"), col("y"), explode(col("toks")).as("tok"))
      .withColumn("f", bucket(col("tok")))
    val cnts = tokf.groupBy("f").agg(
      sum(when(col("y") === 1, 1L).otherwise(0L)).as("c_pos"),
      sum(when(col("y") === 0, 1L).otherwise(0L)).as("c_neg"))
    val tots = cnts.agg(sum("c_pos").as("tot_pos"),
      sum("c_neg").as("tot_neg"))
    cnts.crossJoin(broadcast(tots))
      .withColumn("w_micro",
        expr(llrSql("c_pos", "c_neg", "tot_pos", "tot_neg")))
      .select("f", "c_pos", "c_neg", "w_micro")
  }

  /** Train (or cache-hit) the model for a corpus: collect the
    * ≤ 128-row weight table and the prior — both bounded artifacts.
    * Fails loudly on a single-class corpus (a prior over zero docs is
    * a config error, not a NaN to propagate). The model is pure driver
    * data, held once per corpus generation per JVM. */
  private[graft] def modelFor(s: SparkSession, dir: String): ClfModel =
    graft.Artifacts.memo(graft.Artifacts.Jvm, "classifier.model",
        Tables.fingerprint(s, dir, "documents")) {
      val train = weightsFrame(s, dir).orderBy("f").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      val prior = labeled(s, dir)
        .agg(sum(col("y")).as("d_pos"),
          sum(lit(1) - col("y")).as("d_neg"))
        .filter(col("d_pos") > 0 && col("d_neg") > 0)
        .selectExpr(priorSql("d_pos", "d_neg") + " AS p")
        .collect()
      require(prior.nonEmpty,
        s"t15 classifier needs both label classes in $dir/documents — " +
          "a single-class corpus cannot train a prior")
      ClfModel(train.map(t => t._1 -> t._4).toMap,
        prior.head.getLong(0), train)
    }

  /** t15_clf_train: the trained artifact itself — per-bucket counts
    * and micro-nat weights. Runs the distributed trainer (not the
    * cache) so the bench measures training cost honestly. */
  def t15ClfTrain(s: SparkSession, dir: String): DataFrame =
    weightsFrame(s, dir).orderBy("f")

  /** t15_clf_scores: score every doc with the trained model —
    * zero-shuffle scan-local token walk (OOV buckets score 0; docs
    * with no tokens score exactly the prior) through the codegen'd
    * [[graft.functions.ClfScore]] kernel: one call per row, one md5
    * per token. The retired `aggregate(toks, …)` HOF spelling
    * evaluated INTERPRETED per token (the verify-skill gotcha) and is
    * kept as [[t15ScoresHofSpelling]], spec-pinned bit-identical. */
  def t15ClfScores(s: SparkSession, dir: String): DataFrame = {
    val m = modelFor(s, dir)
    scoresFrom(labeled(s, dir), scoreKernelCol(m))
  }

  /** The trained model as a codegen'd score Column over a `toks`
    * array<string> attribute — shared by t15 scoring and the c30
    * composed DAG. Weight map densified over all [[ClfBuckets]]
    * buckets (0 = unobserved), so the kernel's array load reproduces
    * `coalesce(element_at(weight_map, bucket), 0)` exactly. */
  private[operators] def scoreKernelCol(m: ClfModel): Column =
    org.apache.spark.sql.graftbridge.GraftColumns.column(
      graft.functions.ClfScore(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("toks"),
        Array.tabulate(ClfBuckets)(b => m.weights.getOrElse(b, 0L)),
        ClfBuckets, m.priorMicro))

  /** Spec-only HOF spelling of scoring (the pre-kernel shipped shape):
    * the interpreted `aggregate` walk the kernel is pinned bit-equal
    * to. */
  private[graft] def t15ScoresHofSpelling(
      s: SparkSession, dir: String): DataFrame = {
    val m = modelFor(s, dir)
    val wm = typedlit(m.weights)
    scoresFrom(labeled(s, dir),
      lit(m.priorMicro) + aggregate(col("toks"), lit(0L),
        (acc, t) => acc + coalesce(element_at(wm, bucket(t)), lit(0L))))
  }

  /** Spec-only join spelling of scoring (explode → broadcast-join the
    * weight frame → re-aggregate): the codegen'd fallback the HOF walk
    * is pinned bit-equal to. */
  private[graft] def t15ScoresJoinSpelling(
      s: SparkSession, dir: String): DataFrame = {
    val m = modelFor(s, dir)
    val w = s.createDataFrame(m.train).toDF("f", "c_pos", "c_neg", "w_micro")
      .select("f", "w_micro")
    val lab = labeled(s, dir)
    val docScores = lab
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .withColumn("f", bucket(col("tok")))
      .join(broadcast(w), Seq("f"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("w_micro"), lit(0L))).as("tok_sum"))
    scoresFrom(
      lab.join(docScores, Seq("doc_id"), "left"),
      lit(m.priorMicro) + coalesce(col("tok_sum"), lit(0L)))
  }

  private def scoresFrom(lab: DataFrame, score: Column): DataFrame =
    lab.withColumn("score_micro", score)
      .withColumn("pred", when(col("score_micro") > 0, 1).otherwise(0))
      .select("doc_id", "y", "score_micro", "pred")
      .orderBy("doc_id")

  // ---------------------------------------------------------- oracle

  private def sqlStop: String =
    Relational.stopwords.map(w => s"'$w'").mkString(", ")

  /** Trainer-replay CTE TAIL — label → bucketed tokens → counts →
    * weights, expecting a relation `tok_t`(doc_id, toks) already in
    * scope. Shared by [[sqlTrainCtes]] and the c30 composed-DAG oracle
    * (whose WITH chain already defines the identical tok_t for the
    * dedup CTEs — CTE names may not repeat). */
  private[operators] def sqlTrainTail: String =
    s"""lab AS (SELECT doc_id, toks,
       |  CASE WHEN $ClfStopFactor *
       |      len(list_filter(toks, t -> t IN ($sqlStop))) >= len(toks)
       |    THEN 1 ELSE 0 END AS y FROM tok_t),
       |tokf AS (SELECT doc_id, y,
       |    ${TextAnalysis.sqlBucketMod("tok", ClfBuckets)} AS f
       |  FROM (SELECT doc_id, y, unnest(toks) AS tok FROM lab) u),
       |cnts AS (SELECT f,
       |    CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c_pos,
       |    CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_neg
       |  FROM tokf GROUP BY f),
       |tots AS (SELECT CAST(SUM(c_pos) AS BIGINT) AS tot_pos,
       |    CAST(SUM(c_neg) AS BIGINT) AS tot_neg FROM cnts),
       |w AS (SELECT f, c_pos, c_neg,
       |    ${llrSql("c_pos", "c_neg", "tot_pos", "tot_neg")} AS w_micro
       |  FROM cnts, tots)""".stripMargin

  /** Shared oracle head: label → bucketed tokens → counts → weights —
    * the FULL trainer replayed in static SQL (the c10 discipline: the
    * gate hash-verifies training itself, nothing inlined). */
  private def sqlTrainCtes: String =
    s"""WITH norm_t AS (
       |  SELECT doc_id, ${TextOps.sqlNormText} AS norm FROM documents),
       |tok_t AS (SELECT doc_id, ${TextOps.sqlToks} AS toks FROM norm_t),
       |$sqlTrainTail""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t15_clf_train" -> t15ClfTrain,
    "t15_clf_scores" -> t15ClfScores)

  def oracle: Map[String, String] = Map(
    "t15_clf_train" ->
      s"""$sqlTrainCtes
         |SELECT f, c_pos, c_neg, w_micro FROM w ORDER BY f""".stripMargin,
    "t15_clf_scores" ->
      s"""$sqlTrainCtes,
         |docs_t AS (SELECT CAST(SUM(y) AS BIGINT) AS d_pos,
         |    CAST(SUM(1 - y) AS BIGINT) AS d_neg FROM lab),
         |ds AS (SELECT doc_id, SUM(COALESCE(w.w_micro, 0)) AS tok_sum
         |  FROM tokf LEFT JOIN w USING (f) GROUP BY doc_id),
         |scored AS (SELECT l.doc_id, l.y,
         |    CAST(pr.p + COALESCE(ds.tok_sum, 0) AS BIGINT) AS score_micro
         |  FROM lab l
         |  LEFT JOIN ds USING (doc_id)
         |  CROSS JOIN (SELECT ${priorSql("d_pos", "d_neg")} AS p
         |    FROM docs_t) pr)
         |SELECT doc_id, y, score_micro,
         |  CASE WHEN score_micro > 0 THEN 1 ELSE 0 END AS pred
         |FROM scored ORDER BY doc_id""".stripMargin)
}
