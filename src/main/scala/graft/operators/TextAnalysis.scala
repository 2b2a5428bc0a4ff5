package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Text analysis for training-data curation: language ID, quality
  * scoring, token counting, fingerprinting. All single-pass projections
  * (no shuffle except the final presentation ORDER BY), built from
  * codegen'd built-ins + higher-order functions.
  */
object TextAnalysis {

  /** Marker stopwords per language for the n-gram/stopword heuristic.
    * (The synthetic corpus is English-flavored regardless of its `lang`
    * label, so the heuristic honestly reports what the text looks like;
    * `is_match` records agreement with the label.) */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "los", "las", "que", "y"),
    "fr" -> Seq("le", "les", "une", "est", "et"),
  )

  private def markerCount(lang: String): String = {
    // native kernel (graft.functions.CountTokensIn); equals the
    // interpreted HOF `size(filter(toks, t -> t IN (...)))`
    val list = markers.toMap.apply(lang).mkString(",")
    s"count_in(toks, '$list')"
  }

  private def sqlMarkerCount(lang: String): String = {
    val list = markers.toMap.apply(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(toks, t -> t IN ($list))) AS INTEGER)"
  }

  /** t1: heuristic language ID by per-language marker-token hits, with a
    * deterministic priority order on ties. */
  def t1LangId(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val base = Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("s_en", expr(markerCount("en")))
      .withColumn("s_de", expr(markerCount("de")))
      .withColumn("s_es", expr(markerCount("es")))
      .withColumn("s_fr", expr(markerCount("fr")))
    base.withColumn("predicted",
        when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
          col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
      .withColumn("is_match", col("predicted") === col("lang"))
      .select("doc_id", "s_en", "s_de", "s_es", "s_fr", "predicted", "is_match")
      .orderBy("doc_id")
  }

  /** t2: quality scoring from surface statistics (length, token shape,
    * stopword ratio) — the usual cheap pre-filter before expensive
    * model-based scoring. */
  def t2QualityScore(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t2ScoreCols(Tables.documentsSpread(s, dir))
      .select("doc_id", "n_tok", "avg_tok_len", "stop_ratio", "score")
      .orderBy("doc_id")
  }

  /** The t2 scoring column chain appended to any frame carrying
    * `text` — shared with c22, which scores IN ITS OWN corpus scan
    * instead of joining the t2 frame back on doc_id (a corpus
    * self-join, two exchanges a scan-local projection never needs).
    * Caller must have registered GraftFunctions. */
  private[operators] def t2ScoreCols(df: DataFrame): DataFrame = {
    val stopCsv = Relational.stopwords.mkString(",")
    df
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("n_tok", size(col("toks")))
      // zero-token guard on every ratio: Spark's 0/0 is NULL (ansi off)
      // while DuckDB's is NaN — which sorts GREATEST, so an unguarded
      // empty doc would pass a score threshold in the oracle and be
      // dropped by Spark. Both engines pin 0.0 instead.
      .withColumn("avg_tok_len", when(col("n_tok") === 0, lit(0.0))
        .otherwise((length(col("norm")) - (col("n_tok") - 1)) / col("n_tok")))
      .withColumn("stop_ratio", when(col("n_tok") === 0, lit(0.0))
        .otherwise(expr(s"count_in(toks, '$stopCsv')") / col("n_tok")))
      .withColumn("len_score",
        least(col("n_tok").cast("double") / 100.0, lit(1.0)))
      .withColumn("score", col("stop_ratio") * 0.5 + col("len_score") * 0.5)
  }

  /** t3: token counting — whitespace tokens, regex word tokens, and a
    * BPE-ish bounded-piece count (greedy ≤4-char chunks). */
  def t3TokenCount(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .withColumn("ws_tokens",
        size(TextOps.toksOf("text")))
      .withColumn("re_tokens",
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")))
      .withColumn("bpe_pieces",
        size(expr("regexp_extract_all(text, '[a-z]{1,4}', 0)")))
      .select("doc_id", "ws_tokens", "re_tokens", "bpe_pieces")
      .orderBy("doc_id")

  /** t4: deterministic document fingerprints — content md5 plus a
    * polynomial rolling hash mod 1e9+7 (one fold over the chars). */
  def t4Fingerprint(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("fp_md5", md5(col("norm")))
      // native codegen'd fold (graft.functions.RollHash); the HOF
      // spelling (split to one-char strings + aggregate) is interpreted
      // and allocates one array element per character
      .withColumn("fp_roll", expr("roll_hash(norm)"))
      .select("doc_id", "fp_md5", "fp_roll")
      .orderBy("doc_id")
  }

  /** Percent of each stratum kept by [[t5StratifiedSample]]. */
  val SamplePct = 20

  /** t5: deterministic hash-bucket sampling — the reproducible
    * train/eval-split primitive of a training-data pipeline. Each doc's
    * bucket is the first 16 bits of md5(doc_id) mod 100: uniform within
    * every stratum (so a `lang` breakdown of the sample matches the
    * corpus — stratification without a per-group pass), stable across
    * runs/engines (no RNG, no partition order), and NESTED — the 10%
    * sample is a subset of the 20% sample, so growing a training set
    * never discards work. Scan-local projection + filter: zero
    * shuffles beyond the presentation sort, and at 100 TB the filter
    * runs at read time with no data movement. */
  /** Sampling bucket of a doc_id column: first 16 bits of md5 mod `m`.
    * [[sqlBucketMod]] is the bit-exact DuckDB mirror. m=100 is the t5
    * percent bucket; m=10000 gives c5 its 0.01%-granular acceptance
    * thresholds off the SAME hash bits (both are pure integer
    * arithmetic — the gate never compares a float). */
  private[operators] def bucketMod(docId: org.apache.spark.sql.Column,
      m: Int) =
    conv(substring(md5(docId.cast("string")), 1, 4), 16, 10)
      .cast("int") % m

  private[operators] def sqlBucketMod(docId: String, m: Int): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST($docId AS VARCHAR)), $i, 1)) - 1)"
    s"CAST((${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)})" +
      s" % $m AS INTEGER)"
  }

  /** Sampling bucket of a doc_id column: first 16 bits of md5 mod 100.
    * [[sqlSampleBucket]] is the bit-exact DuckDB mirror. */
  private[operators] def sampleBucket(docId: org.apache.spark.sql.Column) =
    bucketMod(docId, 100)

  private[graft] def sqlSampleBucket(docId: String): String =
    sqlBucketMod(docId, 100)

  def t5StratifiedSample(s: SparkSession, dir: String,
      pct: Int = SamplePct): DataFrame =
    Tables.documents(s, dir)
      .withColumn("bucket", sampleBucket(col("doc_id")))
      .filter(col("bucket") < pct)
      .select("doc_id", "lang", "bucket")
      .orderBy("doc_id")

  /** PII regexes shared by [[t6PiiRedact]], its oracle and its spec.
    * Kept to syntax with identical semantics in Java regex (Spark) and
    * RE2 (DuckDB): character classes, bounded/unbounded repeats, `\b`
    * word boundaries (ASCII in both engines on this corpus), no
    * backrefs or lookaround. The `\b` anchors on [[Ipv4Re]]/[[CardRe]]
    * are what reject the near-miss families: a version string `v1.2.3`,
    * an oversize octet `999.1.1.1`, an order id `ORD4111...` (digits
    * glued to letters — no word boundary to start at) and 15/17-digit
    * runs all fail without lookaround. */
  val EmailRe: String = graft.functions.PiiKernels.EmailRe
  val PhoneRe: String = graft.functions.PiiKernels.PhoneRe
  val Ipv4Re: String = graft.functions.PiiKernels.Ipv4Re
  val CardRe: String = graft.functions.PiiKernels.CardRe

  /** All PII families in REDACTION ORDER (applied left to right; the
    * earlier families' replacement tokens contain no digits or dots, so
    * later patterns cannot match across a redaction). Single source of
    * truth is the fused kernel ([[graft.functions.PiiKernels]]); these
    * re-exports feed the oracle SQL and the composed reference
    * spelling the spec pins the kernel against. */
  private[graft] val PiiFamilies: Seq[(String, String)] =
    graft.functions.PiiKernels.Families

  /** All four families as ONE alternation, for the residual re-scan:
    * on redacted text the families are disjoint (nothing is expected to
    * match at all), so one alternation pass counts exactly what four
    * per-family scans sum to (asserted on crafted strings in
    * TextAnalysisSpec) at a quarter of the regex traversals. */
  private[graft] val PiiAnyRe: String = graft.functions.PiiKernels.AnyRe

  /** Appends PII stats to a frame with a `pii_text` column: per-family
    * match counts (`n_emails`/`n_phones`/`n_ips`/`n_cards`), the
    * fully-redacted text, and `residual` — a re-scan of the redacted
    * text with every family (0 = nothing survived). Shared by the t6
    * gate entry and the crafted-string spec so they cannot drift.
    *
    * Contract note: counts are taken on the ORIGINAL text, redaction is
    * sequential — a match nested inside an earlier family's match
    * (e.g. a 16-digit run inside an email local part) is counted by
    * its own family but redacted as part of the outer token, so
    * per-family counts can exceed the redaction tokens emitted. The
    * oracle mirrors exactly this; `residual` = 0 still certifies
    * nothing survived. */
  private[graft] def piiScrub(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // one fused kernel call per row (graft.functions.PiiKernels) in
    // place of nine separate regex expression evaluations — same
    // engine, same patterns, same sequential-fold semantics
    // (PiiSpec pins bit-equality against [[piiScrubComposed]]); the
    // oracle keeps the composed SQL spelling, so a divergence would
    // also hash-mismatch at the gate
    df.withColumn("_pii", expr("pii_scrub(pii_text)"))
      .withColumn("n_emails", col("_pii.n_emails"))
      .withColumn("n_phones", col("_pii.n_phones"))
      .withColumn("n_ips", col("_pii.n_ips"))
      .withColumn("n_cards", col("_pii.n_cards"))
      .withColumn("redacted", col("_pii.redacted"))
      .withColumn("residual", col("_pii.residual"))
      .drop("_pii")
  }

  /** The pre-kernel composed spelling — the REFERENCE the fused kernel
    * is spec-pinned against (and the semantic definition of the t6
    * contract in `functions._` vocabulary). Not on the product path. */
  private[graft] def piiScrubComposed(df: DataFrame): DataFrame = {
    val redacted = PiiFamilies.foldLeft(col("pii_text")) {
      case (c, (re, token)) => regexp_replace(c, re, token)
    }
    df.withColumn("n_emails", regexp_count(col("pii_text"), lit(EmailRe)).cast("int"))
      .withColumn("n_phones", regexp_count(col("pii_text"), lit(PhoneRe)).cast("int"))
      .withColumn("n_ips", regexp_count(col("pii_text"), lit(Ipv4Re)).cast("int"))
      .withColumn("n_cards", regexp_count(col("pii_text"), lit(CardRe)).cast("int"))
      .withColumn("redacted", redacted)
      .withColumn("residual",
        regexp_count(col("redacted"), lit(PiiAnyRe)).cast("int"))
  }

  /** t6: PII scrubbing — count and redact email addresses, phone
    * numbers, IPv4 addresses and 16-digit card numbers, the compliance
    * pass every training-data pipeline runs before text leaves
    * curation. Pure projection (regex count + replace per row, no
    * shuffle). The synthetic corpus contains no organic PII (word-soup
    * text, zero digits), so the entry PLANTS one deterministic hit per
    * family AND one near-miss per family (version string, oversize
    * octet, letter-glued order id) inside the query and proves
    * end-to-end removal: the oracle hash-matches the redacted bytes
    * (md5), the per-family counts pin each pattern to EXACTLY its one
    * planted hit (a near-miss firing would break the hash), and
    * `residual` re-scans the output for all four patterns — 0 means
    * nothing survived. Organic-text behavior (PII mid-text, multiple
    * hits, more near-miss shapes) is spec-covered on crafted strings
    * through the same [[piiScrub]] helper. */
  def t6PiiRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or call +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 10."), (col("doc_id") % 200).cast("string"),
      lit(".0."), (col("doc_id") % 250).cast("string"),
      lit(" card 4111-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit("-9012-"),
      lpad(((col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
      lit(" v1.2.3 build 999.1.1.1 order ORD4111222233334444 now"))
    Tables.documentsSpread(s, dir)
      .withColumn("pii_text", planted)
      .transform(piiScrub)
      .select(col("doc_id"), col("n_emails"), col("n_phones"),
        col("n_ips"), col("n_cards"),
        md5(col("redacted")).as("redacted_md5"), col("residual"))
      .orderBy("doc_id")
  }

  /** t7 planting: docs with doc_id % [[T7PlantMod]] == 0 get
    * [[T7PlantPhrase]] appended [[T7PlantReps]] times — the synthetic
    * corpus is word soup with essentially no organic repetition, so
    * like t6's planted PII the repetitive docs are planted inside the
    * query (oracle-mirrored) to prove the signal end-to-end. A 6-word
    * phrase × 25 adds 150 tokens but only ~8 distinct 3-grams, pushing
    * the distinct fraction of any 10–100-token doc far below the
    * threshold; unplanted word soup sits near 1.0. */
  val T7PlantMod = 7
  val T7PlantPhrase = "click here to subscribe now today"
  val T7PlantReps = 25

  /** t7: intra-document repetition — the duplicate-n-gram fraction
    * quality rule of the Gopher/FineWeb lineage: a doc whose 3-grams
    * are mostly copies of each other is boilerplate/spam regardless of
    * its stopword or length profile. Complements t2 (surface quality)
    * and the d-family (CROSS-doc duplication): this is duplication
    * WITHIN one document. Returns (doc_id, n_sh3, n_distinct3,
    * is_repetitive) where the flag is the exact integer rational
    * `n_distinct3 · 5 < n_sh3 · 4` (distinct fraction < 0.8) — no
    * float crosses the gate.
    *
    * Scale shape: pure projection over the codegen'd shingle kernel —
    * one map pass per row (normalize → tokenize → word_shingles(3) →
    * two array sizes), zero shuffles beyond the presentation sort; at
    * 100 TB it runs at read time like t1–t4. */
  def t7RepNgrams(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val planted = when(col("doc_id") % T7PlantMod === 0,
      concat(col("text"), lit(" "),
        expr(s"repeat('$T7PlantPhrase ', $T7PlantReps)")))
      .otherwise(col("text"))
    Tables.documentsSpread(s, dir)
      .withColumn("rep_text", planted)
      .withColumn("norm", TextOps.normText(col("rep_text")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("sh", expr("word_shingles(toks, 3)"))
      .select(col("doc_id"),
        size(col("sh")).as("n_sh3"),
        size(array_distinct(col("sh"))).as("n_distinct3"))
      .withColumn("is_repetitive",
        col("n_distinct3") * 5 < col("n_sh3") * 4)
      .orderBy("doc_id")
  }

  /** t8 planting: docs with doc_id % [[T8PlantMod]] == 0 get
    * [[T8PlantChunk]] appended [[T8PlantReps]] times. The chunk's
    * intra-word letter adjacencies (qz, zx, vk, …) never occur in the
    * corpus vocabulary, and the 1/101 planting density keeps their
    * GLOBAL counts far below the rarity threshold at every SF (both
    * sides of the rare test scale linearly with corpus size, so the
    * margin is scale-free). */
  val T8PlantMod = 101
  val T8PlantChunk = "qzx vkqj wpzx jxqv zzqp"
  val T8PlantReps = 2

  /** t8 rarity denominator: a bigram occurrence is RARE iff
    * `global_count · [[T8RareDen]] < total_bigrams`, i.e. its corpus
    * frequency is below 1/8 of the uniform share of a 27-symbol
    * alphabet (27² · 8 = 5832). Integer cross-multiplication — exact
    * in both engines, overflow-safe to ~10^15-occurrence bigrams. */
  val T8RareDen = 5832

  /** t8 flag: a doc is atypical iff more than 5% of its bigram
    * occurrences are rare (`n_rare · [[T8FlagDen]] > n_bigrams`) —
    * word-soup docs sit at exactly 0 rare occurrences, planted docs at
    * ~7%, so the flag is robust on both sides. */
  val T8FlagDen = 20

  /** t8: character-bigram frequency filter — the statistical-LM
    * quality gate of the CCNet lineage (Wenzek et al. 2020 score web
    * text with a KenLM model trained offline; the production shape is
    * train → broadcast the tiny model → score at scan). Here the model
    * is the corpus's own char-bigram frequency table: TRAIN
    * ([[t8ModelFor]]) = one map-side-combinable count keyed by bigram
    * (alphabet²-bounded output), collected once per corpus per JVM and
    * broadcast once per executor; SCORE = a pure scan-local projection
    * — the [[graft.functions.RareBigramStats]] kernel walks each doc's
    * bigrams once against the broadcast table, counting occurrences
    * whose global frequency is below the rarity threshold. ZERO
    * per-doc shuffle (the first spelling — explode → broadcast join →
    * re-aggregate by doc — measured ~4× a pure projection at 10×;
    * the trained-model kernel removes the per-doc exchange entirely).
    * Gibberish, encoding damage, and wrong-alphabet text light up the
    * rare fraction; typical prose does not. Everything the gate
    * compares is an integer ([[T8RareDen]]/[[T8FlagDen]] rational
    * tests) — no float, no log-prob, cross-engine exact.
    *
    * The synthetic corpus is a fixed word-soup vocabulary (zero
    * organically-rare bigrams), so like t6/t7 the atypical docs are
    * planted inside the query, oracle-mirrored.
    *
    * Scale shape: at 100 TB the model is still alphabet²-bounded
    * (broadcast-sized), the train pass shuffles only per-partition
    * (bigram, count) partials, and the score pass is embarrassingly
    * parallel map work at read time — the t1–t4 family shape with one
    * extra training scan per corpus generation. */
  /** The t8 planting column over `text`/`doc_id` — shared by the train
    * and score passes so the model and the scored text cannot drift. */
  private def t8PlantedNorm: org.apache.spark.sql.Column =
    TextOps.normText(when(col("doc_id") % T8PlantMod === 0,
      concat(col("text"), lit(" "),
        expr(s"repeat('$T8PlantChunk ', $T8PlantReps)")))
      .otherwise(col("text")))

  /** The trained t8 artifact: broadcast [[graft.functions.BigramModel]]
    * (frequent-set bitset + counts + exact total). */
  private type T8Model =
    org.apache.spark.broadcast.Broadcast[graft.functions.BigramModel]

  /** TRAIN: one corpus pass — explode char bigrams, map-side-combinable
    * count keyed by bigram (alphabet²-bounded output), collect the tiny
    * table, broadcast it. The collect is the once-per-corpus-generation
    * artifact build, not a per-query driver loop (same altitude as
    * s3's centroid training); for an alphabet whose observed-bigram
    * table outgrew a broadcast the fallback is the broadcast-join
    * spelling of the score pass ([[t8CharlmFilterJoinSpelling]],
    * spec-pinned equivalent) — not needed for any natural-language
    * charset. Built once per corpus generation per SparkContext
    * ([[graft.Artifacts]] kind `text.t8`). */
  private[graft] def t8ModelFor(s: SparkSession, dir: String): T8Model =
    graft.Artifacts.memo(s.sparkContext, "text.t8",
        Tables.fingerprint(s, dir, "documents")) {
      graft.functions.GraftFunctions.register(s)
      val rows = Tables.documentsSpread(s, dir)
        .withColumn("norm", t8PlantedNorm)
        .select(explode(expr("char_shingles(norm, 2)")).as("b"))
        .groupBy("b").agg(count(lit(1)).as("c"))
        .collect()
      val m = new java.util.HashMap[String, java.lang.Long](rows.length * 2)
      var total = 0L
      rows.foreach { r =>
        val c = r.getLong(1)
        m.put(r.getString(0), c)
        total += c
      }
      // precompute the frequent set driver-side (≤ T8RareDen entries)
      // so executors probe a bitset, not a String-keyed HashMap
      s.sparkContext.broadcast(
        new graft.functions.BigramModel(m, total, T8RareDen))
    }

  def t8CharlmFilter(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val model = t8ModelFor(s, dir)
    // the model cannot ride through SQL text; build the kernel column
    // PROGRAMMATICALLY (org.apache.spark.sql.graftbridge.GraftColumns)
    // instead of registering a per-call closure — the shared session
    // FunctionRegistry stays immutable on the query path, so two
    // threads planning t8 for different corpora on one session cannot
    // interleave register/analyze and bind the wrong model
    val stats = org.apache.spark.sql.graftbridge.GraftColumns.column(
      graft.functions.RareBigramStats(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("norm"),
        model))
    Tables.documentsSpread(s, dir)
      .withColumn("norm", t8PlantedNorm)
      .withColumn("_st", stats)
      .select(col("doc_id"),
        col("_st.n_bigrams").as("n_bigrams"),
        col("_st.n_rare").as("n_rare"))
      .withColumn("is_atypical",
        col("n_rare") * T8FlagDen > col("n_bigrams"))
      .orderBy("doc_id")
  }

  /** t9 chunk geometry: window of [[T9ChunkChars]] normalized chars
    * every [[T9Stride]] chars — adjacent chunks overlap by 50 chars so
    * no semantic unit is ever split across a hard boundary without
    * also appearing whole in a neighbor (the standard context-window
    * splitting geometry of embedding/RAG and long-document training
    * pipelines). */
  val T9ChunkChars = 200
  val T9Stride = 150

  /** t9: fixed-window document CHUNKING with overlap — the
    * context-window splitting pass a pipeline runs before embedding or
    * tokenizing long documents (every doc yields
    * `floor(max(len-1,0)/stride)+1` chunks at offsets 0, stride,
    * 2·stride, …; a doc shorter than one window yields itself whole;
    * chunk boundaries are CHARACTER positions on the normalized text,
    * identical in both engines). Returns (doc_id, chunk_idx,
    * chunk_off, chunk, chunk_len).
    *
    * Scale shape: pure projection + explode — the chunk offsets are
    * computed per row from the length alone (`sequence`), so the pass
    * is scan-local with zero shuffles beyond the presentation sort;
    * output volume is input bytes × (window/stride) ≈ 1.33×. At 100 TB
    * it runs at read time like t1–t4. */
  def t9DocChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(col("text")))
      .select(col("doc_id"), col("norm"),
        posexplode(expr(
          s"sequence(0, greatest(char_length(norm) - 1, 0), $T9Stride)"))
          .as(Seq("chunk_idx", "chunk_off")))
      .select(col("doc_id"),
        col("chunk_idx").cast("int").as("chunk_idx"),
        col("chunk_off").cast("int").as("chunk_off"),
        expr(s"substring(norm, chunk_off + 1, $T9ChunkChars)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("int"))
      .orderBy("doc_id", "chunk_idx")

  /** t12 planting A (doc_id % [[T12PlantModA]] == 0): symbol/ellipsis
    * pollution — a symbol-heavy line, a bullet with inline hashes, and
    * two ellipsis-terminated teaser lines. Trips the symbol and
    * ellipsis rules on every planted doc and the alphabetic-word rule
    * on short ones (graded, mirrored exactly in the oracle). */
  val T12PlantModA = 11
  val T12PlantA: String =
    "\n### --- ### --- ### --- ### ---" +
      "\n- click here ### now\nread more...\nterms apply..."

  /** t12 planting B (doc_id % [[T12PlantModB]] == 0): a ten-line bullet
    * list — 10 of 11 lines start with "- " (90.9% > the 90% Gopher
    * bound), tripping the bullet rule for pure-B docs; docs planted
    * with BOTH pollutions have 15 lines and pass it (exact mirror). */
  val T12PlantModB = 13
  val T12PlantB: String =
    (1 to 10).map(_ => "- list item entry").mkString("\n", "\n", "")

  /** t12: the Gopher quality-rule battery (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", table A1 — the repetition rule of
    * that battery is t7, the model-based gate is t8; this operator is
    * the remaining surface-shape rules, the same battery FineWeb and
    * Dolma re-implement). Seven per-document rules, every one an exact
    * integer rational so no float crosses the gate:
    *   r_words    10·word-count within [10·min, 10·max]   (min=20 here,
    *              scaled to the synthetic 10–99-word docs; Gopher: 50)
    *   r_meanlen  3·n_words ≤ Σ word-len ≤ 10·n_words     (Gopher 3–10)
    *   r_symbol   10·(n_'#' + n_'...') < n_words          (Gopher 0.1)
    *   r_bullet   10·bullet-lines < 9·n_lines             (Gopher 0.9)
    *   r_ellipsis 10·'...'-terminated-lines < 3·n_lines   (Gopher 0.3)
    *   r_alpha    10·words-with-a-letter > 8·n_words      (Gopher 0.8)
    *   r_stop     ≥ 2 stop-word occurrences               (Gopher ≥ 2)
    * `passes_gopher` is their conjunction. Returns the full count
    * evidence next to every flag so a curation pass can re-threshold
    * without re-scanning.
    *
    * Scale shape: pure scan-local projection — line stats and word
    * stats are per-row array folds over codegen'd `functions._` (no
    * UDF, no shuffle beyond the presentation sort); at 100 TB it runs
    * at read time like t1–t4 and composes with c1's quality floor. */
  /** The Gopher rule battery over a frame carrying `ptext` — counters,
    * the seven flags and their conjunction appended as columns.
    * Factored so the t12 gate entry and the c30 composed curation DAG
    * share ONE spelling (and [[sqlGopherCtes]] is its DuckDB mirror). */
  private[operators] def gopherCols(df: DataFrame): DataFrame =
    df
      .withColumn("lines", split(col("ptext"), "\n"))
      .withColumn("flat", translate(col("ptext"), "\n", " "))
      .withColumn("words",
        expr("filter(split(flat, ' '), w -> w <> '')"))
      .withColumn("n_words", size(col("words")))
      .withColumn("n_lines", size(col("lines")))
      .withColumn("char_sum",
        expr("aggregate(words, 0, (a, w) -> a + length(w))"))
      .withColumn("n_sym",
        (length(col("ptext")) - length(regexp_replace(col("ptext"), "#", "")))
          + expr("(length(ptext) - length(replace(ptext, '...', ''))) div 3"))
      .withColumn("n_bullet",
        size(expr("filter(lines, l -> substring(l, 1, 2) = '- ')")))
      .withColumn("n_ellend",
        size(expr("filter(lines, l -> length(l) >= 3 AND " +
          "substring(l, length(l) - 2, 3) = '...')")))
      .withColumn("n_alpha",
        size(expr("filter(words, w -> w rlike '[a-z]')")))
      .withColumn("n_stop",
        size(expr("filter(words, w -> w IN " +
          "('the','a','of','and','to','that','with','be','have'))")))
      .withColumn("r_words",
        col("n_words") >= 20 && col("n_words") <= 100000)
      .withColumn("r_meanlen",
        col("n_words") * 3 <= col("char_sum") &&
          col("char_sum") <= col("n_words") * 10)
      .withColumn("r_symbol", col("n_sym") * 10 < col("n_words"))
      .withColumn("r_bullet", col("n_bullet") * 10 < col("n_lines") * 9)
      .withColumn("r_ellipsis", col("n_ellend") * 10 < col("n_lines") * 3)
      .withColumn("r_alpha", col("n_alpha") * 10 > col("n_words") * 8)
      .withColumn("r_stop", col("n_stop") >= 2)
      .withColumn("passes_gopher",
        col("r_words") && col("r_meanlen") && col("r_symbol") &&
          col("r_bullet") && col("r_ellipsis") && col("r_alpha") &&
          col("r_stop"))

  def t12GopherRules(s: SparkSession, dir: String): DataFrame = {
    val planted =
      when(col("doc_id") % T12PlantModA === 0 &&
        col("doc_id") % T12PlantModB === 0,
        concat(col("text"), lit(T12PlantA), lit(T12PlantB)))
        .when(col("doc_id") % T12PlantModA === 0,
          concat(col("text"), lit(T12PlantA)))
        .when(col("doc_id") % T12PlantModB === 0,
          concat(col("text"), lit(T12PlantB)))
        .otherwise(col("text"))
    gopherCols(Tables.documentsSpread(s, dir).withColumn("ptext", planted))
      .select(col("doc_id"),
        col("n_words").cast("int").as("n_words"),
        col("n_lines").cast("int").as("n_lines"),
        col("char_sum").cast("int").as("char_sum"),
        col("n_sym").cast("int").as("n_sym"),
        col("n_bullet").cast("int").as("n_bullet"),
        col("n_ellend").cast("int").as("n_ellend"),
        col("n_alpha").cast("int").as("n_alpha"),
        col("n_stop").cast("int").as("n_stop"),
        col("r_words"), col("r_meanlen"), col("r_symbol"), col("r_bullet"),
        col("r_ellipsis"), col("r_alpha"), col("r_stop"),
        col("passes_gopher"))
      .orderBy("doc_id")
  }

  /** DuckDB mirror of [[gopherCols]]'s counters over relation `src`'s
    * column `textCol`, CTE names suffixed `_tag` — ends in
    * `gc_<tag>`(doc_id, n_words, n_lines, char_sum, n_sym, n_bullet,
    * n_ellend, n_alpha, n_stop). Shared by the t12 oracle and the c30
    * composed-DAG oracle so the battery cannot drift. */
  private[operators] def sqlGopherCtes(src: String, textCol: String,
      tag: String): String =
    s"""gm_$tag AS (
       |  SELECT doc_id, $textCol AS ptext,
       |    string_split($textCol, chr(10)) AS lines,
       |    list_filter(string_split(replace($textCol, chr(10), ' '), ' '),
       |      w -> w <> '') AS words
       |  FROM $src),
       |gc_$tag AS (
       |  SELECT doc_id,
       |    len(words) AS n_words,
       |    len(lines) AS n_lines,
       |    coalesce(list_sum(list_transform(words, w -> length(w))), 0)
       |      AS char_sum,
       |    (length(ptext) - length(replace(ptext, '#', '')))
       |      + (length(ptext) - length(replace(ptext, '...', ''))) // 3
       |      AS n_sym,
       |    len(list_filter(lines, l -> substr(l, 1, 2) = '- ')) AS n_bullet,
       |    len(list_filter(lines, l -> length(l) >= 3
       |      AND substr(l, length(l) - 2, 3) = '...')) AS n_ellend,
       |    len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
       |      AS n_alpha,
       |    len(list_filter(words, w -> w IN ('the','a','of','and','to',
       |      'that','with','be','have'))) AS n_stop
       |  FROM gm_$tag)""".stripMargin

  /** The seven-rule conjunction over a gc_* row's counters. */
  private[operators] val sqlGopherPass: String =
    """((n_words >= 20 AND n_words <= 100000)
      |    AND (n_words * 3 <= char_sum AND char_sum <= n_words * 10)
      |    AND (n_sym * 10 < n_words)
      |    AND (n_bullet * 10 < n_lines * 9)
      |    AND (n_ellend * 10 < n_lines * 3)
      |    AND (n_alpha * 10 > n_words * 8)
      |    AND (n_stop >= 2))""".stripMargin

  /** t10 span width: word 5-grams — long enough that organic word-soup
    * collisions across documents stay rare, short enough that a
    * boilerplate footer of a couple dozen words yields many spans. */
  val T10SpanW = 5

  /** t10 planting: docs with doc_id % [[T10PlantMod]] == 0 get
    * [[T10Footer]] appended once — simulating the per-site chrome
    * (nav/footer/subscribe text) that web-crawl curation must strip.
    * 24 words → 20 footer-internal 5-gram spans shared VERBATIM by
    * every planted doc; the spans straddling the doc/footer seam mix
    * unique doc text and stay infrequent, exactly like real page
    * boundaries. */
  val T10PlantMod = 9
  val T10Footer: String =
    "all rights reserved click here to subscribe to our newsletter " +
      "for daily updates and follow us on social media for more " +
      "breaking news today"

  /** t10 document frequency floor: a span is corpus-FREQUENT iff it
    * occurs in at least this many distinct documents. Scale-free on
    * the planted side (footer df grows with the corpus: N/9 docs at
    * every SF) and conservative on the organic side (a 5-gram from a
    * ~40-word vocabulary recurring in 5+ docs is vanishingly rare). */
  val T10MinDocs = 5

  /** t10 flag: a doc is boilerplate-heavy iff MORE than 10% of its
    * distinct spans are corpus-frequent (`n_frequent · 10 > n_spans`,
    * exact integer cross-multiplication — no float crosses the gate).
    * Worst-case planted doc (99 organic words): 20/119 ≈ 17%;
    * organic docs sit at ≈0%. */
  val T10FlagDen = 10

  /** t10: cross-document frequent-span (boilerplate) scoring — the
    * line-dedup / boilerplate-removal rule of the C4/CCNet/RefinedWeb
    * lineage, reframed at span granularity: a span of text that
    * recurs VERBATIM across many distinct documents is site chrome
    * (navigation, footers, cookie banners), and a document dominated
    * by such spans is boilerplate regardless of its surface quality.
    * Completes the duplication family: t7 measures repetition WITHIN
    * a doc, d2–d8 near-duplication of WHOLE docs, d9 overlap against
    * a FOREIGN suite — t10 measures each doc's overlap with the
    * corpus-wide frequent-span inventory. Returns (doc_id, n_spans,
    * n_frequent, is_boilerplate) over distinct per-doc spans.
    *
    * Scale shape: two passes over the span stream. Pass 1 builds the
    * INVENTORY — per-doc-distinct spans, one count shuffle keyed by
    * span (map-side combinable), `df >= ` [[T10MinDocs]] filter. The
    * inventory is bounded by pigeonhole at Σspans/[[T10MinDocs]] and
    * in practice is the Zipf head (real boilerplate inventories are
    * MBs even on web-scale crawls), so pass 2 BROADCASTs it and tags
    * each doc's spans map-side — no shuffle of the exploded span
    * volume — followed by one combinable per-doc count and a join
    * back to the per-doc span totals. If an adversarial corpus ever
    * outgrew the broadcast budget, dropping the hint degrades to a
    * hash semi-join — same linear bound, one extra shuffle. In
    * production the inventory build runs on an ingest sample (df
    * scales linearly); the gate runs it exact so the oracle can too.
    *
    * Reference behavior anchor: dedup/cleanup-on-ingest
    * (airflow/dags/twitter_airflow.py:69-92), extended to the
    * span-granular boilerplate pass a crawl pipeline needs. */
  /** The t10/t11 planting column over `text`/`doc_id` — shared by the
    * scoring (t10) and scrubbing (t11) passes so the inventory and the
    * rewritten text cannot drift. */
  private def t10Planted: org.apache.spark.sql.Column =
    when(col("doc_id") % T10PlantMod === 0,
      concat(col("text"), lit(" "), lit(T10Footer)))
      .otherwise(col("text"))

  /** (doc_id, spans): each doc's DISTINCT word-[[T10SpanW]]-gram spans
    * over the planted+normalized text — the per-doc span stream both
    * the t10 inventory and the t10 tagging side read. */
  private def t10SpanFrame(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(t10Planted))
      .withColumn("toks", expr(TextOps.toksExpr))
      .select(col("doc_id"),
        expr(s"array_distinct(word_shingles(toks, $T10SpanW))").as("spans"))
  }

  /** The corpus-FREQUENT span inventory (single `span` column): one
    * map-side-combinable count over the per-doc-distinct span stream +
    * the [[T10MinDocs]] df floor. Shared by t10 (broadcast tag join)
    * and t11 (collected into the broadcast scrub [[graft.functions.SpanSet]]). */
  private def t10FreqSpans(pairs: DataFrame): DataFrame =
    // per-doc spans are distinct, so count(*) per span IS document
    // frequency — no count-distinct shuffle needed
    pairs.groupBy("span").agg(count(lit(1)).as("df"))
      .filter(col("df") >= T10MinDocs)
      .select("span")

  def t10BoilerplateSpans(s: SparkSession, dir: String): DataFrame = {
    val spans = t10SpanFrame(s, dir)
    val pairs = spans.select(col("doc_id"), explode(col("spans")).as("span"))
    val freq = t10FreqSpans(pairs)
    val hits = pairs.join(broadcast(freq), Seq("span"))
      .groupBy("doc_id").agg(count(lit(1)).as("hit_cnt"))
    spans.select(col("doc_id"), size(col("spans")).as("n_spans"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("hit_cnt"), lit(0L)).cast("int").as("n_frequent"))
      .withColumn("is_boilerplate",
        col("n_frequent") * T10FlagDen > col("n_spans"))
      .orderBy("doc_id")
  }

  /** The t11 broadcast inventory: [[graft.functions.SpanSet]] of
    * corpus-frequent spans. */
  private type T11Inv =
    org.apache.spark.broadcast.Broadcast[graft.functions.SpanSet]

  /** Spec/bench hook: t11 inventory builds, the registry's counter. */
  private[graft] val t11BuildCount = graft.Artifacts.builds("text.t11")

  /** BUILD: run t10's frequent-span subplan (per-doc-distinct spans →
    * one combinable count shuffle → df floor), collect the pigeonhole-
    * bounded Zipf head, broadcast it as a probe set. The collect is the
    * once-per-corpus-generation artifact build (s3-centroids altitude),
    * held per SparkContext like [[t8ModelFor]]. */
  private[graft] def t11InventoryFor(s: SparkSession, dir: String): T11Inv =
    graft.Artifacts.memo(s.sparkContext, "text.t11",
        Tables.fingerprint(s, dir, "documents")) {
      val spans = t10SpanFrame(s, dir)
      val pairs =
        spans.select(col("doc_id"), explode(col("spans")).as("span"))
      val rows = t10FreqSpans(pairs).collect()
      val set = new java.util.HashSet[String](rows.length * 2)
      rows.foreach(r => set.add(r.getString(0)))
      s.sparkContext.broadcast(new graft.functions.SpanSet(set))
    }

  /** t11: boilerplate-span SCRUBBING — the rewrite half of the C4/CCNet
    * line-dedup rule that t10 only scores: excise from every document
    * each word-[[T10SpanW]]-gram that recurs VERBATIM in ≥
    * [[T10MinDocs]] distinct docs (site chrome — nav, footers, cookie
    * banners), keeping the document itself. A word is removed iff SOME
    * corpus-frequent span covers it (overlapping frequent spans merge,
    * so a whole planted footer vanishes as one contiguous cut); the
    * cleaned text is the uncovered words rejoined. Returns (doc_id,
    * clean_text, n_words, n_removed) — integers + exact strings, no
    * float crosses the gate.
    *
    * Scale shape: the inventory is the once-per-corpus-generation
    * broadcast artifact ([[t11InventoryFor]]); the scrub pass is then
    * SCAN-LOCAL — one codegen'd kernel walk per row
    * ([[graft.functions.ScrubSpans]], O(w · doc bytes)), zero
    * shuffles beyond the presentation sort, the t1–t4 family shape.
    * The oracle (and [[t11ScrubJoinSpelling]], spec-pinned identical)
    * keeps the explode → join → covering-window spelling, which pays a
    * word-volume exchange the kernel doesn't — that spelling is also
    * the documented fallback for an inventory that outgrew a
    * broadcast.
    *
    * Reference behavior anchor: cleanup-on-ingest
    * (airflow/dags/twitter_airflow.py:69-92), extended to the
    * boilerplate-REMOVAL pass a crawl pipeline runs after t10's
    * scoring pass flags what to remove. */
  def t11ScrubBoilerplate(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val inv = t11InventoryFor(s, dir)
    // driver-side artifact in the constructor — build the Column
    // programmatically (t8's pattern): FunctionRegistry stays immutable
    val scrub = org.apache.spark.sql.graftbridge.GraftColumns.column(
      graft.functions.ScrubSpans(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("toks"),
        inv, T10SpanW))
    Tables.documentsSpread(s, dir)
      .withColumn("norm", TextOps.normText(t10Planted))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("_sc", scrub)
      .select(col("doc_id"),
        col("_sc.clean_text").as("clean_text"),
        col("_sc.n_words").as("n_words"),
        col("_sc.n_removed").as("n_removed"))
      .orderBy("doc_id")
  }

  /** The documented t11 FALLBACK spelling — posexplode gram starts →
    * broadcast-join the frequent inventory → covering window (a word is
    * covered iff a frequent gram STARTS within the preceding
    * [[T10SpanW]]−1 positions) → ordered rebuild. Pays one word-volume
    * exchange the kernel doesn't; exists so kernel ≡ fallback is
    * SPEC-PINNED (TextAnalysisSpec) and mirrors the DuckDB oracle
    * spelling, so a kernel divergence would also hash-mismatch. */
  private[graft] def t11ScrubJoinSpelling(
      s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val base = Tables.documents(s, dir)
      .withColumn("norm", TextOps.normText(t10Planted))
      .withColumn("toks", expr(TextOps.toksExpr))
      .select("doc_id", "toks")
    val spans = base.select(col("doc_id"),
      expr(s"array_distinct(word_shingles(toks, $T10SpanW))").as("spans"))
    val pairs = spans.select(col("doc_id"), explode(col("spans")).as("span"))
    val freq = t10FreqSpans(pairs)
    val starts = base.select(col("doc_id"),
      posexplode(expr(s"word_shingles(toks, $T10SpanW)"))
        .as(Seq("i", "gram")))
    val fstarts = starts.join(broadcast(freq),
        starts("gram") === freq("span"))
      .select(col("doc_id"), col("i"), lit(1).as("flag"))
    val words = base.select(col("doc_id"),
      posexplode(col("toks")).as(Seq("i", "w")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("i")
      .rowsBetween(-(T10SpanW - 1), org.apache.spark.sql.expressions.Window.currentRow)
    val cov = words.join(fstarts, Seq("doc_id", "i"), "left")
      .withColumn("flag", coalesce(col("flag"), lit(0)))
      .withColumn("covered", max(col("flag")).over(win))
    val agg = cov.groupBy("doc_id").agg(
      sort_array(collect_list(struct(col("i"), col("w"), col("covered"))))
        .as("ws"),
      count(lit(1)).cast("int").as("n_words"),
      sum(col("covered")).cast("int").as("n_removed"))
      .withColumn("clean_text", array_join(
        expr("transform(filter(ws, x -> x.covered = 0), x -> x.w)"), " "))
    base.select("doc_id").join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_words"), lit(0)).as("n_words"),
        coalesce(col("n_removed"), lit(0)).as("n_removed"))
      .orderBy("doc_id")
  }

  /** The documented t8 FALLBACK spelling — explode bigrams → broadcast
    * join against the counts table → re-aggregate per doc — for an
    * alphabet whose observed-bigram table outgrew a broadcast model.
    * Not on the gate (the kernel spelling is; this pays a per-doc
    * exchange the kernel doesn't). Exists so kernel ≡ fallback is
    * SPEC-PINNED rather than argued: TextAnalysisSpec asserts both
    * spellings produce identical (n_bigrams, n_rare, is_atypical) rows,
    * and the DuckDB oracle keeps this join spelling in SQL, so a kernel
    * divergence would also hash-mismatch at the gate. */
  private[graft] def t8CharlmFilterJoinSpelling(
      s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val bigrams = Tables.documents(s, dir)
      .withColumn("norm", t8PlantedNorm)
      .select(col("doc_id"), explode(expr("char_shingles(norm, 2)")).as("b"))
    val counts = Tables.documents(s, dir)
      .withColumn("norm", t8PlantedNorm)
      .select(explode(expr("char_shingles(norm, 2)")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c"))
    val tot = counts.agg(sum(col("c")).as("t"))
    bigrams.join(broadcast(counts), "b")
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_bigrams"),
        sum(when(col("c") * T8RareDen < col("t"), 1).otherwise(0))
          .cast("int").as("n_rare"))
      .withColumn("is_atypical",
        col("n_rare") * T8FlagDen > col("n_bigrams"))
      .orderBy("doc_id")
  }

  /** t13 decoration prefixes, one per doc_id mod 3 — decomposed
    * (NFC composes it), precomposed (NFC fixpoint), and a two-mark
    * mix — shared verbatim with the oracle SQL so both engines
    * normalize the SAME bytes. The test corpus is pure ASCII (its
    * own NFC form), so without the decoration the operator would be
    * verified only on its identity path. */
  private[graft] val T13Deco: Seq[String] = Seq(
    "e\u0301clair", // decomposed: e + COMBINING ACUTE, NFC composes it
    "\u00e9clair", // precomposed U+00E9: already in NFC form
    "A\u030acafe\u0301") // ring + acute marks, both compose

  /** The control/duplicate-whitespace segment t13 plants between the
    * prefix and the text (a tab flanked by spaces — collapses to one
    * space). */
  private[graft] val T13Gap = " \t "

  /** Whitespace/control run: one-or-more of space, C0 controls or
    * DEL — identical semantics in java.util.regex and RE2 (explicit
    * class; `\s` differs between the engines on \x0B). */
  private[graft] val T13WsRe = "[ \\x00-\\x1f\\x7f]+"

  /** t13: text NORMALIZATION — the canonicalization pass a corpus
    * pipeline runs before any hashing/dedup so byte-different,
    * render-identical strings (decomposed vs precomposed accents,
    * exotic whitespace) cannot defeat d1's exact hash or fragment
    * d2's shingles: Unicode NFC ([[graft.functions.NfcNormalize]],
    * codegen'd java.text.Normalizer with an ASCII fast path that
    * never leaves UTF8String) → collapse space/control runs to one
    * space → trim. The gate corpus is ASCII, so each doc is first
    * DECORATED deterministically ([[T13Deco]] by doc_id mod 3 +
    * [[T13Gap]]) — both the compose-work path and the fixpoint path
    * are exercised and hash-verified; `changed` audits which.
    *
    * Scale shape: pure scan-local projection — zero shuffles beyond
    * the presentation sort, no state; at 100 TB this runs at read
    * bandwidth inside whole-stage codegen, and the ASCII fast path
    * makes the NFC step a byte scan on the (dominant) ASCII rows. */
  def t13Normalize(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val deco = T13Deco.map(d => lit(d))
    Tables.documentsSpread(s, dir)
      .withColumn("raw", concat(
        when(col("doc_id") % 3 === 0, deco(0))
          .when(col("doc_id") % 3 === 1, deco(1))
          .otherwise(deco(2)),
        // gap only on even ids: odd precomposed-prefix docs are already
        // fully normalized, so `changed` genuinely varies in the gate
        when(col("doc_id") % 2 === 0, lit(T13Gap)).otherwise(lit(" ")),
        col("text")))
      .withColumn("norm",
        trim(regexp_replace(expr("nfc_normalize(raw)"), T13WsRe, " ")))
      .select(col("doc_id"),
        length(col("raw")).as("n_raw"),
        length(col("norm")).as("n_norm"),
        (col("norm") =!= col("raw")).cast("int").as("changed"),
        col("norm"))
      .orderBy("doc_id")
  }

  /** Shared messy-URL construction for t14/d13, as ONE dialect-neutral
    * SQL fragment per variant (runs verbatim under Spark `expr` and
    * DuckDB): the gate corpus carries no URL column, so both engines
    * derive the same deterministic messy URLs from `documents` and the
    * canonicalizer is the unit under test. Variant 0 is the messy
    * spelling (case-shifted scheme/host, explicit default port,
    * tracking params in shuffled order, fragment, trailing slash);
    * variant 1 is the near-clean spelling of the SAME resource. Planted
    * axes: parity picks http/https (both default-port spellings
    * exercised), every 5th doc carries a NON-default `:8080` that must
    * survive, every 11th doc drops the doc_id path entirely — those
    * URLs collide ACROSS docs sharing (scheme, source, port), giving
    * d13 genuine cross-document duplicate groups, not just v0≡v1
    * pairs. */
  private[operators] def t14UrlSql(variant: Int): String =
    if (variant == 0)
      "CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'HTTP' END || " +
        "'://WWW.' || source || '.Example.COM' || " +
        "CASE WHEN doc_id % 5 = 0 THEN ':8080' " +
        "WHEN doc_id % 2 = 0 THEN ':443' ELSE ':80' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN '/' " +
        "ELSE '/Docs/' || lang || '/' || CAST(doc_id AS STRING) || '/' END " +
        "|| '?utm_source=feed&ref=rss&b=2&a=1#sec'"
    else
      "CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END || " +
        "'://www.' || source || '.example.com' || " +
        "CASE WHEN doc_id % 5 = 0 THEN ':8080' ELSE '' END || " +
        "CASE WHEN doc_id % 11 = 0 THEN '' " +
        "ELSE '/Docs/' || lang || '/' || CAST(doc_id AS STRING) END " +
        "|| '?b=2&a=1'"

  /** The COMPOSED canonicalization spelling — regexp part extraction +
    * HOF param filtering/sorting — parameterized only by function
    * NAMES across dialects (split/filter/sort/join/startswith), so the
    * Spark `expr` form and the DuckDB oracle form are the same
    * expression tree by construction. This spelling DEFINES the
    * semantics; the codegen'd `url_canon` kernel
    * ([[graft.functions.UrlCanonKernels]]) is the hot path, and
    * TextAnalysisSpec pins kernel ≡ this spelling bit-exactly on the
    * gate URLs plus an adversarial planted set. Rules: lowercase
    * scheme+host, strip default port, strip trailing slashes (empty
    * path → '/'), drop empty/tracking params (utm_/ref=/fbclid=/
    * gclid=), sort survivors in UTF-8 byte order, drop the fragment;
    * a non-`scheme://` input passes through unchanged. */
  private[graft] def t14CanonSql(url: String, spark: Boolean): String = {
    val split = if (spark) "split" else "string_split"
    val fil = if (spark) "filter" else "list_filter"
    val srt = if (spark) "array_sort" else "list_sort"
    val join = if (spark) "array_join" else "array_to_string"
    val sw = if (spark) "startswith" else "starts_with"
    val schemeRaw = s"regexp_extract($url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)"
    val rest = s"regexp_replace($url, '^[A-Za-z][A-Za-z0-9+.-]*://', '')"
    val hostport = s"regexp_extract($rest, '^([^/?#]*)', 1)"
    val tail = s"substr($rest, length($hostport) + 1)"
    val host = s"lower(regexp_extract($hostport, '^([^:]*)', 1))"
    val port = s"regexp_extract($hostport, ':([0-9]+)$$', 1)"
    val path = s"regexp_extract($tail, '^([^?#]*)', 1)"
    val query = s"regexp_extract($tail, '^[^?#]*[?]([^#]*)', 1)"
    val scheme = s"lower($schemeRaw)"
    val portPart = s"CASE WHEN $port = '' OR ($scheme = 'https' AND " +
      s"$port = '443') OR ($scheme = 'http' AND $port = '80') " +
      s"THEN '' ELSE ':' || $port END"
    val stripped = s"regexp_replace($path, '/+$$', '')"
    val cpath = s"CASE WHEN $stripped = '' THEN '/' ELSE $stripped END"
    val pred = s"x -> x <> '' AND NOT $sw(x, 'utm_') AND NOT $sw(x, 'ref=')" +
      s" AND NOT $sw(x, 'fbclid=') AND NOT $sw(x, 'gclid=')"
    val params = s"$join($srt($fil($split($query, '&'), $pred)), '&')"
    s"CASE WHEN $schemeRaw = '' THEN $url ELSE $scheme || '://' || $host " +
      s"|| $portPart || $cpath || " +
      s"(CASE WHEN $params = '' THEN '' ELSE '?' || $params END) END"
  }

  /** The (doc_id, variant, url) frame both t14 and d13 canonicalize. */
  private def t14Urls(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("lang"), col("source"))
      .withColumn("variant", explode(array(lit(0), lit(1))))
      .withColumn("url", when(col("variant") === 0, expr(t14UrlSql(0)))
        .otherwise(expr(t14UrlSql(1))))
      .select("doc_id", "variant", "url")

  /** t14: URL CANONICALIZATION — the normalization every crawl
    * pipeline applies before URL-level dedup (C4/RefinedWeb lineage):
    * the same page arrives under case-shifted hosts, default ports,
    * shuffled tracking params and fragments, and must collapse to one
    * key BEFORE any content is fetched or compared. The hot path is
    * the codegen'd [[graft.functions.UrlCanon]] kernel (one scan-local
    * projection, zero shuffles beyond the presentation sort — at
    * 100 TB this runs at read bandwidth inside whole-stage codegen);
    * the DuckDB oracle runs the composed [[t14CanonSql]] spelling, so
    * the gate hash-proves kernel ≡ SQL semantics per row. */
  def t14UrlCanonicalize(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t14Urls(s, dir)
      .withColumn("canon", expr("url_canon(url)"))
      .orderBy("doc_id", "variant")
  }

  /** d13: URL-LEVEL DEDUP on the canonical key — group by
    * `url_canon(url)`, count spellings and distinct docs, keep the
    * lowest (doc_id, variant) as the canonical representative. The
    * argmin is INTEGER-ENCODED (k = doc_id·2 + variant, keeper =
    * min(k) decomposed) — exact in both engines with no struct-min
    * or row_number machinery. Scale shape: scan-local kernel, then
    * TWO keyed exchanges (count(DISTINCT doc_id) plans the standard
    * two-phase — partial dedup on (canon, doc_id), re-key on canon;
    * all phases keep map-side partials) + the presentation sort —
    * the cheapest dedup tier a lake runs (before any content
    * hashing), linear at 100 TB. */
  def d13UrlDedup(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    t14Urls(s, dir)
      .withColumn("canon", expr("url_canon(url)"))
      .withColumn("k", col("doc_id") * 2 + col("variant"))
      .groupBy("canon")
      .agg(count(lit(1)).as("n_dupes"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("k")).as("kk"))
      .select(col("canon"), col("n_dupes"), col("n_docs"),
        expr("kk div 2").as("keeper_doc"),
        (col("kk") % 2).as("keeper_variant"))
      .orderBy("canon")
  }

  // ----------------------------------------------------------------- t16

  /** Keywords kept per document. */
  val T16TopK = 3

  /** The integer-micro-unit IDF, spelled ONCE and parsed by both
    * engines (the s4 discipline): `ln(n_docs/df)` is the only
    * transcendental, rounded to 6 decimals AT BIRTH, then scaled to
    * micro-units via `floor(x*1e6 + 0.5)` (the c17 cents pattern —
    * `CAST(double AS BIGINT)` truncates in Spark but ROUNDS in
    * DuckDB, so the half-up floor is the one spelling both engines
    * agree on). Every literal is CAST to DOUBLE: a bare literal
    * parses DECIMAL in Spark but DOUBLE in DuckDB. */
  private def t16IdfMicroSql: String =
    "CAST(floor(round(ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6)" +
      " * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** t16: per-document KEYWORD extraction by corpus TF-IDF — the
    * labeling pass a curation stack runs to route documents (topic
    * work lists, per-domain mixtures, dataset-card "about" fields).
    * The LEXICAL dual of s4: BM25 scores a FIXED query against every
    * doc (so it filters to the query's postings and never builds the
    * vocabulary), while keyword extraction has NO query — the corpus
    * vocabulary IS the working set, so the tf⋈df join is a KEYED
    * shuffle on the word, deliberately not a broadcast (a 100 TB
    * crawl's vocabulary is billions of terms; s4's broadcast-df
    * shortcut is exactly what does NOT survive here).
    *
    * Score: `tf · idf_micro` with [[t16IdfMicroSql]]'s integer
    * micro-unit IDF — everything after the one rounded `ln` is
    * order-free Long arithmetic, bit-identical across engines and
    * partitionings. Stopwords excluded (df-head words carry no
    * signal; the q20 list). Top-[[T16TopK]] per doc by
    * (score DESC, word ASC) — a deterministic total order — via
    * row_number, which plans as WindowGroupLimit: the rank cut
    * happens map-side before the window shuffle moves data.
    *
    * Scale shape: tf = one keyed shuffle on (doc_id, word) with
    * map-side partials; df = one keyed shuffle on word over the
    * ALREADY-COLLAPSED tf frame (bounded by per-doc distinct terms,
    * not token instances); the scalar n_docs rides a 1-row
    * broadcast; the per-doc window shuffles on doc_id once. Four
    * keyed exchanges, all linear in the collapsed frames — no
    * corpus-sized sort, no vocabulary broadcast. */
  def t16Keywords(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "text.t16") { sc =>
      val docs = Tables.documentsSpread(s, dir)
      // TWO consumers (the df aggregation below and the tf⋈df join
      // probe): un-materialized, the corpus explode + keyed collapse
      // ran twice per query — once per consumer
      val tf = sc.cut(docs
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> x <> '')")).as("word"))
        .filter(!col("word").isin(Relational.stopwords: _*))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("tf")))
      val dfT = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val nd = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score_micro").desc, col("word"))
      tf.join(dfT, "word")
        .crossJoin(broadcast(nd))
        .withColumn("score_micro", col("tf") * expr(t16IdfMicroSql))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= T16TopK)
        .select(col("doc_id"), col("word"), col("tf"), col("df"),
          col("score_micro"), col("rk"))
        .orderBy("doc_id", "rk")
    }

  // ----------------------------------------------------------------- t17

  /** t17 hashed word-vocabulary size: word-bigram counts live on a
    * [[T17Buckets]]² bucket grid (the hashing trick at the BIGRAM
    * level — the model stays broadcast-bounded at ≤ B² observed
    * pairs whatever the vocabulary; 1024² caps it at ~1M counters). */
  final val T17Buckets = 1024
  /** t17 planting: docs with doc_id % this == 0 get 40 doc-unique
    * gibberish tokens appended — 40 once-in-the-corpus transitions,
    * the high-perplexity tail the filter exists to catch. */
  final val T17PlantMod = 11
  final val T17PlantK = 40
  /** Width (micro-nats) of the NLL-histogram range buckets the
    * cumulative counts are computed within — [[t17CcnetPpl]]'s
    * two-phase prefix sum (the c23 pattern). 2^14 spans the observed
    * per-doc NLL band (~[5e6, 14e6]) with a few hundred buckets. */
  final val T17HistB = 16384L

  /** The per-bigram log-probability in integer MICRO-NATS, spelled
    * once for both engines (the s4/t15 ln discipline): add-1-smoothed
    * `ln((c+1)/(cu+B))`, rounded to 6 decimals at birth, scaled by
    * the half-up floor. Expects columns c (bigram-bucket count) and
    * cu (preceding-bucket count). */
  private def t17LpMicroSql: String =
    s"CAST(floor(round(ln((c + CAST(1.0 AS DOUBLE)) / " +
      s"(cu + CAST($T17Buckets.0 AS DOUBLE))), 6) * " +
      s"CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** A word's model bucket: first 3 md5 nibbles mod [[T17Buckets]]. */
  private def t17Bucket(w: org.apache.spark.sql.Column) =
    conv(substring(md5(w), 1, 3), 16, 10).cast("int") % T17Buckets

  private def sqlT17Bucket(w: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5($w), $i, 1)) - 1)"
    s"CAST((${nib(1)} * 256 + ${nib(2)} * 16 + ${nib(3)}) % $T17Buckets " +
      "AS INTEGER)"
  }

  /** The whole t17 derivation as DuckDB CTE text ending at
    * `t17q(doc_id, n_bigrams, nll_micro, ppl_bucket)` — shared by the
    * t17 oracle and c25's curriculum oracle (which orders BY the
    * tercile this computes), the sqlCappedProfilesCtes pattern. */
  private[operators] def sqlT17Ctes: String = {
    val plantArgs = (1 to T17PlantK)
      .map(k => s"'zq' || doc_id || 'x$k'").mkString(", ")
    s"""pdocs AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % $T17PlantMod = 0
       |      THEN concat_ws(' ', text, $plantArgs)
       |      ELSE text END AS ptext
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id,
       |    list_filter(string_split(ptext, ' '), x -> x <> '') AS ts
       |  FROM pdocs),
       |sq AS (
       |  SELECT doc_id, generate_subscripts(ts, 1) AS i, unnest(ts) AS w
       |  FROM tk),
       |bk AS (
       |  SELECT doc_id, i, ${sqlT17Bucket("w")} AS b FROM sq),
       |big AS (
       |  SELECT a.doc_id, a.b AS pb, c2.b AS cb
       |  FROM bk a JOIN bk c2 ON a.doc_id = c2.doc_id AND c2.i = a.i + 1),
       |bc AS (
       |  SELECT pb, cb, CAST(count(*) AS BIGINT) AS c
       |  FROM big GROUP BY pb, cb),
       |ucq AS (SELECT pb, CAST(sum(c) AS BIGINT) AS cu FROM bc GROUP BY pb),
       |lpq AS (
       |  SELECT doc_id, ${t17LpMicroSql} AS lp
       |  FROM big JOIN bc USING (pb, cb) JOIN ucq USING (pb)),
       |d AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    (-sum(lp)) // count(*) AS nll_micro
       |  FROM lpq GROUP BY doc_id),
       |hist AS (SELECT nll_micro, count(*) AS hc FROM d GROUP BY nll_micro),
       |cq AS (
       |  SELECT nll_micro, sum(hc) OVER (ORDER BY nll_micro
       |    ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
       |ndq AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d),
       |thr AS (
       |  SELECT min(CASE WHEN cum * 100 >= nd * 33 THEN nll_micro END)
       |      AS t33,
       |    min(CASE WHEN cum * 100 >= nd * 67 THEN nll_micro END) AS t67
       |  FROM cq, ndq),
       |t17q AS (
       |  SELECT doc_id, n_bigrams, CAST(nll_micro AS BIGINT) AS nll_micro,
       |    CASE WHEN nll_micro <= t33 THEN 'head'
       |      WHEN nll_micro <= t67 THEN 'middle'
       |      ELSE 'tail' END AS ppl_bucket
       |  FROM d, thr)""".stripMargin
  }

  /** The t17 planting column: [[T17PlantK]] doc-unique tokens appended
    * via concat_ws (shared spelling with the oracle). */
  private def t17Planted: org.apache.spark.sql.Column = {
    val pieces = (1 to T17PlantK).map(k =>
      concat(lit("zq"), col("doc_id"), lit(s"x$k")))
    when(col("doc_id") % T17PlantMod === 0,
      concat_ws(" ", (col("text") +: pieces): _*))
      .otherwise(col("text"))
  }

  /** t17: hashed word-bigram LM PERPLEXITY terciles — the actual
    * CCNet shape (Wenzek et al. 2020): score every doc with a
    * language-model negative log-likelihood and split the corpus into
    * HEAD / MIDDLE / TAIL perplexity terciles (CCNet trains KenLM
    * offline; here the corpus's own hashed-bigram counts are the
    * model, the t8 self-training pattern one level up — t8 flags by
    * RARE-bigram fraction, t17 scores a real LM log-probability with
    * add-1 smoothing and buckets RELATIVELY). Terciles instead of a
    * fixed NLL floor because absolute perplexity drifts with the
    * corpus (measured: the organic NLL band at sf0.001 and the
    * PLANTED band at sf0.1 overlap — no fixed threshold separates at
    * every SF; CCNet's percentile buckets are the production answer
    * to exactly that drift).
    *
    * All arithmetic after the one rounded `ln` ([[t17LpMicroSql]]) is
    * order-free integer: per-doc NLL = (−Σ lp_micro) div n_bigrams,
    * tercile thresholds by the c22 nearest-rank rule on the NLL
    * histogram (smallest value with cum·100 ≥ 33·n / 67·n), bucket
    * by integer compare. Scale shape: bigrams are built SCAN-LOCAL
    * (an index-zip over the token array — no positional self-join);
    * the model is ≤ B² observed-pair counts (one keyed shuffle,
    * map-side partials; unigram counts derived FROM the pair counts,
    * not a second corpus pass) joined back as a broadcast; the only
    * corpus-keyed shuffle is the per-doc re-aggregation (the t8
    * scaladoc documents the kernel upgrade path that removes it —
    * here the model is 1M entries, so the join spelling is the
    * honest baseline); thresholds ride a doc-level histogram.
    *
    * The NLL histogram is DOC-cardinality in the worst case (per-doc
    * integer averages rarely collide), so the cumulative counts do
    * NOT run in one unpartitioned window (one task would hold every
    * doc's value): c23's
    * two-phase enumeration instead — per-doc NLLs are nonnegative
    * (lp ≤ 0 by construction), so `nll div` [[T17HistB]] buckets are
    * lexicographic RANGES of the value; in-bucket cumulative sums run
    * as a few hundred parallel windows, an exclusive prefix sum of
    * bucket totals (the only serial frame, bucket-count-sized)
    * broadcasts back, cum = offset + in-bucket cum. The oracle keeps
    * the ONE-window global spelling, so hash-equality proves the
    * two-phase cum ≡ the global scan. */
  def t17CcnetPpl(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "text.t17")(t17CcnetPpl(_, dir))

  /** [[t17CcnetPpl]] with its cuts in the caller's scope. */
  private[graft] def t17CcnetPpl(sc: graft.Artifacts.Scope,
      dir: String): DataFrame =
    t17Terciles(sc, t17NllKernel(sc, dir))

  /** Per-corpus trained [[graft.functions.CcnetLpGrid]], held per
    * SparkContext like the t8 model. The collect is bounded by
    * [[T17Buckets]]² observed pairs (≤ 1M rows however large the
    * corpus — the hashing trick IS the bound), and the broadcast grid
    * is 4 MB. */
  private type T17Model =
    org.apache.spark.broadcast.Broadcast[graft.functions.CcnetLpGrid]

  /** The per-doc bigram-key frame: ONE md5 per token inside the
    * codegen'd [[graft.functions.T17BigramKeys]] walk (the join
    * spelling paid two per bigram through the exploded struct), no
    * explode, one row per scoring-eligible doc. */
  private def t17Keys(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.documentsSpread(s, dir)
      .withColumn("ptext", t17Planted)
      .select(col("doc_id"),
        expr(s"t17_bigram_keys(ptext, $T17Buckets)").as("ks"))
      .filter(size(col("ks")) >= 1) // the join spelling's size(toks) >= 2
  }

  /** Per-doc (doc_id, n_bigrams, nll_micro) via the kernel path: train
    * (or cache-hit) the lp grid, then score each doc ROW-LOCALLY — one
    * broadcast array load per bigram, no model join, no per-doc
    * shuffle. The train pass explodes the keys frame once (native
    * explode of a long array, no HOF) into the B²-bounded pair count;
    * on a cache hit the query is a single corpus scan. TextAnalysisSpec
    * pins this bit-identical to [[t17NllJoinSpelling]] corpus-wide. */
  private[graft] def t17NllKernel(sc: graft.Artifacts.Scope,
      dir: String): DataFrame = {
    val s = sc.session
    var trainedOn: DataFrame = null
    val model: T17Model = graft.Artifacts.memo(s.sparkContext, "text.t17",
        Tables.fingerprint(s, dir, "documents")) {
      // two consumers on a miss (pair counts + scoring): cut the
      // subtree so the md5 walk runs once (the d8/q36 reuse rule)
      trainedOn = sc.cut(t17Keys(s, dir))
      val pairs = trainedOn.select(explode(col("ks")).as("k"))
        .groupBy("k").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      s.sparkContext.broadcast(
        graft.functions.CcnetLpGrid.build(pairs, T17Buckets))
    }
    val keys = Option(trainedOn).getOrElse(t17Keys(s, dir))
    val st = org.apache.spark.sql.graftbridge.GraftColumns.column(
      graft.functions.T17Nll(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("ks"),
        model))
    keys.select(col("doc_id"), st.as("st"))
      .select(col("doc_id"), col("st.n_bigrams").as("n_bigrams"),
        col("st.nll_micro").as("nll_micro"))
  }

  /** The retired join spelling of the per-doc NLL — model joined back
    * as broadcasts, lp computed per bigram instance, per-doc shuffle —
    * kept as the transparent ground truth the kernel spec runs against
    * (the t8CharlmFilterJoinSpelling discipline). */
  private[graft] def t17NllJoinSpelling(s: SparkSession,
      dir: String): DataFrame =
    graft.Artifacts.scoped(s, "text.t17JoinSpelling") { sc =>
      val pairs = sc.cut(Tables.documents(s, dir)
        .withColumn("ptext", t17Planted)
        .withColumn("toks", expr("filter(split(ptext, ' '), x -> x <> '')"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(element_at(toks, i) AS pw, " +
            "element_at(toks, i + 1) AS cw))")).as("p"))
        .select(col("doc_id"),
          t17Bucket(col("p.pw")).as("pb"), t17Bucket(col("p.cw")).as("cb")))
      val bc = pairs.groupBy("pb", "cb").agg(count(lit(1)).as("c"))
      val uc = bc.groupBy("pb").agg(sum("c").as("cu"))
      pairs
        .join(broadcast(bc), Seq("pb", "cb"))
        .join(broadcast(uc), Seq("pb"))
        .withColumn("lp", expr(t17LpMicroSql))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          expr("(-sum(lp)) div count(1)").as("nll_micro"))
    }

  /** Tercile bucketing over a per-doc (doc_id, n_bigrams, nll_micro)
    * frame — the two-phase histogram prefix sum described above.
    *
    * The histogram carries an explicit `hb IS NOT NULL`: it feeds both
    * the bucket offsets and the in-bucket sums, and the optimizer
    * infers that filter from the join of the two, but can push it into
    * the in-bucket copy only (the offsets' window has no partition key
    * for it to pass); the two copies then differ and the histogram
    * aggregates twice (t17 and c25 alike). No row changes: nll_micro
    * is never null (the kernel returns a null struct only for a null
    * key array, which the `size(ks) >= 1` filter already dropped). */
  private def t17Terciles(sc: graft.Artifacts.Scope,
      nllIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // nll serves three consumers (histogram, total count, the final
    // bucket projection) — cut it, it is doc-sized
    val nll = sc.cut(nllIn)
    val hist = nll.groupBy("nll_micro").agg(count(lit(1)).as("hc"))
      .withColumn("hb", expr(s"nll_micro div ${T17HistB}L"))
      .filter(col("hb").isNotNull)
    val inW = Window.partitionBy("hb").orderBy("nll_micro")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = hist.groupBy("hb").agg(sum("hc").as("bc"))
      .withColumn("off",
        coalesce(sum("bc").over(Window.orderBy("hb")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("hb", "off")
    val thr = hist
      .withColumn("incum", sum("hc").over(inW))
      .join(broadcast(offs), "hb")
      .withColumn("cum", col("incum") + col("off"))
      .crossJoin(broadcast(nll.agg(count(lit(1)).as("nd"))))
      .agg(min(when(col("cum") * 100 >= col("nd") * 33,
          col("nll_micro"))).as("t33"),
        min(when(col("cum") * 100 >= col("nd") * 67,
          col("nll_micro"))).as("t67"))
    nll.crossJoin(broadcast(thr))
      .select(col("doc_id"), col("n_bigrams"), col("nll_micro"),
        when(col("nll_micro") <= col("t33"), lit("head"))
          .when(col("nll_micro") <= col("t67"), lit("middle"))
          .otherwise(lit("tail")).as("ppl_bucket"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------------- t18

  /** Top |contribution| movers t18 reports beside the `~total` row. */
  final val T18TopK = 15

  /** The per-token KL contribution in integer NANO-NATS, spelled once
    * for both engines: with p = (c1+1)/(n1+v), q = (c2+1)/(n2+v)
    * (add-1 smoothing over the union vocabulary), contrib =
    * p·ln(p/q), the `ln` rounded to 6 decimals at birth (the s4/t16
    * discipline — the gate's one transcendental), every other factor
    * an IEEE-deterministic division/product, scaled by the half-up
    * floor. Expects columns c1, c2, n1, n2, v. */
  private def t18ContribSql: String =
    "CAST(floor(" +
      "(CAST(c1 + 1 AS DOUBLE) / CAST(n1 + v AS DOUBLE)) * " +
      "round(ln((CAST(c1 + 1 AS DOUBLE) / CAST(n1 + v AS DOUBLE)) / " +
      "(CAST(c2 + 1 AS DOUBLE) / CAST(n2 + v AS DOUBLE))), 6) * " +
      "CAST(1000000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** t18: TOKEN-DISTRIBUTION DRIFT between corpus snapshots — the
    * data-drift monitor a lake runs between crawls (scraper
    * regressions, domain shifts, boilerplate injections move the
    * token distribution long before any per-doc quality rule fires):
    * smoothed KL(v1 ‖ v2) over the union vocabulary, reported as the
    * `~total` nano-nat sum plus the top-[[T18TopK]] per-token movers
    * by |contribution| — the artifact a drift alert links to ("which
    * tokens moved"). v2 is c12's genuinely-staged second snapshot
    * (its ` [rev2]` marker token is new in v2, so the planted drift
    * has a known top mover, spec-asserted).
    *
    * After the one rounded `ln` everything is an order-free BIGINT
    * sum. Scale shape: two vocab-keyed combinable counts (the q13
    * shuffle), one vocab-sized full-outer join, a 1-row totals
    * broadcast, contributions scan-local, TakeOrdered movers + a
    * 1-row total — vocabulary-bounded throughout, never corpus-row
    * state. */
  def t18KlDrift(s: SparkSession, dir: String): DataFrame = {
    def counts(df: DataFrame, as: String) = df
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')"))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as(as))
    val c1 = counts(Tables.documentsSpread(s, dir).select("text"), "c1")
    val c2 = counts(
      Tables.parquet(s, Curation.c12SnapshotPath(s, dir)).select("text"), "c2")
    val j = c1.join(c2, Seq("word"), "full_outer")
      .select(col("word"), coalesce(col("c1"), lit(0L)).as("c1"),
        coalesce(col("c2"), lit(0L)).as("c2"))
    val tot = j.agg(sum("c1").as("n1"), sum("c2").as("n2"),
      count(lit(1)).as("v"))
    val k = j.crossJoin(broadcast(tot))
      .withColumn("contrib_nano", expr(t18ContribSql))
      .select("word", "c1", "c2", "contrib_nano")
    val movers = k
      .orderBy(abs(col("contrib_nano")).desc, col("word"))
      .limit(T18TopK)
    val total = k.agg(sum("c1").as("c1"), sum("c2").as("c2"),
        sum("contrib_nano").as("contrib_nano"))
      .select(lit("~total").as("word"), col("c1"), col("c2"),
        col("contrib_nano"))
    movers.unionAll(total).orderBy("word")
  }

  // ----------------------------------------------------------------- t19

  /** Training-sequence length (tokens) for t19 packing. */
  val T19SeqLen = 128
  /** Packing shards — production sets this in the thousands (one window
    * sort per shard); the gate keeps 8 so each shard carries multiple
    * sequences at every SF. */
  val T19Shards = 8

  /** t19: SEQUENCE PACKING — the pretraining "concat-and-chunk" step
    * that turns a ragged document corpus into fixed-length training
    * sequences (GPT-style packing: documents are concatenated in a
    * deterministic order and split every [[T19SeqLen]] tokens, so a
    * document may span sequence boundaries and a sequence may hold
    * many documents). Distinct from c6 by design: c6 packs WHOLE
    * documents (no splits — a sequence may run over budget by one
    * doc); t19 cuts exactly, so every sequence but each shard's tail
    * is full — the zero-padding-waste layout attention masks are
    * built for. The output is the PACKING MANIFEST — one row per
    * (document, sequence) piece: which slice of the doc
    * (`tok_start`, `tok_len`) lands at which offset (`seq_off`) of
    * which training sequence (`shard`, `seq_id`) — the index a
    * tokenizer-writer job joins against to emit the actual token
    * shards. Every sequence except the last of each shard is exactly
    * full (TextAnalysisSpec pins the invariants).
    *
    * Scale shape: packing is a PREFIX SUM, so a single global order
    * would serialize the corpus through one sort. Instead docs hash
    * into [[T19Shards]] independent streams (doc_id % shards — the
    * production spelling shards by the same key the corpus is already
    * bucketed on) and each shard packs independently: one hash
    * shuffle + per-shard window cumsum, embarrassingly parallel
    * across shards, deterministic given (shard, doc_id) order. All
    * arithmetic is integral — the oracle is exact, no rounding.
    *
    * Reference anchor: the course stops at per-doc token counts
    * (luigi/wordcount_map_reduce.py:24-43 → t3); packing is the
    * standard next step of a public LLM data pipeline (e.g. the
    * "packed dataset" construction in public pretraining codebases). */
  def t19SeqPack(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val L = T19SeqLen
    val tok = Tables.documentsSpread(s, dir)
      .withColumn("shard", (col("doc_id") % T19Shards).cast("int"))
      .withColumn("tok",
        size(TextOps.toksOf("text")).cast("long"))
      .filter(col("tok") > 0)
      .select("doc_id", "shard", "tok")
    val w = Window.partitionBy("shard").orderBy("doc_id")
    tok
      .withColumn("prev", sum("tok").over(w) - col("tok"))
      .withColumn("seq_id",
        explode(expr(s"sequence(prev div $L, (prev + tok - 1) div $L)")))
      .withColumn("tok_start",
        greatest(lit(0L), col("seq_id") * L - col("prev")))
      .withColumn("tok_len",
        least(col("tok"), (col("seq_id") + 1) * L - col("prev"))
          - col("tok_start"))
      .withColumn("seq_off",
        col("prev") + col("tok_start") - col("seq_id") * L)
      .select("shard", "seq_id", "doc_id", "tok_start", "tok_len", "seq_off")
      .orderBy("shard", "seq_id", "doc_id")
  }

  // ---------------------------------------------------------------- oracle

  /** The whole t19 packing derivation as DuckDB CTE text ending at
    * `t19m(shard, seq_id, doc_id, tok_start, tok_len, seq_off)` — ONE
    * spelling of the manifest algebra shared by the t19 oracle and
    * st15's closed-sequence aggregation oracle (the t17/c25 shared-CTE
    * discipline: the two oracles cannot drift on what the packing is). */
  private[graft] def t19ManifestCtes: String =
    s"""t19tok AS (
       |  SELECT doc_id, CAST(doc_id % $T19Shards AS INTEGER) AS shard,
       |    CAST(len(${TextOps.sqlToksOf("text")}) AS BIGINT) AS tok
       |  FROM documents),
       |t19cum AS (
       |  SELECT doc_id, shard, tok,
       |    CAST(sum(tok) OVER (PARTITION BY shard ORDER BY doc_id) - tok
       |      AS BIGINT) AS prev
       |  FROM t19tok WHERE tok > 0),
       |t19ex AS (
       |  SELECT doc_id, shard, tok, prev,
       |    unnest(generate_series(prev // $T19SeqLen,
       |                           (prev + tok - 1) // $T19SeqLen)) AS seq_id
       |  FROM t19cum),
       |t19m AS (
       |  SELECT shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
       |    CAST(GREATEST(0, seq_id * $T19SeqLen - prev) AS BIGINT)
       |      AS tok_start,
       |    CAST(LEAST(tok, (seq_id + 1) * $T19SeqLen - prev)
       |         - GREATEST(0, seq_id * $T19SeqLen - prev) AS BIGINT)
       |      AS tok_len,
       |    CAST(prev + GREATEST(0, seq_id * $T19SeqLen - prev)
       |         - seq_id * $T19SeqLen AS BIGINT) AS seq_off
       |  FROM t19ex)""".stripMargin

  /** Stop-word IN-list shared by the t2 and c1 oracles. */
  private[operators] val sqlStopList: String =
    Relational.stopwords.map(w => s"'$w'").mkString(", ")

  /** t2's quality-score formula, shared by the t2 and c1 oracles so
    * the composition cannot drift from its stage. Guarded at n_tok=0:
    * Spark's 0/0 is NULL (dropped by any threshold filter) but
    * DuckDB's is NaN, which compares GREATEST and would PASS one. */
  private[operators] def sqlScore(nStop: String, nTok: String): String =
    s"""CASE WHEN $nTok = 0 THEN 0.0
       |    ELSE ($nStop / $nTok) * 0.5
       |      + least(CAST($nTok AS DOUBLE) / 100.0, CAST(1.0 AS DOUBLE))
       |        * 0.5 END""".stripMargin

  private val sqlToksCte: String =
    s"""WITH norm_t AS (
       |  SELECT doc_id, lang, ${TextOps.sqlNormText} AS norm FROM documents),
       |tok_t AS (SELECT *, ${TextOps.sqlToks} AS toks FROM norm_t)""".stripMargin

  /** t12's plant strings as DuckDB SQL expressions — the Scala literals
    * carry real newlines, so the SQL spells them `chr(10)` piece by
    * piece (a raw newline inside a SQL literal survives DuckDB but not
    * a round-trip through the dumped oracle_sql.json readably). */
  private def sqlT12Plant(plant: String): String =
    plant.split("\n", -1).map(p => s"'${p}'")
      .mkString(" || chr(10) || ").stripPrefix("'' || ")

  /** DuckDB `urls` CTE shared by the t14/d13 oracles — the SAME
    * dialect-neutral construction fragments the Spark side runs. */
  private def t14UrlsCte: String =
    s"""urls AS (
       |  SELECT doc_id, 0 AS variant, ${t14UrlSql(0)} AS url FROM documents
       |  UNION ALL
       |  SELECT doc_id, 1 AS variant, ${t14UrlSql(1)} AS url FROM documents)"""
      .stripMargin

  val oracle: Map[String, String] = Map(
    // identical construction fragments; the composed t14CanonSql
    // spelling in the DuckDB dialect vs the url_canon kernel on the
    // Spark side — the gate hash-proves kernel ≡ SQL semantics
    "t14_url_canonicalize" ->
      s"""WITH $t14UrlsCte
         |SELECT doc_id, variant, url,
         |  ${t14CanonSql("url", spark = false)} AS canon
         |FROM urls ORDER BY doc_id, variant""".stripMargin,
    // integer-encoded argmin keeper (k = doc_id*2 + variant)
    "d13_url_dedup" ->
      s"""WITH $t14UrlsCte,
         |c AS (
         |  SELECT doc_id, variant,
         |    ${t14CanonSql("url", spark = false)} AS canon,
         |    doc_id * 2 + variant AS k
         |  FROM urls)
         |SELECT canon, CAST(count(*) AS BIGINT) AS n_dupes,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(min(k) // 2 AS BIGINT) AS keeper_doc,
         |  CAST(min(k) % 2 AS BIGINT) AS keeper_variant
         |FROM c GROUP BY canon ORDER BY canon""".stripMargin,
    // same planting CASEs, same line/word splits (chr(10) mirrors the
    // Scala literal's newlines), same integer rationals on every rule —
    // no float crosses the gate; the counter CTEs are the SHARED
    // [[sqlGopherCtes]] spelling (also composed by the c30 DAG oracle)
    "t12_gopher_rules" ->
      s"""WITH planted AS (
         |  SELECT doc_id, CASE
         |    WHEN doc_id % $T12PlantModA = 0 AND doc_id % $T12PlantModB = 0
         |      THEN text || ${sqlT12Plant(T12PlantA)} || ${sqlT12Plant(T12PlantB)}
         |    WHEN doc_id % $T12PlantModA = 0
         |      THEN text || ${sqlT12Plant(T12PlantA)}
         |    WHEN doc_id % $T12PlantModB = 0
         |      THEN text || ${sqlT12Plant(T12PlantB)}
         |    ELSE text END AS ptext
         |  FROM documents),
         |${sqlGopherCtes("planted", "ptext", "t12")},
         |c AS (SELECT * FROM gc_t12)
         |SELECT doc_id,
         |  CAST(n_words AS INTEGER) AS n_words,
         |  CAST(n_lines AS INTEGER) AS n_lines,
         |  CAST(char_sum AS INTEGER) AS char_sum,
         |  CAST(n_sym AS INTEGER) AS n_sym,
         |  CAST(n_bullet AS INTEGER) AS n_bullet,
         |  CAST(n_ellend AS INTEGER) AS n_ellend,
         |  CAST(n_alpha AS INTEGER) AS n_alpha,
         |  CAST(n_stop AS INTEGER) AS n_stop,
         |  (n_words >= 20 AND n_words <= 100000) AS r_words,
         |  (n_words * 3 <= char_sum AND char_sum <= n_words * 10)
         |    AS r_meanlen,
         |  (n_sym * 10 < n_words) AS r_symbol,
         |  (n_bullet * 10 < n_lines * 9) AS r_bullet,
         |  (n_ellend * 10 < n_lines * 3) AS r_ellipsis,
         |  (n_alpha * 10 > n_words * 8) AS r_alpha,
         |  (n_stop >= 2) AS r_stop,
         |  ((n_words >= 20 AND n_words <= 100000)
         |    AND (n_words * 3 <= char_sum AND char_sum <= n_words * 10)
         |    AND (n_sym * 10 < n_words)
         |    AND (n_bullet * 10 < n_lines * 9)
         |    AND (n_ellend * 10 < n_lines * 3)
         |    AND (n_alpha * 10 > n_words * 8)
         |    AND (n_stop >= 2)) AS passes_gopher
         |FROM c ORDER BY doc_id""".stripMargin,
    // same planting CASE, same bigram clamp (generate_series mirrors the
    // kernel's max(n-1,1); substr is character-based like
    // UTF8String.substring), same integer rarity/flag rationals — the
    // gate never compares a float. DuckDB's sum(c) is DECIMAL(38,0) vs
    // Spark's BIGINT, but `t` never crosses the gate (comparisons with
    // it are exact in both engines).
    "t8_charlm_filter" ->
      s"""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % $T8PlantMod = 0
         |    THEN text || ' ' || repeat('$T8PlantChunk ', $T8PlantReps)
         |    ELSE text END AS text
         |  FROM documents),
         |norm_t AS (SELECT doc_id, ${TextOps.sqlNormText} AS norm
         |  FROM planted),
         |bg AS (
         |  SELECT doc_id, unnest(list_transform(
         |    generate_series(1, greatest(length(norm) - 1, 1)),
         |    i -> substr(norm, i, 2))) AS b
         |  FROM norm_t),
         |counts AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
         |tot AS (SELECT sum(c) AS t FROM counts),
         |scored AS (
         |  SELECT bg.doc_id, count(*) AS n_bigrams,
         |    count(*) FILTER (c * $T8RareDen < t) AS n_rare
         |  FROM bg JOIN counts USING (b), tot
         |  GROUP BY bg.doc_id)
         |SELECT doc_id, CAST(n_bigrams AS INTEGER) AS n_bigrams,
         |  CAST(n_rare AS INTEGER) AS n_rare,
         |  (n_rare * $T8FlagDen > n_bigrams) AS is_atypical
         |FROM scored ORDER BY doc_id""".stripMargin,
    // same planting CASE, same shingle arithmetic; the flag is an exact
    // integer rational so no float crosses the gate
    "t7_rep_ngrams" ->
      s"""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % $T7PlantMod = 0
         |    THEN text || ' ' || repeat('$T7PlantPhrase ', $T7PlantReps)
         |    ELSE text END AS text
         |  FROM documents),
         |norm_t AS (SELECT doc_id, ${TextOps.sqlNormText} AS norm
         |  FROM planted),
         |tok_t AS (SELECT doc_id, ${TextOps.sqlToks} AS toks FROM norm_t),
         |sh_t AS (SELECT doc_id, ${TextOps.sqlShinglesW(3)} AS sh
         |  FROM tok_t)
         |SELECT doc_id, CAST(len(sh) AS INTEGER) AS n_sh3,
         |  CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct3,
         |  (len(list_distinct(sh)) * 5 < len(sh) * 4) AS is_repetitive
         |FROM sh_t ORDER BY doc_id""".stripMargin,
    // same planting CASE, same 5-gram shingle arithmetic, same
    // per-doc-distinct span stream on both the inventory and the
    // tagging side; the df floor and the flag are exact integer
    // comparisons so no float crosses the gate
    "t10_boilerplate_spans" ->
      s"""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % $T10PlantMod = 0
         |    THEN text || ' ' || '$T10Footer'
         |    ELSE text END AS text
         |  FROM documents),
         |norm_t AS (SELECT doc_id, ${TextOps.sqlNormText} AS norm
         |  FROM planted),
         |tok_t AS (SELECT doc_id, ${TextOps.sqlToks} AS toks FROM norm_t),
         |sp_t AS (SELECT doc_id,
         |  list_distinct(${TextOps.sqlShinglesW(T10SpanW)}) AS spans
         |  FROM tok_t),
         |pairs AS (SELECT doc_id, unnest(spans) AS span FROM sp_t),
         |freq AS (SELECT span FROM pairs GROUP BY span
         |  HAVING count(*) >= $T10MinDocs),
         |hits AS (SELECT doc_id, count(*) AS hit_cnt
         |  FROM pairs JOIN freq USING (span) GROUP BY doc_id)
         |SELECT s.doc_id, CAST(len(spans) AS INTEGER) AS n_spans,
         |  CAST(coalesce(h.hit_cnt, 0) AS INTEGER) AS n_frequent,
         |  (coalesce(h.hit_cnt, 0) * $T10FlagDen > len(spans))
         |    AS is_boilerplate
         |FROM sp_t s LEFT JOIN hits h USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // t11 mirrors the kernel's covering rule in window form: a word is
    // covered iff a corpus-frequent gram STARTS within its preceding
    // T10SpanW-1 positions (the gram list is end-clamped exactly like
    // word_shingles, so short docs yield one whole-doc gram); the
    // rebuild is an ordered FILTERed string_agg. Zipped unnests pair
    // each token/gram with its 1-based position. Integers + exact
    // strings only — no float crosses the gate.
    "t11_scrub_boilerplate" ->
      s"""WITH planted AS (
         |  SELECT doc_id, CASE WHEN doc_id % $T10PlantMod = 0
         |    THEN text || ' ' || '$T10Footer'
         |    ELSE text END AS text
         |  FROM documents),
         |norm_t AS (SELECT doc_id, ${TextOps.sqlNormText} AS norm
         |  FROM planted),
         |tok_t AS (SELECT doc_id, ${TextOps.sqlToks} AS toks FROM norm_t),
         |sp_t AS (SELECT doc_id,
         |  list_distinct(${TextOps.sqlShinglesW(T10SpanW)}) AS spans
         |  FROM tok_t),
         |pairs AS (SELECT doc_id, unnest(spans) AS span FROM sp_t),
         |freq AS (SELECT span FROM pairs GROUP BY span
         |  HAVING count(*) >= $T10MinDocs),
         |sh_t AS (SELECT doc_id,
         |  ${TextOps.sqlShinglesW(T10SpanW)} AS grams FROM tok_t),
         |starts AS (SELECT doc_id, unnest(grams) AS gram,
         |  unnest(generate_series(1, len(grams))) AS i FROM sh_t),
         |fstarts AS (SELECT doc_id, i, 1 AS flag
         |  FROM starts JOIN freq ON gram = span),
         |words AS (SELECT doc_id, unnest(toks) AS w,
         |  unnest(generate_series(1, len(toks))) AS i FROM tok_t),
         |cov AS (SELECT w.doc_id, w.w, w.i,
         |  max(coalesce(f.flag, 0)) OVER (PARTITION BY w.doc_id
         |    ORDER BY w.i ROWS BETWEEN ${T10SpanW - 1} PRECEDING
         |    AND CURRENT ROW) AS covered
         |  FROM words w LEFT JOIN fstarts f
         |    ON w.doc_id = f.doc_id AND w.i = f.i),
         |agg AS (SELECT doc_id,
         |  coalesce(string_agg(w, ' ' ORDER BY i)
         |    FILTER (WHERE covered = 0), '') AS clean_text,
         |  CAST(count(*) AS INTEGER) AS n_words,
         |  CAST(sum(covered) AS INTEGER) AS n_removed
         |  FROM cov GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.clean_text, '') AS clean_text,
         |  coalesce(a.n_words, 0) AS n_words,
         |  coalesce(a.n_removed, 0) AS n_removed
         |FROM tok_t t LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // same normalized text, same offset arithmetic (generate_series is
    // inclusive like Spark's sequence), same 1-based character substr
    "t9_doc_chunks" ->
      s"""WITH norm_t AS (
         |  SELECT doc_id, ${TextOps.sqlNormText} AS norm FROM documents),
         |off_t AS (
         |  SELECT doc_id, norm, unnest(generate_series(0,
         |    greatest(length(norm) - 1, 0), $T9Stride)) AS chunk_off
         |  FROM norm_t)
         |SELECT doc_id,
         |  CAST(chunk_off // $T9Stride AS INTEGER) AS chunk_idx,
         |  CAST(chunk_off AS INTEGER) AS chunk_off,
         |  substr(norm, CAST(chunk_off AS INTEGER) + 1, $T9ChunkChars)
         |    AS chunk,
         |  CAST(length(substr(norm, CAST(chunk_off AS INTEGER) + 1,
         |    $T9ChunkChars)) AS INTEGER) AS chunk_len
         |FROM off_t ORDER BY doc_id, chunk_idx""".stripMargin,
    // integral concat-and-chunk arithmetic replayed exactly: same
    // shard hash, same per-shard cumsum, same boundary algebra
    "t19_seq_pack" ->
      s"""WITH $t19ManifestCtes
         |SELECT shard, seq_id, doc_id, tok_start, tok_len, seq_off
         |FROM t19m ORDER BY shard, seq_id, doc_id""".stripMargin,
    // v2 replayed via the shared c12 CTEs; one shared contribution
    // spelling, ln rounded at birth, BIGINT sums
    "t18_kl_drift" ->
      s"""WITH ${Curation.sqlV2Ctes},
         |w1 AS (
         |  SELECT unnest(list_filter(string_split(text, ' '),
         |    x -> x <> '')) AS word FROM documents),
         |w2 AS (
         |  SELECT unnest(list_filter(string_split(text, ' '),
         |    x -> x <> '')) AS word FROM v2),
         |c1q AS (SELECT word, CAST(count(*) AS BIGINT) AS c1
         |  FROM w1 GROUP BY 1),
         |c2q AS (SELECT word, CAST(count(*) AS BIGINT) AS c2
         |  FROM w2 GROUP BY 1),
         |j AS (
         |  SELECT coalesce(c1q.word, c2q.word) AS word,
         |    coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
         |  FROM c1q FULL OUTER JOIN c2q ON c1q.word = c2q.word),
         |tot AS (
         |  SELECT CAST(sum(c1) AS BIGINT) AS n1,
         |    CAST(sum(c2) AS BIGINT) AS n2,
         |    CAST(count(*) AS BIGINT) AS v FROM j),
         |k AS (
         |  SELECT word, c1, c2, ${t18ContribSql} AS contrib_nano
         |  FROM j, tot),
         |mv AS (
         |  SELECT word, c1, c2, contrib_nano FROM k
         |  ORDER BY abs(contrib_nano) DESC, word LIMIT $T18TopK),
         |tt AS (
         |  SELECT '~total' AS word, CAST(sum(c1) AS BIGINT) AS c1,
         |    CAST(sum(c2) AS BIGINT) AS c2,
         |    CAST(sum(contrib_nano) AS BIGINT) AS contrib_nano FROM k)
         |SELECT * FROM (SELECT * FROM mv UNION ALL SELECT * FROM tt)
         |ORDER BY word""".stripMargin,
    // trained hashed-bigram LM replayed in SQL (the c10/t15
    // discipline), same one-line lp spelling, same nearest-rank
    // terciles — training AND relative bucketing are hash-verified
    "t17_ccnet_ppl" ->
      s"""WITH $sqlT17Ctes
         |SELECT doc_id, n_bigrams, nll_micro, ppl_bucket
         |FROM t17q ORDER BY doc_id""".stripMargin,
    // the same one-line IDF spelling Spark parses, so the only
    // transcendental rounds identically; all else is BIGINT math
    "t16_keywords" ->
      s"""WITH tfq AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id,
         |      unnest(list_filter(string_split(text, ' '),
         |        x -> x <> '')) AS word
         |    FROM documents)
         |  WHERE word NOT IN ($sqlStopList)
         |  GROUP BY doc_id, word),
         |dfq AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS df
         |  FROM tfq GROUP BY word),
         |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (
         |  SELECT doc_id, word, tf, df,
         |    tf * ${t16IdfMicroSql} AS score_micro
         |  FROM tfq JOIN dfq USING (word), nd),
         |rkd AS (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY doc_id ORDER BY score_micro DESC, word) AS rk
         |  FROM sc)
         |SELECT doc_id, word, tf, df, score_micro,
         |  CAST(rk AS INTEGER) AS rk
         |FROM rkd WHERE rk <= $T16TopK
         |ORDER BY doc_id, rk""".stripMargin,
    "t1_lang_id" -> {
      s"""$sqlToksCte
         |SELECT doc_id,
         |  ${sqlMarkerCount("en")} AS s_en,
         |  ${sqlMarkerCount("de")} AS s_de,
         |  ${sqlMarkerCount("es")} AS s_es,
         |  ${sqlMarkerCount("fr")} AS s_fr,
         |  CASE
         |    WHEN ${sqlMarkerCount("en")} >= ${sqlMarkerCount("de")}
         |     AND ${sqlMarkerCount("en")} >= ${sqlMarkerCount("es")}
         |     AND ${sqlMarkerCount("en")} >= ${sqlMarkerCount("fr")} THEN 'en'
         |    WHEN ${sqlMarkerCount("de")} >= ${sqlMarkerCount("es")}
         |     AND ${sqlMarkerCount("de")} >= ${sqlMarkerCount("fr")} THEN 'de'
         |    WHEN ${sqlMarkerCount("es")} >= ${sqlMarkerCount("fr")} THEN 'es'
         |    ELSE 'fr' END AS predicted,
         |  (CASE
         |    WHEN ${sqlMarkerCount("en")} >= ${sqlMarkerCount("de")}
         |     AND ${sqlMarkerCount("en")} >= ${sqlMarkerCount("es")}
         |     AND ${sqlMarkerCount("en")} >= ${sqlMarkerCount("fr")} THEN 'en'
         |    WHEN ${sqlMarkerCount("de")} >= ${sqlMarkerCount("es")}
         |     AND ${sqlMarkerCount("de")} >= ${sqlMarkerCount("fr")} THEN 'de'
         |    WHEN ${sqlMarkerCount("es")} >= ${sqlMarkerCount("fr")} THEN 'es'
         |    ELSE 'fr' END) = lang AS is_match
         |FROM tok_t ORDER BY doc_id""".stripMargin
    },
    "t2_quality_score" ->
      s"""$sqlToksCte,
         |m AS (SELECT doc_id, norm, toks,
         |  CAST(len(toks) AS INTEGER) AS n_tok,
         |  CAST(len(list_filter(toks, t -> t IN ($sqlStopList))) AS BIGINT)
         |    AS n_stop
         |FROM tok_t)
         |SELECT doc_id, n_tok,
         |  CASE WHEN n_tok = 0 THEN 0.0
         |    ELSE (length(norm) - (n_tok - 1)) / n_tok END AS avg_tok_len,
         |  CASE WHEN n_tok = 0 THEN 0.0 ELSE n_stop / n_tok END AS stop_ratio,
         |  ${sqlScore("n_stop", "n_tok")} AS score
         |FROM m ORDER BY doc_id""".stripMargin,
    "t3_token_count" ->
      s"""SELECT doc_id,
        |  CAST(len(${TextOps.sqlToksOf("text")}) AS INTEGER) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS INTEGER)
        |    AS re_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS INTEGER)
        |    AS bpe_pieces
        |FROM documents ORDER BY doc_id""".stripMargin,
    "t5_stratified_sample" ->
      s"""SELECT doc_id, lang, ${sqlSampleBucket("doc_id")} AS bucket
         |FROM documents
         |WHERE ${sqlSampleBucket("doc_id")} < $SamplePct
         |ORDER BY doc_id""".stripMargin,
    "t6_pii_redact" ->
      s"""WITH p AS (
         |  SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
         |    || '@example.com or call +1-555-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    || ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
         |    || '.0.' || CAST(doc_id % 250 AS VARCHAR)
         |    || ' card 4111-'
         |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |    || '-9012-'
         |    || lpad(CAST((doc_id * 7) % 10000 AS VARCHAR), 4, '0')
         |    || ' v1.2.3 build 999.1.1.1 order ORD4111222233334444 now'
         |    AS pii_text
         |  FROM documents),
         |r AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(pii_text, '$EmailRe')) AS INTEGER)
         |      AS n_emails,
         |    CAST(len(regexp_extract_all(pii_text, '$PhoneRe')) AS INTEGER)
         |      AS n_phones,
         |    CAST(len(regexp_extract_all(pii_text, '$Ipv4Re')) AS INTEGER)
         |      AS n_ips,
         |    CAST(len(regexp_extract_all(pii_text, '$CardRe')) AS INTEGER)
         |      AS n_cards,
         |    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
         |      pii_text, '$EmailRe', '<EMAIL>', 'g'),
         |      '$PhoneRe', '<PHONE>', 'g'),
         |      '$Ipv4Re', '<IP>', 'g'), '$CardRe', '<CARD>', 'g')
         |      AS redacted
         |  FROM p)
         |SELECT doc_id, n_emails, n_phones, n_ips, n_cards,
         |  md5(redacted) AS redacted_md5,
         |  CAST(len(regexp_extract_all(redacted, '$EmailRe'))
         |    + len(regexp_extract_all(redacted, '$PhoneRe'))
         |    + len(regexp_extract_all(redacted, '$Ipv4Re'))
         |    + len(regexp_extract_all(redacted, '$CardRe')) AS INTEGER)
         |    AS residual
         |FROM r ORDER BY doc_id""".stripMargin,
    "t4_fingerprint" ->
      s"""WITH norm_t AS (
         |  SELECT doc_id, ${TextOps.sqlNormText} AS norm FROM documents)
         |SELECT doc_id, md5(norm) AS fp_md5,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(norm, ''),
         |        c -> CAST(ascii(c) AS BIGINT))),
         |    (acc, c) -> (acc * 31 + c) % 1000000007) AS fp_roll
         |FROM norm_t ORDER BY doc_id""".stripMargin,
    // same T13Deco/T13Gap decoration bytes (interpolated verbatim),
    // DuckDB's utf8proc NFC vs java.text.Normalizer implement the same
    // Unicode tables, and the ws/control run regex is an explicit class
    // with identical semantics in RE2 and java.util.regex
    "t13_normalize" ->
      s"""SELECT doc_id,
         |  CAST(length(raw) AS INTEGER) AS n_raw,
         |  CAST(length(norm) AS INTEGER) AS n_norm,
         |  CAST(CASE WHEN norm <> raw THEN 1 ELSE 0 END AS INTEGER)
         |    AS changed,
         |  norm
         |FROM (
         |  SELECT doc_id, raw,
         |    trim(regexp_replace(nfc_normalize(raw), '$T13WsRe', ' ', 'g'))
         |      AS norm
         |  FROM (
         |    SELECT doc_id,
         |      (CASE doc_id % 3 WHEN 0 THEN '${T13Deco(0)}'
         |        WHEN 1 THEN '${T13Deco(1)}'
         |        ELSE '${T13Deco(2)}' END) ||
         |      (CASE WHEN doc_id % 2 = 0 THEN '$T13Gap' ELSE ' ' END) ||
         |      text AS raw
         |    FROM documents) a) b
         |ORDER BY doc_id""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t1_lang_id" -> t1LangId,
    "t2_quality_score" -> t2QualityScore,
    "t3_token_count" -> t3TokenCount,
    "t4_fingerprint" -> t4Fingerprint,
    "t5_stratified_sample" -> ((s, dir) => t5StratifiedSample(s, dir)),
    "t6_pii_redact" -> t6PiiRedact,
    "t7_rep_ngrams" -> t7RepNgrams,
    "t8_charlm_filter" -> t8CharlmFilter,
    "t9_doc_chunks" -> t9DocChunks,
    "t10_boilerplate_spans" -> t10BoilerplateSpans,
    "t11_scrub_boilerplate" -> t11ScrubBoilerplate,
    "t12_gopher_rules" -> t12GopherRules,
    "t13_normalize" -> t13Normalize,
    "t14_url_canonicalize" -> t14UrlCanonicalize,
    "t16_keywords" -> t16Keywords,
    "t17_ccnet_ppl" -> t17CcnetPpl,
    "t18_kl_drift" -> t18KlDrift,
    "t19_seq_pack" -> t19SeqPack,
    "d13_url_dedup" -> d13UrlDedup,
  )
}
