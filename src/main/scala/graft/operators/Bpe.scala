package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Byte-pair-encoding VOCABULARY TRAINING — the tokenizer-fit step at
  * the head of every LLM data pipeline (Sennrich et al. 2016; the
  * word-count-first formulation every production trainer uses:
  * HF-tokenizers and SentencePiece aggregate the corpus to a word
  * frequency table, then iterate merges over the VOCAB, never over the
  * corpus).
  *
  * Split of labor at 100 TB: the corpus-sized work is ONE distributed
  * word count (q13's combinable shuffle); the merge loop then runs
  * driver-side over the collected vocab — bounded by the
  * [[BpeMinFreq]] frequency floor and the [[BpeVocabCap]] top-N cap
  * (the production trainers' `min_frequency`/`vocab limit`), NOT by
  * the corpus's distinct-word count, which on web text is billions
  * (the s3-kmeans / t8-model offline-train shape); the trained merge
  * list is a KB-scale artifact every executor can apply scan-locally.
  *
  * Cross-engine verification is in two layers, stronger than the
  * s3/t8 inlined-artifact pattern where training itself goes
  * unverified: `c10_bpe_merges`' oracle REPLAYS the full training in
  * SQL (char segmentation → pair counts → argmax → merge application,
  * step by step — no trained values inlined), so the gate
  * hash-verifies the TRAINER; `c10_bpe_tokenize` then verifies the
  * APPLICATION with the learned merges inlined into a generated
  * oracle, s3-style.
  *
  * Merge semantics pinned across all three implementations (driver
  * list pass, SQL replay, distributed application): leftmost greedy
  * non-overlapping per step. The SQL spelling is the space-separated
  * string form `' d a t a '` where one merge = replace of
  * `' lhs rhs '` with `' lhsrhs '` — applied TWICE, because a run of
  * the same pair shares its separating space and a single
  * resume-after-match pass merges only every other occurrence
  * (`' a b a b '` → `' ab a b '`); the second pass provably finishes
  * the run, and merging can create no NEW same-pair adjacency (the
  * merged symbol is a single token that no longer equals lhs). */
object Bpe {
  /** Merge steps trained/verified by the gate (each step adds one CTE
    * layer to the replay oracle — 6 keeps the SQL mechanical). */
  val BpeMerges = 6

  /** Minimum corpus frequency for a word to enter the trainer's vocab
    * (the production trainers' `min_frequency`: HF-tokenizers and
    * SentencePiece both ship it). Web text makes "bounded by DISTINCT
    * words" a non-bound — singleton tokens (URLs, hashes, typos) are
    * roughly HALF a crawl's distinct-word table and carry no pair
    * statistic worth learning; the floor drops them before the
    * driver-side collect. NOTE: on a degenerate corpus whose floored
    * vocab can't support [[BpeMerges]] merges the trainer still fails
    * loudly ("corpus exhausted") rather than returning fewer merges —
    * 6 merges over a vocabulary that thin is a config error. */
  val BpeMinFreq = 2L

  /** Hard cap on the collected vocabulary — top-N by (count DESC,
    * word), the deterministic order both engines share. The driver
    * collect is bounded by THIS, not by the corpus (TakeOrdered ships
    * exactly N rows to the driver however many distinct words exist);
    * truncating the Zipf tail perturbs pair counts by at most
    * cap-rank-frequency × word-length per pair, which production
    * trainers accept for the same reason (the head carries the merge
    * statistics). */
  val BpeVocabCap = 65536

  final case class Merge(step: Int, lhs: String, rhs: String, cnt: Long)

  /** Most recently trained/used corpus key — the static [[oracle]]
    * resolves from THIS (the Similarity.lastCorpusKey pattern): with
    * two corpora trained in one JVM, it inlines the merges of the one
    * used last. */
  @volatile private[graft] var lastKey: Option[String] = None

  /** The distributed side of training: the corpus word-frequency
    * table, FLOORED at `minFreq` and CAPPED at the top-`cap` words by
    * (count DESC, word) — so the driver-side collect is bounded by the
    * cap, not by the corpus's distinct-word count (a 100 TB crawl has
    * billions of distinct tokens; collecting them is the classic
    * driver OOM). orderBy+limit plans as TakeOrderedAndProject:
    * map-side local top-N, one final merge task, exactly N rows
    * shipped. Everything after is cap-bounded. */
  private[graft] def wordCounts(s: SparkSession, dir: String,
      minFreq: Long = BpeMinFreq,
      cap: Int = BpeVocabCap): Array[(String, Long)] =
    Tables.documentsSpread(s, dir)
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')"))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minFreq)
      .orderBy(col("c").desc, col("word"))
      .limit(cap)
      .collect().map(r => (r.getString(0), r.getLong(1)))

  /** Code-point lexicographic compare — equivalent to UTF-8 BYTE order,
    * which is what DuckDB's binary collation gives `ORDER BY lhs, rhs`
    * in the SQL replay oracle. Scala's default String ordering compares
    * UTF-16 code UNITS, which disagrees with byte order exactly when a
    * BMP char in [U+E000, U+FFFF] meets a supplementary character — so
    * a non-BMP corpus would diverge trainer-vs-oracle on tie-breaks. */
  private def cpCompare(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca); j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Segment a word into CODE POINTS — the unit the SQL replay oracle's
    * `string_split(word, '')` produces. `toCharArray` (UTF-16 code
    * units) would split surrogate pairs into lone-surrogate "symbols"
    * the oracle never sees. */
  private def codePointSyms(w: String): Array[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp)))

  /** Classic BPE over the word table: count symbol pairs weighted by
    * word frequency, merge the argmax (ties: smallest (lhs, rhs) in
    * code-point order — see [[cpCompare]]), repeat. Leftmost-greedy
    * non-overlapping application. */
  private[graft] def train(wc: Array[(String, Long)]): Seq[Merge] = {
    var words: Array[(Array[String], Long)] =
      wc.map { case (w, c) => (codePointSyms(w), c) }
    (1 to BpeMerges).map { step =>
      val pc = new scala.collection.mutable.HashMap[(String, String), Long]()
      words.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          pc(k) = pc.getOrElse(k, 0L) + c
          i += 1
        }
      }
      require(pc.nonEmpty, s"corpus exhausted before merge $step")
      val ((lhs, rhs), cnt) = pc.reduceLeft { (x, y) =>
        val cmp =
          if (x._2 != y._2) java.lang.Long.compare(y._2, x._2) // count DESC
          else {
            val cl = cpCompare(x._1._1, y._1._1)
            if (cl != 0) cl else cpCompare(x._1._2, y._1._2)
          }
        if (cmp <= 0) x else y
      }
      words = words.map { case (syms, c) =>
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == lhs && syms(i + 1) == rhs) {
            out += lhs + rhs; i += 2
          } else { out += syms(i); i += 1 }
        }
        (out.toArray, c)
      }
      Merge(step, lhs, rhs, cnt)
    }
  }

  /** Per-corpus trained merges — pure driver data, held once per
    * corpus generation per JVM. */
  def mergesFor(s: SparkSession, dir: String): Seq[Merge] = {
    val key = Tables.fingerprint(s, dir, "documents")
    lastKey = Some(key)
    graft.Artifacts.memo(graft.Artifacts.Jvm, "bpe.merges", key)(
      train(wordCounts(s, dir)))
  }

  /** c10a: the trained merge table itself — (step, lhs, rhs,
    * pair_count). The oracle replays training end-to-end in SQL. */
  def c10BpeMerges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    mergesFor(s, dir).toDF("step", "lhs", "rhs", "pair_count")
      .orderBy("step")
  }

  private def q(lit: String): String = lit.replace("'", "''")

  /** The merge chain applied to a char-spaced word expression —
    * generated replace chain, identical shape in both engines (each
    * step twice; see the object doc for why). */
  private def appliedExpr(merges: Seq[Merge], seed: String): String =
    merges.foldLeft(seed) { (e, m) =>
      val pat = s"' ${q(m.lhs)} ${q(m.rhs)} '"
      val rep = s"' ${q(m.lhs)}${q(m.rhs)} '"
      s"replace(replace($e, $pat, $rep), $pat, $rep)"
    }

  /** c10b: distributed APPLICATION of the trained merges — per doc,
    * the whitespace-token count, the char-symbol count, and the piece
    * count after all [[BpeMerges]] merges. Pure scan-local projection
    * (the merge chain is 2·steps string replaces per word inside a
    * HOF — at production scale the chain compiles into a byte-walk
    * kernel like t8's, but the gate keeps the transparent spelling).
    * Oracle: generated with the trained merges inlined (the s3
    * pattern — training itself is verified by c10_bpe_merges). */
  def c10BpeTokenize(s: SparkSession, dir: String): DataFrame = {
    val merges = mergesFor(s, dir)
    val applied = appliedExpr(merges,
      "concat(' ', regexp_replace(w, '(.)', '$1 '))")
    Tables.documentsSpread(s, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        expr("aggregate(transform(ws, w -> length(w)), 0, (a, b) -> a + b)")
          .as("n_chars_sym"),
        expr(s"""aggregate(transform(ws, w ->
          size(filter(split($applied, ' '), p -> p <> ''))),
          0, (a, b) -> a + b)""").as("n_pieces"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- oracle

  /** SQL replay of the whole trainer — corpus-independent (nothing
    * inlined): 6 × (pair-count CTE, argmax CTE, merge-application
    * CTE) stacked on the char segmentation of the word-count table. */
  private def sqlMergesOracle: String = {
    val steps = (1 to BpeMerges).map { i =>
      s"""p$i AS (
         |  SELECT toks[j] AS lhs, toks[j + 1] AS rhs,
         |    CAST(sum(c) AS BIGINT) AS cnt
         |  FROM (SELECT list_filter(string_split(seg, ' '), x -> x <> '')
         |          AS toks, c
         |        FROM seg${i - 1}) t,
         |       unnest(generate_series(1, len(toks) - 1)) AS u(j)
         |  GROUP BY 1, 2),
         |m$i AS (SELECT lhs, rhs, cnt FROM p$i
         |        ORDER BY cnt DESC, lhs, rhs LIMIT 1),
         |seg$i AS (
         |  SELECT replace(replace(seg,
         |      ' ' || m.lhs || ' ' || m.rhs || ' ',
         |      ' ' || m.lhs || m.rhs || ' '),
         |      ' ' || m.lhs || ' ' || m.rhs || ' ',
         |      ' ' || m.lhs || m.rhs || ' ') AS seg, c
         |  FROM seg${i - 1} CROSS JOIN m$i m)""".stripMargin
    }.mkString(",\n")
    val rows = (1 to BpeMerges).map(i =>
      s"SELECT $i AS step, lhs, rhs, cnt AS pair_count FROM m$i")
      .mkString("\nUNION ALL ")
    s"""WITH wc0 AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS c FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word
       |    FROM documents) t
       |  WHERE word <> '' GROUP BY word
       |  HAVING count(*) >= $BpeMinFreq),
       |wc AS (
       |  SELECT word, c FROM wc0
       |  QUALIFY row_number() OVER (ORDER BY c DESC, word)
       |    <= $BpeVocabCap),
       |seg0 AS (
       |  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' '
       |    AS seg, c
       |  FROM wc),
       |$steps
       |SELECT * FROM ($rows) ORDER BY step""".stripMargin
  }

  /** Generated tokenize oracle for an explicit corpus — the trained
    * merges inlined into the same double-replace chain over the same
    * char-spacing (RE2 spells the backref `\\1` where Spark spells
    * `$$1`; both space every character). */
  private def sqlTokenizeOracle(merges: Seq[Merge]): String = {
    val applied = appliedExpr(merges,
      "(' ' || regexp_replace(w, '(.)', '\\1 ', 'g'))")
    s"""SELECT doc_id,
       |  CAST(len(ws) AS INTEGER) AS n_words,
       |  CAST(list_reduce(list_prepend(0,
       |    list_transform(ws, w -> length(w))), (a, b) -> a + b)
       |    AS INTEGER) AS n_chars_sym,
       |  CAST(list_reduce(list_prepend(0, list_transform(ws, w ->
       |    len(list_filter(string_split($applied, ' '), p -> p <> '')))),
       |    (a, b) -> a + b) AS INTEGER) AS n_pieces
       |FROM (
       |  SELECT doc_id,
       |    list_filter(string_split(text, ' '), w -> w <> '') AS ws
       |  FROM documents) t
       |ORDER BY doc_id""".stripMargin
  }

  /** c32: TOKENIZER FERTILITY per source — the tokenizer-efficiency
    * report a pipeline runs per domain before committing a vocabulary
    * ("how many pieces per word / chars per piece does THIS tokenizer
    * cost on THAT source"): a domain the tokenizer fragments (high
    * pieces-per-word) pays more sequence length per byte of signal,
    * which skews any token-denominated mixture (c31's allocations,
    * c6/t19's packing density). Composes c10's trained merge chain —
    * the SAME applied expression, so the fertility numbers can never
    * disagree with the tokenizer the corpus actually ships — and
    * collapses per-doc counts to per-source sums (map-side
    * combinable; one corpus kernel pass like c31's). Ratios land as
    * FLOORED milli fixed-point integers of exact bigint sums
    * (NULLIF-guarded in both engines), so the gate is hash-exact.
    *
    * Scale shape: the merge chain is scan-local projection; the only
    * shuffle is an O(sources) combinable agg. At 100 TB: one linear
    * kernel pass, recipe-sized output. */
  def c32BpeFertility(s: SparkSession, dir: String): DataFrame = {
    val merges = mergesFor(s, dir)
    val applied = appliedExpr(merges,
      "concat(' ', regexp_replace(w, '(.)', '$1 '))")
    Tables.documentsSpread(s, dir)
      .select(col("source"),
        expr("filter(split(text, ' '), w -> w <> '')").as("ws"))
      .select(col("source"),
        size(col("ws")).cast("long").as("nw"),
        expr("aggregate(transform(ws, w -> length(w)), 0, (a, b) -> a + b)")
          .cast("long").as("nc"),
        expr(s"""aggregate(transform(ws, w ->
          size(filter(split($applied, ' '), p -> p <> ''))),
          0, (a, b) -> a + b)""").cast("long").as("np"))
      .groupBy("source")
      .agg(sum("nw").as("n_words"), sum("nc").as("n_chars_sym"),
        sum("np").as("n_pieces"))
      .withColumn("pieces_per_word_milli",
        expr("(1000 * n_pieces) div nullif(n_words, 0)"))
      .withColumn("chars_per_piece_milli",
        expr("(1000 * n_chars_sym) div nullif(n_pieces, 0)"))
      .orderBy("source")
  }

  /** Generated fertility oracle — the tokenize replay grouped to
    * per-source sums with the same milli fixed-point ratios. */
  private def sqlFertilityOracle(merges: Seq[Merge]): String = {
    val applied = appliedExpr(merges,
      "(' ' || regexp_replace(w, '(.)', '\\1 ', 'g'))")
    s"""WITH per_doc AS (
       |  SELECT source,
       |    CAST(len(ws) AS BIGINT) AS nw,
       |    CAST(list_reduce(list_prepend(0,
       |      list_transform(ws, w -> length(w))), (a, b) -> a + b)
       |      AS BIGINT) AS nc,
       |    CAST(list_reduce(list_prepend(0, list_transform(ws, w ->
       |      len(list_filter(string_split($applied, ' '), p -> p <> '')))),
       |      (a, b) -> a + b) AS BIGINT) AS np
       |  FROM (
       |    SELECT source,
       |      list_filter(string_split(text, ' '), w -> w <> '') AS ws
       |    FROM documents) t)
       |SELECT source,
       |  CAST(sum(nw) AS BIGINT) AS n_words,
       |  CAST(sum(nc) AS BIGINT) AS n_chars_sym,
       |  CAST(sum(np) AS BIGINT) AS n_pieces,
       |  CAST((1000 * sum(np)) // nullif(sum(nw), 0) AS BIGINT)
       |    AS pieces_per_word_milli,
       |  CAST((1000 * sum(nc)) // nullif(sum(np), 0) AS BIGINT)
       |    AS chars_per_piece_milli
       |FROM per_doc GROUP BY source ORDER BY source""".stripMargin
  }

  /** The three entries for the trained merges `m`. */
  private def oracleWith(m: Seq[Merge]): Map[String, String] = Map(
    "c10_bpe_merges" -> sqlMergesOracle,
    "c10_bpe_tokenize" -> sqlTokenizeOracle(m),
    "c32_bpe_fertility" -> sqlFertilityOracle(m))

  /** Corpus-aware oracle (the Verify dump path): trains on demand for
    * the explicit corpus, like Similarity.oracleFor. */
  def oracleFor(s: SparkSession, dir: String): Map[String, String] =
    oracleWith(mergesFor(s, dir))

  /** Static form — fails loudly if no training has happened (same
    * contract as Similarity.oracle: a premature dump must not
    * silently shrink the gate). Resolves the MOST RECENTLY used
    * corpus via [[lastKey]]. */
  def oracle: Map[String, String] =
    lastKey.flatMap(graft.Artifacts.peek[Seq[Merge]](
        graft.Artifacts.Jvm, "bpe.merges", _)) match {
      case Some(m) => oracleWith(m)
      case None => throw new IllegalStateException(
        "c10_bpe_tokenize oracle requested but no merges are trained — " +
          "run Bpe.mergesFor for the gate corpus first, or use " +
          "Bpe.oracleFor(spark, dir)")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c10_bpe_merges" -> c10BpeMerges,
    "c10_bpe_tokenize" -> c10BpeTokenize,
    "c32_bpe_fertility" -> c32BpeFertility,
  )
}
