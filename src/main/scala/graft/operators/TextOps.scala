package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text primitives for the dedup / text-analysis operators.
  *
  * Everything here is built from codegen'd `functions._` / higher-order
  * functions — a single map pass per row, no UDFs, no shuffle — so the
  * token/shingle pipeline scales linearly with input bytes.
  *
  * Each primitive has an exact DuckDB mirror (the `sql*` members) used by
  * the oracle queries; keeping them adjacent keeps the two in lockstep.
  */
object TextOps {
  /** Whitespace-normalized, lower-cased text. */
  def normText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** [[sqlNormText]] over an arbitrary input column/expression — the
    * c30 composition normalizes a DERIVED text column, not `text`. */
  def sqlNormTextOf(c: String): String =
    s"lower(trim(regexp_replace($c, '\\s+', ' ', 'g')))"

  val sqlNormText: String = sqlNormTextOf("text")

  /** Non-empty whitespace tokens of column `c`, as a Spark SQL
    * expression; [[sqlToksOf]] is its DuckDB mirror. */
  def toksExprOf(c: String): String = s"filter(split($c, ' '), t -> t <> '')"

  /** [[toksExprOf]] as a Column. */
  def toksOf(c: String): Column = expr(toksExprOf(c))

  /** Non-empty whitespace tokens of an already-normalized column named `norm`. */
  val toksExpr: String = toksExprOf("norm")

  def sqlToksOf(c: String): String =
    s"list_filter(string_split($c, ' '), t -> t <> '')"

  val sqlToks: String = sqlToksOf("norm")

  /** Width-parametric DuckDB mirror of `word_shingles(toks, w)`. */
  def sqlShinglesW(w: Int): String =
    s"list_transform(generate_series(1, greatest(len(toks) - ${w - 1}, 1)), " +
      s"i -> array_to_string(toks[i:i+${w - 1}], ' '))"

  /** The dedup family's w = 3 instance — derived, so the two widths
    * can never drift apart. */
  val sqlShingles: String = sqlShinglesW(3)

  /** documents + `norm`, `toks`, `shingles` columns. Shingles come from
    * the native codegen'd kernel (graft.functions.WordShingles), which is
    * value-identical to the interpreted HOF spelling
    * `transform(sequence(1, greatest(size(toks) - 2, 1)),
    * i -> array_join(slice(toks, i, 3), ' '))` — word 3-grams, with a
    * short document's full text as its single shingle; the HOF was the
    * d2/d4 map-side hot spot. */
  def withShingles(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.withColumn("norm", normText(col("text")))
      .withColumn("toks", expr(toksExpr))
      .withColumn("shingles", expr("word_shingles(toks)"))
  }

  /** Oracle CTE prefix mirroring [[withShingles]] over `documents`. */
  val sqlShingleCte: String =
    s"""WITH norm_t AS (
       |  SELECT *, $sqlNormText AS norm FROM documents),
       |tok_t AS (
       |  SELECT *, $sqlToks AS toks FROM norm_t),
       |shingle_t AS (
       |  SELECT *, $sqlShingles AS shingles FROM tok_t)""".stripMargin
}
