package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** c14: Z-ORDER data layout — multi-dimensional clustering for min/max
  * file skipping (Morton 1966; the OPTIMIZE ZORDER operation of
  * modern lakehouses). A table sorted on ONE column prunes scans on
  * that column only; interleaving the bits of TWO scaled columns into
  * a Morton code and bucketing files by its prefix gives every file a
  * tight bounding BOX in both dimensions, so a 2-D predicate skips
  * most files on footer stats alone — the layout decision that
  * determines how much of 100 TB a selective scan actually reads.
  *
  * Reference anchor: the reference partitions its taxi ingest by time
  * alone (luigi/taxi_data_import.py — month-keyed fetches); a
  * production lake needs the 2-D generalization.
  */
object Zorder {
  /** Bits per dimension (8 → 256 scaled values; the interleaved Morton
    * code is 16 bits). */
  val ZDimBits = 8
  /** Prefix buckets = files of the layout: z div 2^(16−6) → 64. At the
    * gate SFs that is ~10–2300 rows per file; production sets the
    * prefix width so each bucket ≈ the target file size (the constant
    * scales with corpus bytes, the math does not change). */
  val ZBucketShift: Int = 2 * ZDimBits - 6
  /** The audited 2-D box predicate, in scaled [0,256) coordinates:
    * [30%, 60%) of each dimension — wide enough that the skipping
    * contrast vs a single-column layout is structural, not noise. */
  val BoxLo = 77
  val BoxHi = 153

  /** Morton interleave of two [[ZDimBits]]-bit values as shared
    * arithmetic (bit i of each dimension lands at positions 2i+1/2i),
    * parameterized on the integer-division spelling — `div` in Spark,
    * `//` in DuckDB — so both engines evaluate the same expression. */
  private def zSql(ck: String, dy: String,
      idiv: (String, String) => String): String =
    (0 until ZDimBits).map { i =>
      val p = (1L << i).toString
      s"((${idiv(ck, p)}) % 2) * ${1L << (2 * i + 1)} + " +
        s"((${idiv(dy, p)}) % 2) * ${1L << (2 * i)}"
    }.mkString("(", " + ", ")")

  /** The WRITTEN layout, staged once per corpus generation under a
    * fingerprint-keyed path ([[graft.Artifacts.staged]]): orders scaled to
    * (ckb, dayb) ∈ [0,256)², Morton-coded, sorted by z and written
    * PARTITIONED BY the z-prefix bucket. One corpus pass, scan-local
    * arithmetic (the two scaling constants ride a broadcast 1-row
    * agg), then the partitioned write; at 100 TB the sort is a range
    * repartition by z — the exact shuffle a linear sort pays, just on
    * a better key. */
  def layoutPath(s: SparkSession, dir: String): String = {
    val path = graft.Artifacts.stagedDir("zorder",
      Tables.fingerprint(s, dir, "orders"))
    graft.Artifacts.staged(s, s"$path/table") { out =>
      val o = Tables.orders(s, dir)
      val sc = o.agg(max("o_custkey").as("maxck"),
        to_date(min("o_orderdate")).as("mind"),
        to_date(max("o_orderdate")).as("maxd"))
      o.crossJoin(broadcast(sc))
        .withColumn("day", datediff(to_date(col("o_orderdate")), col("mind")))
        .withColumn("ckb", expr(s"(o_custkey * ${1 << ZDimBits}) div (maxck + 1)"))
        .withColumn("dayb", expr(s"(day * ${1 << ZDimBits}) div " +
          "(datediff(maxd, mind) + 1)"))
        .withColumn("z", expr(zSql("ckb", "dayb", (a, b) => s"($a div $b)")))
        .withColumn("zbucket", expr(s"CAST(z div ${1L << ZBucketShift} AS INT)"))
        .select("o_orderkey", "ckb", "dayb", "z", "zbucket")
        .sort("z")
        .write.partitionBy("zbucket").parquet(out)
    }
    path
  }

  /** c14: the LAYOUT AUDIT over the written table — one row per file
    * bucket: row count, the bounding box (min/max of both scaled
    * dims — exactly the parquet footer stats a scan planner reads),
    * a content checksum (sum of member order keys), and `hits_box` =
    * whether the file's box overlaps the audited 2-D predicate (the
    * skip/scan decision itself). The oracle recomputes ALL of it from
    * `orders` directly — scaling, interleave, bucketing, stats — so a
    * hash match proves the written artifact preserved every row AND
    * placed it in the right bucket; ZorderSpec quantifies the payoff
    * (box scans ~3× fewer buckets than a single-column layout) and
    * proves the skip decision complete (no matching row outside
    * hit buckets). */
  def c14ZorderLayout(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.parquet(s, s"${layoutPath(s, dir)}/table")
    t.groupBy(col("zbucket").cast("int").as("zbucket"))
      .agg(count(lit(1)).as("n_rows"),
        min("ckb").as("min_ckb"), max("ckb").as("max_ckb"),
        min("dayb").as("min_dayb"), max("dayb").as("max_dayb"),
        sum("o_orderkey").as("sum_okey"))
      .withColumn("hits_box", expr(
        s"CAST(CASE WHEN min_ckb <= $BoxHi AND max_ckb >= $BoxLo " +
          s"AND min_dayb <= $BoxHi AND max_dayb >= $BoxLo " +
          "THEN 1 ELSE 0 END AS INT)"))
      .orderBy("zbucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c14_zorder_layout" -> c14ZorderLayout)

  /** DuckDB mirror: recomputes the whole layout from `orders` — the
    * same scaled coordinates, the same Morton interleave (idiv `//`),
    * the same prefix buckets and footer stats. */
  val oracle: Map[String, String] = Map(
    "c14_zorder_layout" -> {
      val z = zSql("ckb", "dayb", (a, b) => s"($a // $b)")
      s"""WITH sc AS (
         |  SELECT max(o_custkey) AS maxck,
         |    CAST(min(o_orderdate) AS DATE) AS mind,
         |    CAST(max(o_orderdate) AS DATE) AS maxd
         |  FROM orders),
         |b AS (
         |  SELECT o_orderkey,
         |    (o_custkey * ${1 << ZDimBits}) // (maxck + 1) AS ckb,
         |    CAST(((CAST(o_orderdate AS DATE) - mind) * ${1 << ZDimBits}) //
         |      ((maxd - mind) + 1) AS BIGINT) AS dayb
         |  FROM orders, sc),
         |zb AS (
         |  SELECT o_orderkey, ckb, dayb,
         |    $z // ${1L << ZBucketShift} AS zbucket
         |  FROM b)
         |SELECT CAST(zbucket AS INT) AS zbucket,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  min(ckb) AS min_ckb, max(ckb) AS max_ckb,
         |  min(dayb) AS min_dayb, max(dayb) AS max_dayb,
         |  CAST(sum(o_orderkey) AS BIGINT) AS sum_okey,
         |  CAST(CASE WHEN min(ckb) <= $BoxHi AND max(ckb) >= $BoxLo
         |    AND min(dayb) <= $BoxHi AND max(dayb) >= $BoxLo
         |    THEN 1 ELSE 0 END AS INT) AS hits_box
         |FROM zb GROUP BY zbucket ORDER BY zbucket""".stripMargin
    })
}
