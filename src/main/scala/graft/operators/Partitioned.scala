package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.Sources

/** Partition-pruned scans over a hive-layout fact table — the missing
  * coarse layer of the engine's pruning story. Row-group min/max stats
  * (q17) skip data WITHIN files; a partitioned layout skips whole
  * DIRECTORIES before a single footer is opened. At 100 TB a date-
  * partitioned fact is the standard lake layout (the reference's taxi
  * ETL likewise lands month-files: luigi/taxi_data_import.py:40-76
  * downloads and stores one file per month URL), and both pruning modes
  * must reach the scan:
  *
  *  - STATIC pruning: a literal predicate on the partition column
  *    (`o_ym = '1995-03'`) resolves at planning — the file index lists
  *    exactly one directory.
  *  - DYNAMIC partition pruning (DPP): the canonical warehouse shape —
  *    fact joined to a small dimension FILTERED ON DIM ATTRIBUTES
  *    (year/quarter), so the set of fact partitions is unknown until
  *    the dim is filtered. Catalyst inserts a DPP subquery (reusing the
  *    dim's broadcast) that prunes fact partitions at RUNTIME; without
  *    it the scan reads all ~80 months to join-discard most of them.
  *
  * q30 stages `orders` hive-partitioned by order month (`o_ym`) plus a
  * month-dimension table (ym, year, quarter) — both pay-once per corpus
  * dir, like q23's bucketed tables — then runs the dim-filtered join.
  * PartitionedSpec asserts the executed plan carries a
  * `dynamicpruningexpression` in the fact scan's PartitionFilters and
  * that static pruning reads exactly one directory; the DuckDB oracle
  * runs the same dim-derived join on the RAW orders table, proving the
  * partitioned copy changes nothing semantically.
  */
object Partitioned {
  private def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  /** (partitioned fact, month dim) table names for `dir` (session
    * warehouse). */
  def tableNames(dir: String): (String, String) =
    (s"graft_orders_part_${tag(dir)}", s"graft_ym_dim_${tag(dir)}")

  /** Ensure the partitioned fact + month dim exist (pay-once through
    * [[Sources.ensureStaged]]). */
  def ensureTables(s: SparkSession, dir: String): (String, String) = {
    val (ft, dt) = tableNames(dir)
    Sources.ensureStagedPartitioned(s, ft, "o_ym",
      Tables.orders(s, dir)
        .withColumn("o_ym", date_format(col("o_orderdate"), "yyyy-MM")))
    Sources.ensureStaged(s, dt) {
      Tables.orders(s, dir)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"))
        .distinct()
        .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(dt)
    }
    (ft, dt)
  }

  /** The dim filter: one quarter of one year — selective on partitions
    * (3 of ~80 months) without being empty at any test SF. */
  val DppYear = 1995
  val DppQuarter = 1

  /** q30: month-partitioned orders ⋈ attribute-filtered month dim.
    * The dim side broadcasts (it is tiny by construction); DPP reuses
    * that broadcast to compute the surviving `o_ym` values and prunes
    * the fact's file listing to those directories before the scan
    * starts — at 100 TB, the difference between reading one quarter
    * and reading seven years. */
  def q30DppJoin(s: SparkSession, dir: String): DataFrame = {
    val (ft, dt) = ensureTables(s, dir)
    val fact = s.table(ft)
    val dim = s.table(dt)
      .filter(col("y") === DppYear && col("q") === DppQuarter)
    fact.join(dim, fact("o_ym") === dim("ym"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** q42 creation-side filter: urgent 1995 orders — selective enough
    * (~1/15 of orders) that the bloom filter pays, never empty. */
  val BloomYear = 1995
  val BloomPriority = "1-URGENT"

  val oracle: Map[String, String] = Map(
    // same dim-derived join on the RAW orders table — the partitioned
    // copy must be a pure layout change
    "q30_dpp_join" ->
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
         |  ${Exact.sqlDsum("o_totalprice")} AS sum_price
         |FROM orders o JOIN (
         |  SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS ym,
         |    year(o_orderdate) AS y, quarter(o_orderdate) AS q
         |  FROM orders) d
         |  ON strftime(o.o_orderdate, '%Y-%m') = d.ym
         |WHERE d.y = $DppYear AND d.q = $DppQuarter
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the plain join — bloom pruning must be invisible in results
    "q42_bloom_join" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(count(*) AS BIGINT) AS n_items,
         |  ${Exact.sqlDsum("l_quantity")} AS sum_qty,
         |  ${Exact.sqlDsum("l_extendedprice")} AS sum_price
         |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
         |WHERE o.o_orderpriority = '$BloomPriority'
         |  AND year(o.o_orderdate) = $BloomYear
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
  )

  /** Session confs forced inside the q42 window: runtime bloom ON with
    * thresholds the test corpus can meet (the defaults gate injection
    * on a ≥10 GB application-side scan — correct at cluster scale,
    * unreachable at test SFs), and broadcast OFF so the join is the
    * shuffle join the filter exists for. */
  private val BloomConfs: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** Run `body` with [[BloomConfs]] set, restoring every touched key
    * (the withSQLConf pattern; conf reads are lazy, so the body must
    * EXECUTE its plan inside the window). */
  private[graft] def withBloomConfs[T](s: SparkSession)(body: => T): T = {
    val saved = BloomConfs.map { case (k, _) =>
      k -> util.Try(s.conf.get(k)).toOption }
    BloomConfs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** The q42 join, un-executed — the spec inspects its plan inside the
    * conf window. Fact = lineitem (application side), creation side =
    * attribute-filtered orders; the injected bloom filter on
    * l_orderkey discards non-matching fact rows AT THE SCAN, before
    * they pay the shuffle. */
  private[graft] def q42Plan(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === BloomPriority &&
        year(col("o_orderdate")) === BloomYear)
      .select("o_orderkey")
    Tables.lineitem(s, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        Exact.dsum(col("l_quantity")).as("sum_qty"),
        Exact.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** q42: RUNTIME BLOOM-FILTER join — the third and finest layer of
    * the engine's pruning story: q17's row-group min/max skips WITHIN
    * files, q30's DPP skips whole DIRECTORIES, and this one skips
    * individual ROWS of the big side of a shuffle join before they
    * are shuffled. Catalyst's InjectRuntimeFilter sees a selective
    * creation side (urgent-1995 orders), builds a bloom filter over
    * its join keys in a subquery, and rewrites the fact scan to
    * `bloom_filter_might_contain(l_orderkey)` — at 100 TB the
    * difference between shuffling every lineitem row and shuffling
    * the ~7% that can possibly match (false-positive rate bounded by
    * the sketch; semantics NEVER change — the join still confirms).
    * The default thresholds gate injection on cluster-scale sizes,
    * so the operator pins them inside a restore-on-exit conf window
    * and EXECUTES there (eager localCheckpoint); the gate then hashes
    * the checkpointed result against the plain-join oracle — bloom
    * pruning must be a pure no-op on results. PartitionedSpec asserts
    * the executed plan carries the bloom filter AND that the same
    * query with the filter disabled is row-identical. */
  def q42BloomJoin(s: SparkSession, dir: String): DataFrame =
    withBloomConfs(s) {
      graft.Artifacts.scoped(s, "partitioned.q42")(_.cut(q42Plan(s, dir)))
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q30_dpp_join" -> q30DppJoin,
    "q42_bloom_join" -> q42BloomJoin,
  )
}
