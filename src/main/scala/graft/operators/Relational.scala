package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.Tables

/** Core relational operators — the reference's query surface re-expressed
  * as declarative Spark plans (reference: kjam/data-pipelines-course;
  * file:line cites on each query).
  *
  * Scale notes (local[32] tests, 100 TB design):
  *  - every aggregation here is map-side combinable (sum/count/min/max in
  *    partial agg), medians only over already-grouped small groups;
  *  - dimension joins (nation/region) are broadcast, fact-fact joins
  *    shuffle on the join key only after scan-level pushdown;
  *  - every query carries an ORDER BY so output is a deterministic total
  *    order for the DuckDB oracle compare.
  */
object Relational {

  /** q1: per-key multi-metric summary — the stock aggregate
    * (celery_app/tasks.py:10-36: groupBy key → min/max/mean/median). */
  def q1MultiAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("cnt"),
        Exact.dsum(col("l_quantity")).as("sum_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty"),
        Exact.davg(col("l_quantity")).as("avg_qty"),
        expr("median(l_quantity)").as("med_qty"),
        Exact.dsum(col("l_extendedprice")).as("sum_price"),
        Exact.davg(col("l_extendedprice")).as("avg_price"))
      .orderBy("l_returnflag", "l_linestatus")

  /** q2: price-range classification — latest value vs per-key extremes
    * (celery_app/tasks.py:39-92). Window picks the latest order
    * deterministically; the agg and the window share one shuffle key. */
  def q2PriceRange(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val agg = o.groupBy("o_custkey").agg(
      max("o_totalprice").as("max_price"),
      min("o_totalprice").as("min_price"),
      Exact.davg(col("o_totalprice")).as("avg_price"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val latest = o.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_totalprice").as("latest_price"))
    agg.join(latest, "o_custkey")
      .withColumn("pct_vs_max",
        round((col("latest_price") / col("max_price") - 1) * 100, 2))
      .withColumn("range_class",
        when(col("latest_price") >= col("max_price") * 0.9, "near_high")
          .when(col("latest_price") <= col("min_price") * 1.1, "near_low")
          .otherwise("mid"))
      .orderBy("o_custkey")
  }

  /** q3: first-vs-last percent change over a date-ordered series
    * (celery_app/more_tasks.py:21-32 — YoY change). */
  def q3YoyChange(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, dir)
      .select(col("o_custkey"),
        first("o_totalprice").over(w).as("first_price"),
        last("o_totalprice").over(w).as("last_price"))
      .distinct()
      .withColumn("pct_change",
        round((col("last_price") / col("first_price") - 1) * 100, 2))
      .orderBy("o_custkey")
  }

  /** q4: sort by metric, take k (celery_app/tasks.py:95-105, Dask topk). */
  def q4SortTopk(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(10)

  /** q5: single-column frequency table (Dask value_counts). */
  def q5ValueCounts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("event_type"))

  /** q6: calendar-derived groupBy (Dask: groupby(DayOfWeek).count). */
  def q6GroupbyDayofweek(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(dayofweek(col("o_orderdate")).as("dow"))
      .groupBy("dow").agg(count(lit(1)).as("cnt"))
      .orderBy("dow")

  /** q7: extract hour → frequency → top-k (Dask bags ex. — tweet hours). */
  def q7HourlyTopk(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(hour(col("ts")).as("hr"))
      .groupBy("hr").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("hr"))
      .limit(5)

  /** q8: foldby-style keyed sum — map-side-combinable by construction
    * (Dask bags foldby). */
  def q8FoldbySum(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(hour(col("ts")).as("hr"))
      .agg(Exact.dsum(col("value")).as("sum_value"))
      .orderBy("hr")

  /** q9: filter → explode → global frequency → top-5
    * (airflow/dags/twitter_airflow.py:110-137 — popular links). */
  def q9PopularLinks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .filter(col("lang") === "en")
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(5)

  /** q10: star-schema enrichment join (luigi/taxi_data_import.py reverse-geo
    * enrich; Dask weather merge). Dims broadcast, fact shuffles once. */
  def q10StarJoin(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(r("r_name").as("r_name"))
      .agg(count(lit(1)).as("n_orders"),
        Exact.dsum(o("o_totalprice")).as("revenue"))
      .orderBy("r_name")
  }

  /** q11: fact-fact join + revenue aggregate (course's join+agg patterns).
    * Product stays double (IEEE-identical to the oracle), the sum is exact
    * decimal, converted to double at the edge. */
  def q11JoinAgg(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        sum((li("l_extendedprice") * (lit(1.0) - li("l_discount")))
          .cast(DecimalType(18, 4))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
  }

  /** q12: substring filters + union + grouped count
    * (notebooks/Chapter 6 - Introduction to PySpark.ipynb). */
  def q12UnionFilterContains(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val a = d.filter(col("text").contains("join")).withColumn("tag", lit("join"))
    val b = d.filter(col("text").contains("filter")).withColumn("tag", lit("filter"))
    a.unionAll(b)
      .groupBy("tag", "source").agg(count(lit(1)).as("cnt"))
      .orderBy("tag", "source")
  }

  /** q13: word-count map-reduce (luigi/wordcount_map_reduce.py:24-43,
    * PySpark notebook): split → explode → count per word. */
  def q13Wordcount(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy("word")

  /** q14: regex tokenization word frequencies (PySpark notebook
    * lower/regex split variant). */
  def q14RegexTokenize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(expr("regexp_extract_all(text, '[a-z]+', 0)")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy("tok")

  /** q15: JSON payload field extraction + keyed agg (Dask bags JSON ex.). */
  def q15JsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withColumn("k_bucket", expr("k % 10"))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("cnt"), Exact.dsum(col("value")).as("sum_value"))
      .orderBy("k_bucket")

  /** q16: typed ETL — schema coercion chain + filter + typed projection
    * (luigi/taxi_data_import.py 26-column coercion). */
  def q16CsvEtl(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(
        col("l_orderkey").as("order_id"),
        col("l_linenumber").as("line_no"),
        col("l_quantity").cast("int").as("qty"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("price_cents"),
        year(col("l_shipdate")).as("ship_year"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
        concat(col("l_returnflag"), lit("/"), col("l_linestatus")).as("status"))
      .filter(col("qty").between(10, 40) && col("ship_year") === 1995)
      .orderBy("order_id", "line_no")

  /** q17: trailing-time-window filter ("last day") — data-relative so the
    * result is deterministic (twitter_airflow.py:126 uses now()-1d).
    *
    * Two-phase for scan pruning: phase 1 is a column-pruned max over the
    * scan-native ts column (at cluster scale parquet footer stats make
    * this near-free); phase 2 filters with the resulting LITERAL on the
    * same scan-native column, so the predicate reaches the parquet reader
    * (PushedFilters) and row groups outside the trailing day are skipped
    * entirely — the one-shot lazy formulation (crossJoin of a broadcast
    * scalar) must stream every row group instead. The predicate spelling
    * dispatches on the stored type (Tables.eventsRaw): a TIMESTAMP_NTZ
    * literal for the current TIMESTAMP(MICROS, naive-UTC) generation,
    * an int64 literal for the legacy nanos one. */
  def q17TimeRangeFilter(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.eventsRaw(s, dir)
    val windowed = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        val maxNanos = raw.agg(max("ts")).head.getLong(0)
        // ts_micros > max_micros − 1 day, expressed on the raw nanos column:
        // (ts div 1000) > T  ⟺  ts ≥ (T+1)·1000
        val tMicros = maxNanos / 1000L - 86400L * 1000000L
        raw.filter(col("ts") >= lit((tMicros + 1L) * 1000L))
      case _ =>
        // naive-UTC NTZ column: compute the cutoff in epoch micros, then
        // spell it back as a LocalDateTime literal of the SAME type so
        // the comparison reaches PushedFilters untouched by casts
        val maxMicros = raw
          .agg(max(unix_micros(col("ts").cast("timestamp"))))
          .head.getLong(0)
        val cutoff = maxMicros - 86400L * 1000000L
        val ldt = java.time.LocalDateTime.ofEpochSecond(
          Math.floorDiv(cutoff, 1000000L),
          Math.floorMod(cutoff, 1000000L).toInt * 1000,
          java.time.ZoneOffset.UTC)
        raw.filter(col("ts") > lit(ldt))
    }
    windowed
      .groupBy("event_type").agg(count(lit(1)).as("cnt"))
      .orderBy("event_type")
  }

  /** q18: distinct pairs — dedup-by-key append semantics
    * (airflow csv_to_sqlite read-once). */
  def q18Distinct(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderstatus", "o_orderpriority").distinct()
      .orderBy("o_orderstatus", "o_orderpriority")

  /** q19: pivoted wide summary — stock-agg-style metric grid
    * (celery_app/tasks.py wide per-ticker frames). */
  def q19PivotAgg(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(hour(col("ts")).as("hr"), col("event_type"))
      .groupBy("hr")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0)
      .orderBy("hr")

  val stopwords: Seq[String] =
    Seq("the", "a", "or", "and", "of", "to", "in", "is", "on", "for")

  /** q20: stop-word-filtered word frequencies, top-20 (Dask bags ch.4). */
  def q20StopwordTopk(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "" && !col("word").isin(stopwords: _*))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word"))
      .limit(20)

  /** q26: per-record mean over an array column, top-k — the Dask
    * Distributed weather notebook's "mean of the hourly-temperature
    * array per station record". The fold is row-local (left-to-right
    * double accumulation, mirrored exactly by the DuckDB list_reduce),
    * so no cross-row double summation exists to go nondeterministic
    * under partitioning; top-k via TakeOrdered, no global sort. (This
    * HOF fold is interpreted — acceptable for a demo query; a corpus-
    * scale hot path would get a fused kernel like cosine_sim.) */
  def q26ArrayMean(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("emean",
        expr("""aggregate(embedding, CAST(0 AS DOUBLE),
                (a, x) -> a + CAST(x AS DOUBLE)) / 64"""))
      .select("vec_id", "label", "emean")
      .orderBy(col("emean").desc, col("vec_id"))
      .limit(20)

  /** q27: the window-function family over one partitioned pass — rank
    * within group, lag against the previous row, and a running sum
    * (pandas' groupby().rank()/shift()/cumsum() trio from the course's
    * cleaning chapters, as one windowed plan). Both windows share the
    * o_custkey partitioning, so the whole query is ONE hash shuffle on
    * the customer key; the running sum accumulates in exact decimal
    * (same reasoning as [[Exact]]: the frame order is deterministic but
    * double addition inside an engine's window accumulator need not be
    * left-to-right). Output keeps each customer's top-3 priciest orders. */
  def q27WindowRank(s: SparkSession, dir: String): DataFrame = {
    val byPrice = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val byDate = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("price_rank", row_number().over(byPrice))
      .withColumn("prev_date",
        to_date(lag(col("o_orderdate"), 1).over(byDate)))
      .withColumn("days_since_prev",
        datediff(col("o_orderdate"), col("prev_date")).cast("int"))
      .withColumn("run_spend",
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .over(byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double"))
      .filter(col("price_rank") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "price_rank",
        "prev_date", "days_since_prev", "run_spend")
      .orderBy("o_custkey", "price_rank")
  }

  /** q28: hierarchical totals in one pass — ROLLUP(returnflag,
    * linestatus) semantics (the course's pivot-table margins, pandas
    * pivot_table(margins=True)), spelled as ONE detail aggregation
    * plus re-aggregation of its 6-row result. The engine-native
    * grouping-sets plan runs an Expand that multiplies EVERY corpus
    * row ×3 through the (decimal) aggregation pipeline — on a
    * low-cardinality rollup that triples the dominant cost for rows
    * the detail aggregate already summarizes. Instead the detail
    * groupBy keeps its sums in EXACT DECIMAL (cast to double only at
    * the output edge), and the subtotal/grand levels re-aggregate the
    * tiny detail frame — decimal addition is associative, so the
    * re-aggregated totals are bit-identical to the single-pass rollup
    * at any partitioning (RelationalSpec pins ≡ the `.rollup`
    * spelling; the oracle stays `GROUP BY ROLLUP`). GROUPING() flags
    * become per-level literals. 10× probe: the Expand spelling ran
    * 4.8–7.8×; this is the volume-scan cost alone. */
  def q28RollupAgg(s: SparkSession, dir: String): DataFrame =
    // the detail is 6 rows; three levels read it
    graft.Artifacts.scoped(s, "relational.q28")(sc =>
      q28FromDetail(sc.cut(Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("dq"),
          sum(col("l_extendedprice")
            .cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("dp")))))

  /** The three rollup levels from a (flag, status, cnt, dq, dp)
    * detail frame — exact-decimal re-aggregation. */
  private def q28FromDetail(detail: DataFrame): DataFrame = {
    def outCols(gf: Int, gs: Int) = Seq(
      lit(gf).as("g_flag"), lit(gs).as("g_status"),
      col("cnt"), col("dq").cast("double").as("sum_qty"),
      col("dp").cast("double").as("sum_price"))
    val lvl0 = detail.select(
      (Seq(col("l_returnflag"), col("l_linestatus")) ++ outCols(0, 0)): _*)
    val lvl1 = detail.groupBy("l_returnflag")
      .agg(sum("cnt").as("cnt"), sum("dq").as("dq"), sum("dp").as("dp"))
      .select((Seq(col("l_returnflag"),
        lit(null).cast("string").as("l_linestatus")) ++ outCols(0, 1)): _*)
    val lvl2 = detail
      .agg(sum("cnt").as("cnt"), sum("dq").as("dq"), sum("dp").as("dp"))
      .select((Seq(lit(null).cast("string").as("l_returnflag"),
        lit(null).cast("string").as("l_linestatus")) ++ outCols(1, 1)): _*)
    lvl0.unionByName(lvl1).unionByName(lvl2)
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** q29 sketch capacity: the k smallest 32-bit hashes kept per key.
    * Relative error of a KMV estimate ≈ 1/sqrt(k−2) ≈ 13% at 64; keys
    * with fewer than k distinct hashes report exactly. */
  val KmvK = 64

  /** q29: approximate DISTINCT-COUNT via a KMV (k-minimum-values)
    * sketch — the "novel sketch" slot of the custom-operator family
    * next to the as-of (q21) and range (q22) joins. The production
    * problem: exact `count(DISTINCT user)` at 100 TB shuffles every
    * distinct value; a KMV sketch keeps only the k SMALLEST hash
    * values per key — fixed memory per key at any corpus size — and
    * estimates n ≈ (k−1)/F_k where F_k is the k-th smallest hash as a
    * fraction of hash space. Unlike HLL (whose register layouts differ
    * per implementation, so no cross-engine oracle is possible), KMV
    * over a DETERMINISTIC hash is fully reproducible: both engines
    * derive the same md5-based 32-bit hash, the same k-th minimum, and
    * the same integer estimate `(k−1) · 2³² div h_k` — so the sketch
    * is hash-match oracle-checked, not just spot-checked. Keys under
    * capacity (< k distinct hashes) report their exact count — a KMV
    * sketch IS exact below k.
    *
    * Scale shape: one DISTINCT shuffle on (key, hash) — the same
    * shuffle exact distinct pays — then the rank-k probe rides
    * Spark's WindowGroupLimit (≤ k rows per key per partition move;
    * verified in PLANS). In a production sketch the distinct is
    * replaced by per-partition top-k accumulators merged map-side
    * (the KMV union = min-k of the union); this spelling keeps the
    * whole operator in declarative Catalyst while measuring the same
    * rank-k plan shape. */
  def q29KmvDistinct(s: SparkSession, dir: String,
      k: Int = KmvK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashes = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT)").as("h"))
      .distinct() // (key, hash) level: md5-collided users collapse identically in both engines
    val w = Window.partitionBy("event_type").orderBy("h")
    val kth = hashes.withColumn("rk", row_number().over(w))
      .filter(col("rk") === k)
      .select(col("event_type"), col("h").as("kth"))
    hashes.groupBy("event_type").agg(count(lit(1)).as("n_hashes"))
      .join(kth, Seq("event_type"), "left")
      .select(col("event_type"), col("n_hashes"),
        coalesce(
          expr(s"CAST((${k - 1} * CAST(4294967296 AS BIGINT)) " +
            "div nullif(kth, 0) AS BIGINT)"),
          col("n_hashes")).as("kmv_est"))
      .orderBy("event_type")
  }

  /** q31: audience-OVERLAP estimation by MERGING KMV sketches — the
    * capability a sketch exists for: |A∪B|, |A∩B| and Jaccard between
    * every pair of event-type audiences computed from the per-type
    * sketches ALONE, never re-touching the raw corpus (Beyer et al.
    * 2007, "On Synopses for Distinct-Value Estimation Under Multiset
    * Operations" — the KMV union is the k smallest of the pooled
    * sketch hashes, and the fraction of the union sketch present in
    * both input sketches estimates Jaccard). Under capacity the union
    * sketch holds every distinct union hash, so the report is exact —
    * sf0.001 exercises that branch, sf0.01/0.1 the estimate branch.
    * All outputs are deterministic integers (md5-derived hashes,
    * integer division; the Jaccard is reported in permille), so the
    * gate is a full cross-engine hash match like q29's.
    *
    * Scale shape: the only corpus pass is q29's (distinct (key, hash)
    * collapse, one combinable shuffle); everything after operates on
    * sketch rows — k·|types| of them — so pairwise overlap across P
    * key pairs costs O(P·k) tiny-table work, not another corpus scan.
    * At 100 TB with thousands of keys the sketches are still KBs;
    * the pair expansion broadcasts them. */
  def q31KmvOverlap(s: SparkSession, dir: String,
      k: Int = KmvK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hashes = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT)").as("h"))
      .distinct()
    val w = Window.partitionBy("event_type").orderBy("h")
    val sk = hashes.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k).select("event_type", "h")
    val types = sk.select(col("event_type").as("t")).distinct()
    val tpairs = types.select(col("t").as("type_a"))
      .crossJoin(types.select(col("t").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val aSide = tpairs
      .join(sk.withColumnRenamed("event_type", "type_a"), Seq("type_a"))
      .select(col("type_a"), col("type_b"), col("h"),
        lit(1).as("in_a"), lit(0).as("in_b"))
    val bSide = tpairs
      .join(sk.withColumnRenamed("event_type", "type_b"), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("h"),
        lit(0).as("in_a"), lit(1).as("in_b"))
    val wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    aSide.unionByName(bSide)
      .groupBy("type_a", "type_b", "h")
      .agg(max("in_a").as("in_a"), max("in_b").as("in_b"))
      .withColumn("rk", row_number().over(wp)).filter(col("rk") <= k)
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_k"),
        sum(when(col("in_a") === 1 && col("in_b") === 1, 1L)
          .otherwise(0L)).as("n_both"),
        max("h").as("kth"))
      .withColumn("est_union", when(col("n_k") === k,
        expr(s"CAST((${k - 1} * CAST(4294967296 AS BIGINT)) " +
          "div nullif(kth, 0) AS BIGINT)"))
        .otherwise(col("n_k")))
      .select(col("type_a"), col("type_b"),
        col("n_k").cast("int").as("n_k"),
        col("n_both").cast("int").as("n_both"),
        col("est_union"),
        expr("CAST((n_both * est_union) div n_k AS BIGINT)").as("est_inter"),
        expr("CAST((n_both * 1000) div n_k AS INT)").as("jac_permille"))
      .orderBy("type_a", "type_b")
  }

  /** q32: staged conversion FUNNEL over the event stream — the
    * sequential-pattern analytic (view → click → purchase, each stage
    * gated on happening at-or-after the previous stage's FIRST
    * occurrence per user) that product/event pipelines run beside the
    * frequency reports the reference computes (its Dask chat-log and
    * twitter notebooks stop at per-type counts; a funnel is the same
    * events asked "in what order"). Stage n counts users whose first
    * occurrences satisfy t₁ ≤ t₂ ≤ … ≤ tₙ — comparisons in exact
    * event-time micros, inclusive so simultaneous first events (a
    * batch-landed session) count as ordered. Returns one row per
    * stage with the user count; exact integers only.
    *
    * Scale shape: one map-side-combinable per-user pivot (min event
    * time per funnel type — a single keyed shuffle of 3-column
    * partials), then a global 1-row aggregation of stage flags and a
    * constant 3-row stack projection. Linear in events, state bounded
    * by users, no window functions, no per-user sort. */
  def q32Funnel(s: SparkSession, dir: String): DataFrame = {
    def firstOf(t: String) =
      min(when(col("event_type") === t, col("tus"))).as(s"t_$t")
    val firsts = Tables.events(s, dir)
      .withColumn("tus", unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(firstOf("view"), firstOf("click"), firstOf("purchase"))
    val s1 = col("t_view").isNotNull
    val s2 = s1 && col("t_click") >= col("t_view")
    val s3 = s2 && col("t_purchase") >= col("t_click")
    firsts
      .agg(sum(when(s1, 1L).otherwise(0L)).as("n1"),
        sum(when(s2, 1L).otherwise(0L)).as("n2"),
        sum(when(s3, 1L).otherwise(0L)).as("n3"))
      .selectExpr("stack(3, 1, 'view', n1, 2, 'view>click', n2, " +
        "3, 'view>click>purchase', n3) AS (stage, label, n_users)")
      .orderBy("stage")
  }

  /** (grp, v, cnt) histogram → + `cum` (running count of rows with
    * value ≤ v within grp) and `n` (group total), in one keyed window
    * pass: a group's whole distinct-value histogram lands in one task,
    * a few hundred thousand rows at sf0.1. */
  private def rankedHist(hist: DataFrame, grp: String, v: String)
      : DataFrame = {
    val wOrd = Window.partitionBy(grp).orderBy(v)
    val wAll = Window.partitionBy(grp)
    hist
      .withColumn("cum", sum("cnt").over(wOrd))
      .withColumn("n", sum("cnt").over(wAll))
  }

  /** q33: per-group EXACT quantile summary (p25/p50/p75 + min/max/n) —
    * the `describe`-style distribution profile every reference frame
    * gets before modeling (tasks.py's min/max/mean/median family asked
    * for the full quartile picture). The one design decision is the
    * VALUE SPACE: quantiles interpolate `lo + (hi-lo)·frac`, and on raw
    * doubles that arithmetic is engine-order sensitive; on integer
    * CENTS with quartile fracs (0.25/0.5/0.75 — exact binary doubles)
    * every product and sum is an exact multiple of 0.25 well under
    * 2^53, so Spark's `percentile` and DuckDB's `quantile_cont` agree
    * BIT-IDENTICALLY whichever way they parenthesize. p95-style fracs
    * would not survive this (0.95·(n−1) can round across an integer
    * boundary differently per engine) — a production caller wanting
    * arbitrary fracs takes approx_percentile and loses the oracle.
    *
    * Scale shape: built-in exact `percentile` was REJECTED after
    * measurement (6.9s at sf0.1 — 3× the next-slowest gate query): it
    * buffers a value→count OpenHashMap per partial aggregate and
    * re-merges those maps at the reducer, so both CPU and memory are
    * O(distinct values) PER TASK. This spelling gets the same exact
    * result from relational pieces (0.6s, distinct-BOUNDED state):
    * one map-side-combinable groupBy collapses the scan to the
    * (group, cents) HISTOGRAM, one keyed window pass turns it into
    * cumulative ranks, and each quantile reads its two straddling
    * values with a rank-interval predicate — `lo + (hi−lo)·frac`
    * interpolation exactly as `percentile`/`quantile_cont` define it.
    * All arithmetic stays on the exact grid (see above), so the
    * rewrite is bit-identical to the builtin, and the oracle keeps
    * DuckDB's independent quantile_cont as the cross-check. The window
    * stays serial per group: a bucketed two-phase prefix sum that
    * spreads it over parallel windows lost at sf0.1 (1.88 vs 1.81 s,
    * OPTIMIZATION_r18) and showed no clear margin on the 10×
    * ScaleBench copy (same-JVM alternating pairs: faster in 6 of 8 for
    * q33, median 3.54 vs 3.66 s; 5 of 8 for q39; 3 of 8 for q48). */
  def q33Quantiles(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("l_returnflag", "cents").agg(count(lit(1)).as("cnt"))
    var ranked = rankedHist(hist, "l_returnflag", "cents")
    val qs = Seq("25" -> 0.25, "50" -> 0.5, "75" -> 0.75)
    qs.foreach { case (tag, q) =>
      // rank position rp = q·(n−1): exact (q is an exact binary
      // double, n−1 < 2^50); the straddling ranks are its floor/ceil
      ranked = ranked.withColumn(s"rp$tag",
        expr(s"CAST($q AS DOUBLE) * CAST(n - 1 AS DOUBLE)"))
    }
    def valueAt(pos: org.apache.spark.sql.Column) =
      max(when(col("cum") - col("cnt") <= pos && pos <= col("cum") - 1,
        col("cents")))
    ranked.groupBy("l_returnflag")
      .agg(max("n").as("n"),
        min("cents").as("min_cents"),
        max("cents").as("max_cents"),
        max(col("rp25")).as("rp25"),
        max(col("rp50")).as("rp50"),
        max(col("rp75")).as("rp75"),
        valueAt(floor(col("rp25"))).as("lo25"),
        valueAt(ceil(col("rp25"))).as("hi25"),
        valueAt(floor(col("rp50"))).as("lo50"),
        valueAt(ceil(col("rp50"))).as("hi50"),
        valueAt(floor(col("rp75"))).as("lo75"),
        valueAt(ceil(col("rp75"))).as("hi75"))
      .select(col("l_returnflag"), col("n"),
        col("min_cents"),
        expr(quantileInterp("25")).as("p25"),
        expr(quantileInterp("50")).as("p50"),
        expr(quantileInterp("75")).as("p75"),
        col("max_cents"))
      .orderBy("l_returnflag")
  }

  /** q39: TAIL quantiles (p90/p95/p99) per group — the production
    * percentile family q33's scaladoc deferred. Arbitrary fracs don't
    * survive cross-engine INTERPOLATION (0.95·(n−1) can round across
    * an integer boundary differently per engine), so the tail entry
    * takes NEAREST-RANK semantics instead (percentile_disc: the value
    * at rank ceil(q·n), 1-indexed) — rank = (q·n + 99) div 100 in
    * pure integer arithmetic, hash-exact at ANY n in both engines
    * (DuckDB's own quantile_disc matched this ceil-rank rule on every
    * probed n, but its index math is floating-point internally, so
    * the oracle spells the rank pick EXPLICITLY via row_number over
    * raw rows — different plumbing, same integer definition).
    *
    * Plan shape is q33's: one map-side-combinable histogram shuffle,
    * one keyed window pass to cumulative ranks, rank-interval reads —
    * state bounded by distinct cents per task, NOT the builtin
    * `percentile`'s per-task value maps (measured 6.9s vs 1.5s at
    * sf0.1 on q33). RelationalSpec additionally audits Spark's
    * `approx_percentile` sketch against these exact values (rank
    * error ≤ n/accuracy) — the approximate path for a caller that
    * cannot afford exact ranks, quantified instead of trusted. */
  def q39TailQuantiles(s: SparkSession, dir: String): DataFrame = {
    val hist = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("l_returnflag", "cents").agg(count(lit(1)).as("cnt"))
    val ranked = rankedHist(hist, "l_returnflag", "cents")
    def valueAt(rank: org.apache.spark.sql.Column) =
      max(when(col("cum") - col("cnt") < rank && rank <= col("cum"),
        col("cents")))
    ranked.groupBy("l_returnflag")
      .agg(max("n").as("n"),
        valueAt(expr("(90 * n + 99) div 100")).as("p90_cents"),
        valueAt(expr("(95 * n + 99) div 100")).as("p95_cents"),
        valueAt(expr("(99 * n + 99) div 100")).as("p99_cents"))
      .orderBy("l_returnflag")
  }

  /** q48 outlier cut: 3 · 1.4826 (the normal-consistency constant
    * that makes MAD estimate σ) in 1e4 fixed-point — the flag test
    * `dev · 10000 > mad · 44478` is pure integer arithmetic, so the
    * robust z-score never touches a float in either engine. */
  val Q48Cut = 44478L

  /** q48: per-group ROBUST outlier audit — median + MAD instead of
    * mean + stddev (one fat-fingered price corrupts both classical
    * moments; the median/MAD pair has breakdown point ½, the standard
    * data-quality screen). All arithmetic exact: the nearest-rank
    * median and the MAD ride q39's integer rank rule
    * (rank = (50·n+99) div 100 over the value histogram), deviations
    * are |cents − med|, and the 3σ-equivalent cut is the
    * [[Q48Cut]] fixed-point comparison. Plan: one histogram shuffle
    * for the median, one deviation-histogram shuffle (raw scan joined
    * to the group-cardinality broadcast median), then the MAD rank
    * and the outlier count both read the SAME checkpointed deviation
    * histogram — two corpus scans, two keyed shuffles, everything
    * else group-cardinality. Output per group: n, median, MAD,
    * outlier count, max deviation. */
  def q48RobustOutliers(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "relational.q48") { sc =>
      val raw = Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)").as("cents"))
      def medianOf(hist: DataFrame, v: String): DataFrame = {
        val ranked = rankedHist(hist, "l_returnflag", v)
        ranked.groupBy("l_returnflag")
          .agg(max(when(col("cum") - col("cnt") < expr("(50 * n + 99) div 100")
            && expr("(50 * n + 99) div 100") <= col("cum"), col(v)))
            .as("m"))
      }
      // ONE corpus scan: the deviation histogram is a pure function of
      // the (flag, cents) histogram — dev = |cents − med| re-keyed with
      // the counts summed — so deriving it FROM the checkpointed cents
      // histogram replaces the second lineitem scan + corpus-sized
      // (flag, dev) shuffle with a histogram-sized re-aggregation
      // (guide §2.3: aggregate before you shuffle). Bit-identical: for
      // every raw row, dev is determined by its cents value, so summing
      // histogram counts over colliding devs equals counting raw rows.
      // feeds the median rank AND the dev histogram
      val hist = sc.cut(raw.groupBy("l_returnflag", "cents")
        .agg(count(lit(1)).as("cnt")))
      // group-cardinality; read again at output time
      val med = sc.cut(medianOf(hist, "cents")
        .withColumnRenamed("m", "med_cents"))
      // feeds the MAD rank AND the outlier count
      val devHist = sc.cut(hist.join(broadcast(med), Seq("l_returnflag"))
        .withColumn("dev", abs(col("cents") - col("med_cents")))
        .groupBy("l_returnflag", "dev").agg(sum("cnt").as("cnt")))
      val mad = medianOf(devHist, "dev").withColumnRenamed("m", "mad_cents")
      devHist
        .join(broadcast(mad), Seq("l_returnflag"))
        .join(broadcast(med), Seq("l_returnflag"))
        .groupBy("l_returnflag")
        .agg(sum("cnt").as("n"),
          max("med_cents").as("med_cents"),
          max("mad_cents").as("mad_cents"),
          sum(when(col("dev") * 10000L > col("mad_cents") * Q48Cut,
            col("cnt")).otherwise(0L)).as("n_outliers"),
          max("dev").as("max_dev"))
        .orderBy("l_returnflag")
    }

  /** q40 register count: m = 2^p registers (p = 6 → 64). Standard HLL
    * error ≈ 1.04/sqrt(m) ≈ 13% at 64 — matched to [[KmvK]] so the two
    * sketch families are compared at equal accuracy budgets. */
  val HllP = 6
  val HllM: Int = 1 << HllP
  /** Hash bits left for the rho pattern after the register index. */
  val HllWBits: Int = 32 - HllP
  /** Raw-estimate numerator: round(alpha_64 · m² · 2^(wBits+1)) — the
    * whole bias-corrected harmonic mean collapses to one integer
    * division C div S once S is kept as the SCALED integer
    * sum(2^(wBits+1−r)) (empty registers contribute 2^(wBits+1)). */
  val HllC: Long =
    math.round(0.709 * HllM * HllM * math.pow(2.0, HllWBits + 1))
  /** Raw→linear-counting switch threshold: E ≤ 2.5·m (Flajolet et al.
    * 2007 §4 small-range correction). */
  val HllLinThresh: Int = 5 * HllM / 2
  /** Linear-counting estimates round(m·ln(m/V)) for every possible
    * empty-register count V ∈ [1, m], precomputed on the DRIVER with
    * StrictMath and inlined as integer literals into BOTH engines'
    * expressions — `ln` is the one transcendental that skews 1 ulp
    * between libm and the JVM, so it must never run inside either
    * engine on a gate-checked path. */
  val HllLinTable: IndexedSeq[Long] = (1 to HllM).map(v =>
    math.round(HllM * StrictMath.log(HllM.toDouble / v)))

  /** Shared Spark/DuckDB CASE expression mapping v_empty → linear-
    * counting estimate (the same literal text runs in both engines —
    * the s4 shared-expression-string exactness idiom). */
  private[graft] def hllLinCaseSql(v: String): String =
    "CASE " + HllLinTable.zipWithIndex.map { case (e, i) =>
      s"WHEN $v = ${i + 1} THEN CAST($e AS BIGINT)"
    }.mkString(" ") + " ELSE CAST(0 AS BIGINT) END"

  /** Shared DuckDB mirror of the HLL register/estimate pipeline,
    * parameterized on the sketch KEY columns and the hashed-source
    * CTE body — one spelling serves q40 (event_type key, with the
    * '~all' merge row), q44 (same key, no merge) and st9 (time-bucket
    * + event_type key), so a change to the sketch math lands in every
    * oracle at once. `bSelect` must emit the key columns plus `h`. */
  private[graft] def hllOracleSqlKeyed(keys: Seq[String], bSelect: String,
      withMerge: Boolean): String = {
    val ks = keys.mkString(", ")
    val kNums = keys.indices.map(_ + 1).mkString(", ")
    val ruCte = if (withMerge)
      s"""ru AS (
         |  SELECT $ks, idx, r FROM r
         |  UNION ALL
         |  SELECT '~all' AS ${keys.head}, idx, max(r) AS r
         |  FROM r GROUP BY 2),""".stripMargin
    else s"ru AS (SELECT $ks, idx, r FROM r),"
    s"""WITH b AS (
       |  $bSelect),
       |s AS (
       |  SELECT $ks, h // ${1L << HllWBits} AS idx,
       |    h % ${1L << HllWBits} AS w
       |  FROM b),
       |r AS (
       |  SELECT $ks, idx,
       |    max(CASE WHEN w = 0 THEN ${HllWBits + 1}
       |        ELSE ${HllWBits + 1} - length(bin(w)) END) AS r
       |  FROM s GROUP BY $kNums, ${keys.length + 1}),
       |$ruCte
       |t AS (
       |  SELECT $ks, CAST(count(*) AS INT) AS filled,
       |    sum(CAST(1 AS BIGINT) << (${HllWBits + 1} - r)) AS s_fill
       |  FROM ru GROUP BY $kNums),
       |e AS (
       |  SELECT $ks,
       |    CAST($HllM - filled AS INT) AS v_empty,
       |    CAST(s_fill + CAST($HllM - filled AS BIGINT) *
       |      ${1L << (HllWBits + 1)} AS BIGINT) AS s_scaled
       |  FROM t)
       |SELECT $ks, v_empty, s_scaled,
       |  CAST(CASE WHEN v_empty > 0
       |      AND $HllC // s_scaled <= $HllLinThresh
       |    THEN ${hllLinCaseSql("v_empty")}
       |    ELSE $HllC // s_scaled END AS BIGINT) AS hll_est
       |FROM e ORDER BY $kNums""".stripMargin
  }

  /** q40/q44 form: event_type key over the md5-hashed events scan. */
  private[graft] def hllOracleSql(withMerge: Boolean): String =
    hllOracleSqlKeyed(Seq("event_type"),
      s"SELECT event_type, ${sqlHash32("user_id")} AS h\n  FROM events",
      withMerge)

  /** Shared Spark-side estimate tail over a register frame grouped by
    * `keys` with a register column `r` — q40's integer-only arithmetic
    * factored once for the relational (q40), windowed-streaming (st9)
    * and any future sketch-keyed caller. */
  private[graft] def hllEstimateFromRegs(regs: DataFrame,
      keys: Seq[String]): DataFrame = {
    val wb1 = HllWBits + 1
    regs
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("int").as("filled"),
        sum(expr(s"CAST(shiftleft(CAST(1 AS BIGINT), $wb1 - r) AS BIGINT)"))
          .as("s_fill"))
      .select(keys.map(col) ++ Seq(
        expr(s"CAST($HllM - filled AS INT)").as("v_empty"),
        expr(s"CAST(s_fill + CAST($HllM - filled AS BIGINT) * " +
          s"${1L << wb1} AS BIGINT)").as("s_scaled")): _*)
      .withColumn("e_raw", expr(s"CAST($HllC div s_scaled AS BIGINT)"))
      .select(keys.map(col) ++ Seq(col("v_empty"), col("s_scaled"),
        expr(s"CAST(CASE WHEN v_empty > 0 AND e_raw <= $HllLinThresh " +
          s"THEN ${hllLinCaseSql("v_empty")} ELSE e_raw END AS BIGINT)")
          .as("hll_est")): _*)
  }

  /** q44: the HLL sketch as a NATIVE CATALYST AGGREGATE —
    * `groupBy(key).agg(hll_sketch(h))`, one pass, one shuffle whose
    * rows are fixed 64-byte register buffers per (key, task)
    * (graft.functions.HllSketchAgg, a TypedImperativeAggregate: update
    * folds the pre-hashed value into a byte-array buffer, merge is
    * bytewise max — the sketch-union algebra on every partial/final
    * boundary — and eval runs q40's integer-only estimate). q40 keeps
    * the relational spelling (it also exhibits the cross-type merge);
    * this is the form a production caller composes with other
    * aggregates in the same GROUP BY. Hash input stays the explicit
    * md5 expression, so the DuckDB oracle replays the identical
    * pipeline and the gate hash-matches the struct fields. */
  def q44HllAgg(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT)").as("h"))
      .groupBy("event_type")
      .agg(expr("hll_sketch(h)").as("sk"))
      .select(col("event_type"), col("sk.v_empty"), col("sk.s_scaled"),
        col("sk.hll_est"))
      .orderBy("event_type")
  }

  /** q40: approximate DISTINCT-COUNT via a from-scratch HYPERLOGLOG —
    * the industry-standard sketch (Flajolet/Fusy/Gandouet/Meunier
    * 2007; Heule et al. 2013 run it at Google scale) implemented with
    * an EXPLICIT register layout so it gets the full cross-engine
    * hash-exact oracle that q29's scaladoc correctly says BUILTIN
    * HLLs (Spark's approx_count_distinct, DuckDB's) can never have —
    * their register encodings are private and differ per engine. Here
    * the sketch IS the query: the md5-derived 32-bit hash splits into
    * a [[HllP]]-bit register index and a [[HllWBits]]-bit pattern
    * whose leading-zero rank rho feeds register = max(rho); the
    * estimate is integer-only (scaled harmonic sum, one integer
    * division by [[HllC]], driver-inlined [[HllLinTable]] for the
    * small-range branch), so both engines agree bit-for-bit. The
    * test SFs exercise both branches (15 distinct/type at sf0.001 →
    * linear counting; 1500/type at sf0.1 → raw). A final `~all` row
    * MERGES the per-type sketches by register-wise max — the property
    * sketches exist for (a union's sketch = max of the sketches,
    * never re-touching the corpus) — and the oracle replays the merge.
    *
    * vs q29 KMV at the same accuracy: KMV must DISTINCT (key, hash)
    * before ranking — a distinct-cardinality shuffle. HLL's max-fold
    * absorbs duplicates in the map-side partial agg, so the ONLY
    * shuffle is the (key, register) partial table — ≤ m rows per key
    * per task regardless of corpus size. At 100 TB that is the
    * difference between shuffling every distinct user once and
    * shuffling 64 longs per key per task: HLL is the sketch a
    * production pipeline actually deploys, and this plan has its
    * true shape (scan → combinable max agg → m-row algebra).
    *
    * Range ceiling: the 32-bit hash saturates near 2³²/30 ≈ 143M
    * distinct per key (Flajolet's large-range correction regime —
    * another `ln`, so it would need the same inlined-table treatment).
    * A 100 TB deployment that expects billions of distinct per key
    * widens the hash to 64 bits (md5 has the bits to spare; wBits
    * grows, the arithmetic is unchanged) rather than correcting a
    * saturated 32-bit sketch — documented here because the gate
    * corpora sit orders of magnitude below the ceiling. */
  def q40HllDistinct(s: SparkSession, dir: String): DataFrame = {
    val wb1 = HllWBits + 1 // rho range is [1, wBits+1]; empty = 0
    val regs = Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT)").as("h"))
      .select(col("event_type"),
        expr(s"h div ${1L << HllWBits}").as("idx"),
        expr(s"h % ${1L << HllWBits}").as("w"))
      .groupBy("event_type", "idx")
      .agg(max(expr(
        s"CASE WHEN w = 0 THEN $wb1 ELSE $wb1 - length(bin(w)) END"))
        .as("r"))
    // the merged (union) sketch: register-wise max across types
    val merged = regs.groupBy("idx")
      .agg(max("r").as("r"))
      .select(lit("~all").as("event_type"), col("idx"), col("r"))
    hllEstimateFromRegs(regs.unionByName(merged), Seq("event_type"))
      .orderBy("event_type")
  }

  /** CMS geometry: depth (independent hash rows) × width (buckets per
    * row). 4×256 = 1024 counters TOTAL — the point of the sketch. */
  val CmsDepth = 4
  val CmsWidth = 256
  /** Fixed probe list: common words, the rare 'dup', and one absent
    * token — the estimate-vs-truth audit covers all three regimes. */
  val CmsProbes: Seq[String] =
    Seq("dup", "query", "scan", "spark", "the", "zzz_absent")

  /** First 32 bits of md5("d|" + word) mod [[CmsWidth]] — the row-d CMS
    * bucket; [[sqlCmsHash]] is the bit-exact DuckDB mirror. */
  private def cmsHash(d: Int, w: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(s"$d|"), w)), 1, 8), 16, 10)
      .cast("long") % CmsWidth

  private def sqlCmsHash(d: Int, w: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5('$d|' || $w), $i, 1)) - 1)"
    s"((${nib(1)} * 268435456 + ${nib(2)} * 16777216 + " +
      s"${nib(3)} * 1048576 + ${nib(4)} * 65536 + ${nib(5)} * 4096 + " +
      s"${nib(6)} * 256 + ${nib(7)} * 16 + ${nib(8)}) % $CmsWidth)"
  }

  /** q35: COUNT-MIN-SKETCH frequency estimates — the third sketch of
    * the family (q29 KMV answers "how many distinct", q31 "how much
    * overlap", CMS answers "how often does X occur" in O(depth·width)
    * memory however large the stream; Cormode & Muthukrishnan 2005).
    * est(w) = min over rows d of cell[d][h_d(w)] — an UPPER bound on
    * the true count (collisions only ever add), audited here against
    * exact truth for [[CmsProbes]] spanning rare/common/absent.
    * Deterministic md5 row-hashes make this — like KMV, unlike
    * HLL — a sketch with a bit-exact CROSS-ENGINE oracle.
    *
    * Scale shape: the sketch is built from the WORD-COUNT frame, not
    * the token stream — one combinable vocab-bounded groupBy (q13's
    * shuffle), then a vocab×depth projection collapsing into
    * depth·width = 1024 cells (a second, tiny combinable agg). The
    * probe lookup joins 24 (probe,row) pairs against the 1024-cell
    * frame — broadcast, output-sized. At 100 TB the only data-sized
    * stage is the word count every corpus pays anyway; in a streaming
    * deployment the same cells are the `sum` state of an st2-style
    * windowed agg (bounded state by construction). */
  def q35CmsTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val wc = Tables.documents(s, dir)
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')"))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val rows = (0 until CmsDepth).map(d =>
      struct(lit(d).as("d"), cmsHash(d, col("word")).as("b")))
    val cells = wc
      .select(explode(array(rows: _*)).as("db"), col("cnt"))
      .groupBy(col("db.d").as("d"), col("db.b").as("b"))
      .agg(sum("cnt").as("cell"))
    val probeCells = CmsProbes.toDF("word")
      .select(col("word"), explode(array(rows: _*)).as("db"))
      .select(col("word"), col("db.d").as("d"), col("db.b").as("b"))
    probeCells
      .join(broadcast(cells), Seq("d", "b"), "left")
      .groupBy("word")
      .agg(min(coalesce(col("cell"), lit(0L))).as("cms_est"))
      .join(broadcast(wc.filter(col("word").isin(CmsProbes: _*))),
        Seq("word"), "left")
      .select(col("word"),
        coalesce(col("cnt"), lit(0L)).as("true_cnt"),
        col("cms_est"),
        (col("cms_est") - coalesce(col("cnt"), lit(0L))).as("overcount"))
      .orderBy("word")
  }

  /** q34: COHORT RETENTION — the first-seen-day × activity-day matrix
    * (cohort analysis) every product/event pipeline derives from the
    * same stream the reference only frequency-counts: users who first
    * appeared on day d, how many were active again d+k days later?
    * Day index is pure integer arithmetic (`epoch_us div 86_400e6`) —
    * no calendar/week-start conventions to disagree on cross-engine.
    *
    * Scale shape: ONE data-sized shuffle. The per-user distinct-day
    * set rides `collect_set` (partial sets merge map-side; state per
    * user is bounded by the CALENDAR — distinct active days — not by
    * event count), cohort = array_min of the same set, and the
    * (cohort, offset) matrix is a second, output-sized aggregation.
    * The oracle spells the textbook distinct → min → self-join
    * instead — an independent plan reaching the same matrix. */
  def q34RetentionCohorts(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy("user_id")
      .agg(collect_set("day").as("days"))
      .withColumn("cohort_day", array_min(col("days")))
      .select(col("cohort_day"), explode(col("days")).as("day"))
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")

  /** q41 inactivity gap: a new session starts when a user's events are
    * further apart than this. 24h (not the web-analytics 30min) because
    * the synthetic stream averages one event per ~10.7h per user —
    * 30min would make 95% of sessions singletons and the operator's
    * grouping semantics would go untested; at 24h the mean session is
    * ~9 events. Production callers pass their own gap. */
  val SessionGapHours = 24

  /** q41: BATCH SESSIONIZATION — split each user's event stream into
    * sessions at inactivity gaps (the analytics primitive behind DAU
    * funnels, engagement length, and the st3 streaming sessionizer's
    * backfill: a lake recomputes historical sessions in batch with
    * EXACTLY this query, then the stream keeps them current). The
    * classic two-window spelling: lag() marks session STARTS (first
    * event, or gap > [[SessionGapHours]]), a running sum of the marks
    * numbers sessions per user, one groupBy aggregates each session's
    * bounds/size/type-diversity. All outputs are exact integers
    * (event-time micros), so the gate is a full cross-engine hash
    * match; ties inside a user sort on (tus, event_id) — total order,
    * both engines.
    *
    * Scale shape: ONE keyed shuffle (user_id) whose window sort is
    * reused by both window functions (same partition+order spec) and
    * by the map-side partial of the follow-up (user, session) agg
    * (hash-partitioning on user_id satisfies the (user, session)
    * clustering — a subset key) — .explain shows a single HASH
    * exchange; the only other is the final ORDER BY's presentation
    * range exchange every gate query carries. State is one row per event in
    * the sort spill plus O(1) lag state; the session agg collapses
    * 9:1 before anything moves again. Per-user data lands on one task
    * — the sessionize contract — so a bot user with 10⁸ events is the
    * skew hazard; the production mitigation is q25's pattern (pre-split
    * hot users on (user, day) — sessions never span the gap anyway
    * when day boundaries exceed it). */
  def q41SessionizeBatch(s: SparkSession, dir: String,
      gapHours: Int = SessionGapHours): DataFrame = {
    val gapUs = gapHours.toLong * 3600L * 1000000L
    val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("is_new",
        when(col("tus") - lag("tus", 1).over(w) <= gapUs, 0L).otherwise(1L))
      .withColumn("session_seq", sum("is_new").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        min("tus").as("start_us"),
        max("tus").as("end_us"),
        countDistinct("event_type").cast("int").as("n_types"))
      .withColumn("dur_us", col("end_us") - col("start_us"))
      .orderBy("user_id", "session_seq")
  }

  /** q43 trailing-window width in days (inclusive of the current day). */
  val RollDays = 90

  /** q43: ROLLING-WINDOW aggregates with a RANGE frame — the
    * time-windowed analytic the row-frame family (q27's rank windows,
    * q41's running sum) can't express: for every order, the count and
    * exact-decimal sum of the SAME customer's orders in the trailing
    * [[RollDays]] days, collapsed to the per-customer PEAK (burst
    * detection — the max trailing-window activity and the first day
    * it was reached). RANGE frames bound the window by VALUE distance
    * on the order key (day offset), so same-day peer rows always share
    * one frame — the result is deterministic with no intra-day
    * tie-break needed, and both engines agree exactly: integer day
    * offsets from the unix epoch, exact DECIMAL(18,2) window sums cast
    * to double only at the output edge (the Exact.dsum contract),
    * BIGINT counts.
    *
    * Scale shape: ONE hash exchange on o_custkey serves all four
    * windows (the two RANGE frames and the two per-customer unbounded
    * maxes reuse the same partitioning+sort) and the final peak-row
    * groupBy (subset-key clustering, q41's pattern). Window state is
    * the trailing frame only — Spark's RANGE implementation keeps the
    * sliding bound, not the partition. */
  def q43RollingWindow(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_custkey"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01")).as("day"),
        col("o_totalprice"))
    val roll = Window.partitionBy("o_custkey").orderBy("day")
      .rangeBetween(-(RollDays - 1), 0)
    val cust = Window.partitionBy("o_custkey")
    base
      .withColumn("wcnt", count(lit(1)).over(roll))
      .withColumn("wsum",
        sum(col("o_totalprice").cast(DecimalType(18, 2))).over(roll))
      .withColumn("pk_cnt", max("wcnt").over(cust))
      .withColumn("pk_sum", max("wsum").over(cust))
      .filter(col("wcnt") === col("pk_cnt"))
      .groupBy("o_custkey")
      .agg(max("pk_cnt").as("peak_cnt"),
        max(col("pk_sum")).cast("double").as("peak_sum"),
        min("day").cast("int").as("peak_day"))
      .orderBy("o_custkey")
  }

  /** Power-user cap for q37: each user contributes at most this many
    * distinct items to the pair fan-out. 12 sits below the median
    * profile size of the synthetic click stream (13/12/12 items at the
    * three SFs, max 20–24), so the cap genuinely reshapes most
    * profiles at every SF — spec-asserted, because a cap the corpus
    * never reaches would leave the operator's scale story untested. */
  val CoocCap = 12
  val CoocTopK = 20

  /** q37: ITEM-ITEM CO-OCCURRENCE over the click stream — the
    * "customers who clicked X also clicked Y" matrix every
    * recommendation / related-content pipeline derives from the same
    * events the reference only frequency-counts (q9's altitude, one
    * hop up). Items are the `props.k` ids (the q15 extraction); a
    * pair's weight is the number of users with BOTH items in their
    * capped click profile.
    *
    * Scale shape: the pair fan-out is the quadratic hazard — a user
    * with d distinct items contributes d(d−1)/2 pairs, so ONE
    * power user at 100 TB (bots, crawlers) can emit more pairs than
    * the rest of the corpus combined. The fix is the production
    * standard (Spark ALS / co-occurrence pipelines all ship it): cap
    * each user's profile at [[CoocCap]] items, kept DETERMINISTICALLY
    * (top-clicks, item-id tie-break) via a row_number window that
    * Spark 4 prunes map-side (WindowGroupLimit), bounding the blow-up
    * at C(C−1)/2 per user. After the cap: per-user profiles self-join
    * on user_id (both sides share the window's hash partitioning — the
    * exchange is planned once and REUSED), the pair count is a
    * map-side-combinable aggregation, and the final top-k is a
    * TakeOrderedAndProject. */
  /** The capped per-user click profile (user_id, item) — THE shared
    * substrate of the item-graph family: q37's co-occurrence pairs and
    * q45's triangle edges both derive from exactly this frame, so the
    * profile rule (click filter, JSON item extract, [[CoocCap]]
    * deterministic keep) lives in one place. */
  private[graft] def cappedClickProfiles(s: SparkSession,
      dir: String): DataFrame = {
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .groupBy("user_id", "item")
      .agg(count(lit(1)).as("clicks"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("clicks").desc, col("item"))
    clicks
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= CoocCap)
      .select("user_id", "item")
  }

  /** DuckDB CTE text of [[cappedClickProfiles]] (`ci`, `capped`) —
    * shared by the q37 and q45 oracles. */
  private[graft] def sqlCappedProfilesCtes: String =
    s"""ci AS (
       |  SELECT user_id,
       |    CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '')
       |      AS INTEGER) AS item,
       |    count(*) AS clicks
       |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
       |capped AS (
       |  SELECT user_id, item FROM (
       |    SELECT user_id, item, row_number() OVER (
       |      PARTITION BY user_id ORDER BY clicks DESC, item) AS rn
       |    FROM ci) WHERE rn <= $CoocCap)""".stripMargin

  def q37Cooccur(s: SparkSession, dir: String): DataFrame = {
    val capped = cappedClickProfiles(s, dir)
    capped.select(col("user_id"), col("item").as("item_a"))
      .join(capped.select(col("user_id"), col("item").as("item_b")),
        "user_id")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("users"))
      .orderBy(col("users").desc, col("item_a"), col("item_b"))
      .limit(CoocTopK)
  }

  /** q38: MARKOV TRANSITION MATRIX over event types — P(next event
    * type | current) per user session stream, the behavioral-model
    * fingerprint (bot detection, funnel diagnostics) of the stream
    * q32/q34 analyze by position and calendar. Each user's events are
    * ordered by (ts, event_id); every consecutive pair is one
    * transition; the matrix row-normalizes to integer PERMILLE
    * (`1000·cnt div row_total` — exact integer division, the q36/s5
    * fixed-point rule, so the gate never hashes a quotient double).
    *
    * Scale shape: one keyed shuffle (user_id) for the lag window —
    * the same partitioning st3/q32 ride; the (prev, next) aggregation
    * is map-side-combinable into a TYPE²-sized frame (constant: 5×5
    * here), and the row totals attach via a window over that
    * constant-sized frame, never a second data shuffle. */
  def q38Transitions(s: SparkSession, dir: String): DataFrame = {
    val wSeq = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev_type", lag("event_type", 1).over(wSeq))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("permille",
        expr("1000 * cnt div sum(cnt) OVER (PARTITION BY prev_type)"))
      .select("prev_type", "next_type", "cnt", "permille")
      .orderBy("prev_type", "next_type")
  }

  /** q50: the SKYLINE (Pareto-frontier) operator — Börzsönyi et al.
    * 2001: the customers no other customer beats on BOTH axes
    * (maximize order count, minimize average ticket `spend div n` —
    * the frequency-vs-ticket-size efficiency frontier; the axes are
    * deliberately anti-correlated: a max/max pair degenerates to one
    * global-max row on this corpus, measured). b dominates a iff
    * b.n ≥ a.n ∧ b.avg ≤ a.avg with at least one strict.
    *
    * Scale shape: in 2D the dominance test collapses to PREFIX
    * EXTREMA — a row survives iff it holds its x-group's min y AND
    * beats the running min y over all strictly-greater x. So the
    * plan is ONE keyed aggregation (per-customer), a per-x frame
    * (bounded by DISTINCT x values — here max orders per customer,
    * ~24; an unbounded x would take c23's two-phase enumeration),
    * one tiny window over that frame, and a broadcast join back —
    * never the naive quadratic self-join (that is the ORACLE's job:
    * the NOT EXISTS spelling is the literal dominance definition,
    * the d7 brute-force discipline). Higher dimensions need
    * grid/partition pruning; 2D is the common audit shape. All
    * integer: cents, floor division. */
  def q50Skyline(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.orders(s, dir)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)").as("cents"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"), sum("cents").as("spend_c"))
      .withColumn("avg_c", expr("spend_c div n_orders"))
      .select("o_custkey", "n_orders", "avg_c")
    val perX = agg.groupBy("n_orders").agg(min("avg_c").as("mn"))
    val wX = Window.orderBy(col("n_orders").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = perX.withColumn("m1", min("mn").over(wX))
    agg.join(broadcast(frontier), "n_orders")
      .filter((col("m1").isNull || col("m1") > col("avg_c")) &&
        col("avg_c") === col("mn"))
      .select("o_custkey", "n_orders", "avg_c")
      .orderBy("o_custkey")
  }

  /** Support floor and output size for q51's rule mining. */
  val AssocMinSupport = 3L
  val AssocTopK = 30

  /** q51: ASSOCIATION RULES over the click stream — confidence and
    * lift for directional rules a→b mined from q37's capped
    * co-occurrence pairs (the Agrawal-Srikant market-basket shape:
    * q37 answers "which items co-occur", q51 grades the implication —
    * `confidence = P(b|a)`, `lift = P(ab)/(P(a)P(b))`, the scores a
    * recommender actually ranks by; lift < 1 marks negatively
    * associated pairs a raw co-count can't distinguish).
    *
    * Everything is integer fixed-point (the q36/q38 permille rule):
    * conf_pm = 1000·n_ab div n_a, lift_pm = 1000·n_ab·N div
    * (n_a·n_b) — order-free, no quotient double crosses the gate.
    * Scale shape: rides q37's machinery unchanged — the capped
    * profile self-join bounds the pair fan-out at C(C−1)/2 per user,
    * item supports are ONE map-side-combinable count off the same
    * capped frame, N (users with a nonempty capped profile) is a
    * 1-row broadcast, and supports attach to the pair frame by two
    * item-keyed joins (item-cardinality, AQE elects broadcast at
    * gate scale without a hint). Support floor ≥ [[AssocMinSupport]]
    * prunes the noise tail BEFORE the support joins; top-k is
    * TakeOrdered on (conf DESC, lift DESC, a, b). */
  def q51AssocRules(s: SparkSession, dir: String): DataFrame = {
    val capped = cappedClickProfiles(s, dir)
    val supp = capped.groupBy("item").agg(count(lit(1)).as("n_i"))
    val nUsers = capped.select(countDistinct("user_id").as("n_users"))
    val pairs = capped.select(col("user_id"), col("item").as("item_a"))
      .join(capped.select(col("user_id"), col("item").as("item_b")),
        "user_id")
      .filter(col("item_a") < col("item_b"))
      .groupBy("item_a", "item_b")
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= AssocMinSupport)
    val rules = pairs
      .select(col("item_a").as("antecedent"),
        col("item_b").as("consequent"), col("n_ab"))
      .union(pairs.select(col("item_b"), col("item_a"), col("n_ab")))
      .join(supp.withColumnRenamed("item", "antecedent")
        .withColumnRenamed("n_i", "n_a"), "antecedent")
      .join(supp.withColumnRenamed("item", "consequent")
        .withColumnRenamed("n_i", "n_b"), "consequent")
      .crossJoin(broadcast(nUsers))
      .withColumn("conf_pm", expr("1000 * n_ab div n_a"))
      // lift's numerator is corpus-quadratic (n_ab·N) — widened to
      // DECIMAL(38,0) so it fails/widens instead of wrapping Long at
      // crawl scale (the c9 rule); DuckDB mirrors via HUGEINT and
      // both collapse back to BIGINT after the integral division
      .withColumn("lift_pm", expr(
        "(CAST(1000 AS DECIMAL(38,0)) * n_ab * n_users) " +
          "div (CAST(n_a AS DECIMAL(38,0)) * n_b)"))
      .select("antecedent", "consequent", "n_ab", "n_a", "n_b",
        "conf_pm", "lift_pm")
    rules
      .orderBy(col("conf_pm").desc, col("lift_pm").desc,
        col("antecedent"), col("consequent"))
      .limit(AssocTopK)
  }

  /** q52 decay horizon: a click aged d days (0-based, relative to the
    * corpus's newest event day) weighs 2^(horizon−1−d); at or past the
    * horizon it weighs zero. 14 days ≈ a two-week half-life-per-day
    * trending window. */
  val DecayHorizon = 14
  val DecayTopK = 20

  /** q52: DECAY-WEIGHTED TRENDING items — the freshness-weighted
    * popularity score every feed/trending surface ranks by (HN/Reddit
    * lineage): a click today outweighs yesterday's by 2×, so a burst
    * beats a long-accumulated tail that a raw q9-style count would
    * rank first. Weights are EXACT POWERS OF TWO (`1 << (K−1−age)`,
    * zero at/past the horizon) — the one decay family whose weights
    * are exact integers, so the score is an order-free BIGINT sum
    * (the float `exp(−λ·age)` spelling would hash-flake across
    * partial-agg merge orders; halving per day IS an exponential
    * decay with λ = ln 2). Sums fit easily: 2^13 · corpus clicks.
    *
    * Scale shape: the reference day is a 1-row broadcast (one max
    * over the scan — production uses the wall clock and skips the
    * pass); weights are scan-local; the score is ONE map-side-
    * combinable groupBy over items; top-k is TakeOrdered. Nothing
    * here is corpus-skew-sensitive — a bot inflates its item's score
    * linearly, not the plan. */
  def q52DecayTrend(s: SparkSession, dir: String): DataFrame = {
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(get_json_object(col("props"), "$.k").cast("int").as("item"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .filter(col("item").isNotNull)
    val refDay = clicks.agg(max("day").as("ref_day"))
    clicks.crossJoin(broadcast(refDay))
      .withColumn("age", col("ref_day") - col("day"))
      .withColumn("w", when(col("age") < DecayHorizon, expr(
        s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(${DecayHorizon - 1} - age AS INT))"))
        .otherwise(lit(0L)))
      .groupBy("item")
      .agg(sum(when(col("age") < DecayHorizon, 1L).otherwise(0L))
          .as("n_window"),
        sum("w").as("decay_units"))
      .orderBy(col("decay_units").desc, col("item"))
      .limit(DecayTopK)
  }

  /** `lo + (hi−lo)·frac` on the exact grid — every term an exact
    * double (cents < 2^27, frac a multiple of 0.25), so this equals
    * the builtin `percentile` and DuckDB's `quantile_cont`
    * bit-for-bit, including the integer-position case (frac 0 ⇒ lo). */
  private def quantileInterp(tag: String): String =
    s"CAST(lo$tag AS DOUBLE) + CAST(hi$tag - lo$tag AS DOUBLE) * " +
      s"(rp$tag - FLOOR(rp$tag))"

  // ---------------------------------------------------------------- oracle

  private val stopList = stopwords.map(w => s"'$w'").mkString(", ")

  /** First 32 bits of md5 of a BIGINT column as a BIGINT, via the
    * hex-nibble fold idiom (DuckDB mirror of Spark's
    * `conv(substring(md5(...), 1, 8), 16, 10)`). */
  private[graft] def sqlHash32(c: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substr(md5(CAST($c AS VARCHAR)), $i, 1)) - 1)"
    s"CAST(${nib(1)} * 268435456 + ${nib(2)} * 16777216 + " +
      s"${nib(3)} * 1048576 + ${nib(4)} * 65536 + ${nib(5)} * 4096 + " +
      s"${nib(6)} * 256 + ${nib(7)} * 16 + ${nib(8)} AS BIGINT)"
  }

  /** DuckDB oracle SQL, value-identical to the Spark plans above. */
  val oracle: Map[String, String] = Map(
    // the literal dominance definition — quadratic NOT EXISTS over the
    // aggregated frame (the d7 brute-force discipline); the Spark plan
    // must reach the same frontier via prefix extrema
    "q50_skyline" ->
      """WITH agg AS (
        |  SELECT o_custkey, count(*) AS n_orders,
        |    CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT))
        |      AS BIGINT) // count(*) AS avg_c
        |  FROM orders GROUP BY 1)
        |SELECT a.o_custkey, a.n_orders, a.avg_c
        |FROM agg a
        |WHERE NOT EXISTS (SELECT 1 FROM agg b
        |  WHERE b.n_orders >= a.n_orders AND b.avg_c <= a.avg_c
        |    AND (b.n_orders > a.n_orders OR b.avg_c < a.avg_c))
        |ORDER BY a.o_custkey""".stripMargin,
    // same power-of-two weights via DuckDB's bit shift; BIGINT sums
    "q52_decay_trend" ->
      s"""WITH ck AS (
         |  SELECT
         |    CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1), '')
         |      AS INTEGER) AS item,
         |    epoch_us(ts) // 86400000000 AS day
         |  FROM events WHERE event_type = 'click'),
         |cf AS (SELECT item, day FROM ck WHERE item IS NOT NULL),
         |ref AS (SELECT max(day) AS ref_day FROM cf),
         |wtd AS (
         |  SELECT item,
         |    CASE WHEN ref_day - day < $DecayHorizon THEN 1 ELSE 0 END
         |      AS in_w,
         |    CASE WHEN ref_day - day < $DecayHorizon
         |      THEN (CAST(1 AS BIGINT) <<
         |        CAST(${DecayHorizon - 1} - (ref_day - day) AS INTEGER))
         |      ELSE CAST(0 AS BIGINT) END AS w
         |  FROM cf, ref)
         |SELECT item, CAST(sum(in_w) AS BIGINT) AS n_window,
         |  CAST(sum(w) AS BIGINT) AS decay_units
         |FROM wtd GROUP BY item
         |ORDER BY decay_units DESC, item LIMIT $DecayTopK""".stripMargin,
    // q37's capped-profile CTEs + supports + directional permille
    // scores; HUGEINT mediates lift's quadratic numerator
    "q51_assoc_rules" ->
      s"""WITH $sqlCappedProfilesCtes,
         |supp AS (SELECT item, count(*) AS n_i FROM capped GROUP BY 1),
         |nu AS (SELECT count(DISTINCT user_id) AS n_users FROM capped),
         |pr AS (
         |  SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
         |  FROM capped a JOIN capped b
         |    ON a.user_id = b.user_id AND a.item < b.item
         |  GROUP BY 1, 2 HAVING count(*) >= $AssocMinSupport),
         |dr AS (
         |  SELECT item_a AS antecedent, item_b AS consequent, n_ab FROM pr
         |  UNION ALL
         |  SELECT item_b, item_a, n_ab FROM pr)
         |SELECT antecedent, consequent, CAST(n_ab AS BIGINT) AS n_ab,
         |  CAST(sa.n_i AS BIGINT) AS n_a, CAST(sb.n_i AS BIGINT) AS n_b,
         |  CAST(1000 * n_ab // sa.n_i AS BIGINT) AS conf_pm,
         |  CAST((CAST(1000 AS HUGEINT) * n_ab * nu.n_users) //
         |    (CAST(sa.n_i AS HUGEINT) * sb.n_i) AS BIGINT) AS lift_pm
         |FROM dr
         |JOIN supp sa ON dr.antecedent = sa.item
         |JOIN supp sb ON dr.consequent = sb.item, nu
         |ORDER BY conf_pm DESC, lift_pm DESC, antecedent, consequent
         |LIMIT $AssocTopK""".stripMargin,
    // same md5-derived 32-bit hash, same rank-k, same integer estimate
    "q29_kmv_distinct" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type, ${sqlHash32("user_id")} AS h
         |  FROM events),
         |r AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
         |  FROM h),
         |k_t AS (SELECT event_type, h AS kth FROM r WHERE rk = $KmvK),
         |n_t AS (SELECT event_type, count(*) AS n_hashes FROM h
         |  GROUP BY event_type)
         |SELECT n_t.event_type, n_t.n_hashes,
         |  COALESCE(CAST((${KmvK - 1} * 4294967296) // NULLIF(kth, 0)
         |    AS BIGINT), n_t.n_hashes) AS kmv_est
         |FROM n_t LEFT JOIN k_t USING (event_type)
         |ORDER BY event_type""".stripMargin,
    // same unix-epoch day offsets, same inclusive RANGE frame, same
    // decimal window sums cast to double at the edge, same
    // peak-row/min-day collapse
    "q43_rolling_window" ->
      s"""WITH b AS (
         |  SELECT o_custkey,
         |    CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
         |    o_totalprice
         |  FROM orders),
         |w AS (
         |  SELECT o_custkey, day,
         |    CAST(count(*) OVER r AS BIGINT) AS wcnt,
         |    sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER r AS wsum
         |  FROM b
         |  WINDOW r AS (PARTITION BY o_custkey ORDER BY day
         |    RANGE BETWEEN ${RollDays - 1} PRECEDING AND CURRENT ROW)),
         |p AS (
         |  SELECT o_custkey, day, wcnt, wsum,
         |    max(wcnt) OVER c AS pk_cnt, max(wsum) OVER c AS pk_sum
         |  FROM w WINDOW c AS (PARTITION BY o_custkey))
         |SELECT o_custkey, max(pk_cnt) AS peak_cnt,
         |  CAST(max(pk_sum) AS DOUBLE) AS peak_sum,
         |  CAST(min(day) AS INT) AS peak_day
         |FROM p WHERE wcnt = pk_cnt
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // same (tus, event_id) in-user total order, same NULL-lands-in-ELSE
    // session-start rule, same running-sum numbering
    "q41_sessionize_batch" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus
         |  FROM events),
         |m AS (
         |  SELECT user_id, event_id, event_type, tus,
         |    CASE WHEN tus - lag(tus) OVER w <= ${SessionGapHours}
         |      * 3600000000 THEN 0 ELSE 1 END AS is_new
         |  FROM e WINDOW w AS (PARTITION BY user_id
         |    ORDER BY tus, event_id)),
         |s AS (
         |  SELECT user_id, event_type, tus,
         |    sum(is_new) OVER (PARTITION BY user_id
         |      ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING)
         |      AS session_seq
         |  FROM m)
         |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  min(tus) AS start_us, max(tus) AS end_us,
         |  CAST(count(DISTINCT event_type) AS INT) AS n_types,
         |  max(tus) - min(tus) AS dur_us
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same md5 hash split, same bin()-length rho, same register-wise
    // max (incl. the merged '~all' sketch), same integer estimate and
    // the SAME driver-inlined linear-counting CASE text as the plan
    "q40_hll_distinct" -> hllOracleSql(withMerge = true),
    // identical register/estimate math, no merge row — pins the native
    // hll_sketch aggregate to the independent DuckDB recompute
    "q44_hll_agg" -> hllOracleSql(withMerge = false),
    // same md5-derived hashes and rank-k sketches, same union-sketch
    // membership flags, same integer estimate arithmetic as the plan
    "q31_kmv_overlap" ->
      s"""WITH h AS (
         |  SELECT DISTINCT event_type, ${sqlHash32("user_id")} AS h
         |  FROM events),
         |sk AS (
         |  SELECT event_type, h FROM (
         |    SELECT event_type, h, row_number() OVER (
         |      PARTITION BY event_type ORDER BY h) AS rk FROM h)
         |  WHERE rk <= $KmvK),
         |ty AS (SELECT DISTINCT event_type FROM sk),
         |tp AS (
         |  SELECT a.event_type AS type_a, b.event_type AS type_b
         |  FROM ty a, ty b WHERE a.event_type < b.event_type),
         |m AS (
         |  SELECT type_a, type_b, h,
         |    max(in_a) AS in_a, max(in_b) AS in_b
         |  FROM (
         |    SELECT tp.type_a, tp.type_b, s.h, 1 AS in_a, 0 AS in_b
         |    FROM tp JOIN sk s ON s.event_type = tp.type_a
         |    UNION ALL
         |    SELECT tp.type_a, tp.type_b, s.h, 0 AS in_a, 1 AS in_b
         |    FROM tp JOIN sk s ON s.event_type = tp.type_b)
         |  GROUP BY type_a, type_b, h),
         |r AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY type_a, type_b ORDER BY h) AS rk FROM m),
         |g AS (
         |  SELECT type_a, type_b, count(*) AS n_k,
         |    sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
         |      AS n_both,
         |    max(h) AS kth
         |  FROM r WHERE rk <= $KmvK GROUP BY type_a, type_b),
         |e AS (
         |  SELECT type_a, type_b, n_k, n_both,
         |    CASE WHEN n_k = $KmvK
         |      THEN CAST((${KmvK - 1} * 4294967296) // NULLIF(kth, 0)
         |        AS BIGINT)
         |      ELSE CAST(n_k AS BIGINT) END AS est_union
         |  FROM g)
         |SELECT type_a, type_b,
         |  CAST(n_k AS INTEGER) AS n_k,
         |  CAST(n_both AS INTEGER) AS n_both,
         |  est_union,
         |  CAST((n_both * est_union) // n_k AS BIGINT) AS est_inter,
         |  CAST((n_both * 1000) // n_k AS INTEGER) AS jac_permille
         |FROM e ORDER BY type_a, type_b""".stripMargin,
    // same per-user first-occurrence pivot in epoch micros, same
    // inclusive stage ordering; NULL comparisons are false in the CASE
    // guards of both engines
    "q32_funnel" ->
      """WITH f AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |      AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS t_purchase
        |  FROM events GROUP BY user_id),
        |g AS (
        |  SELECT
        |    sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
        |      THEN 1 ELSE 0 END) AS n2,
        |    sum(CASE WHEN t_view IS NOT NULL AND t_click >= t_view
        |      AND t_purchase >= t_click THEN 1 ELSE 0 END) AS n3
        |  FROM f)
        |SELECT * FROM (
        |  SELECT 1 AS stage, 'view' AS label, CAST(n1 AS BIGINT) AS n_users
        |  FROM g
        |  UNION ALL SELECT 2, 'view>click', CAST(n2 AS BIGINT) FROM g
        |  UNION ALL SELECT 3, 'view>click>purchase', CAST(n3 AS BIGINT)
        |  FROM g)
        |ORDER BY stage""".stripMargin,
    // same md5 row-hashes, same vocab-frame sketch build, same min-of-
    // rows estimate; integers only
    "q35_cms_topk" -> {
      val cellRows = (0 until CmsDepth).map(d =>
        s"SELECT ${d} AS d, ${sqlCmsHash(d, "word")} AS b, cnt FROM wc")
        .mkString("\n    UNION ALL ")
      val probeRows = (0 until CmsDepth).map(d =>
        s"SELECT word, ${d} AS d, ${sqlCmsHash(d, "word")} AS b FROM p")
        .mkString("\n    UNION ALL ")
      val probeVals = CmsProbes.map(w => s"('$w')").mkString(", ")
      s"""WITH wc AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word
         |    FROM documents) t
         |  WHERE word <> '' GROUP BY word),
         |cells AS (
         |  SELECT d, b, CAST(sum(cnt) AS BIGINT) AS cell FROM (
         |    $cellRows) u
         |  GROUP BY d, b),
         |p(word) AS (VALUES $probeVals),
         |pc AS (
         |    $probeRows),
         |est AS (
         |  SELECT word, min(COALESCE(cell, 0)) AS cms_est
         |  FROM pc LEFT JOIN cells USING (d, b) GROUP BY word)
         |SELECT e.word, COALESCE(w.cnt, 0) AS true_cnt, e.cms_est,
         |  e.cms_est - COALESCE(w.cnt, 0) AS overcount
         |FROM est e LEFT JOIN wc w ON w.word = e.word
         |ORDER BY e.word""".stripMargin
    },
    // independent spelling: textbook distinct → per-user min → join,
    // vs the plan's one-shuffle collect_set — same integer matrix
    "q34_retention_cohorts" ->
      """WITH d AS (
        |  SELECT DISTINCT user_id,
        |    epoch_us(ts) // 86400000000 AS day
        |  FROM events),
        |c AS (SELECT user_id, min(day) AS cohort_day FROM d
        |      GROUP BY user_id)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM d JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same capped profiles (clicks-desc/item row_number), same strict
    // lower-triangle pair rule, same (users desc, item, item) order
    "q37_cooccur" ->
      s"""WITH $sqlCappedProfilesCtes
         |SELECT a.item AS item_a, b.item AS item_b,
         |  CAST(count(*) AS BIGINT) AS users
         |FROM capped a JOIN capped b
         |  ON a.user_id = b.user_id AND a.item < b.item
         |GROUP BY 1, 2
         |ORDER BY users DESC, item_a, item_b LIMIT $CoocTopK""".stripMargin,
    // same (ts, event_id) sequence order, same integer-permille
    // row normalization
    "q38_transitions" ->
      """WITH seq AS (
        |  SELECT event_type, lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |t AS (
        |  SELECT prev_type, event_type AS next_type, count(*) AS cnt
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(1000 * cnt // sum(cnt) OVER (PARTITION BY prev_type)
        |    AS BIGINT) AS permille
        |FROM t ORDER BY prev_type, next_type""".stripMargin,
    // same integer-cents value space, same exact-binary quartile fracs;
    // quantile_cont and percentile interpolate identically on that grid
    // nearest-rank pick spelled via row_number over raw rows — same
    // integer rank definition as the Spark histogram plan, different
    // plumbing (and no float index math; see the operator doc)
    // the same q39 integer rank rule for median and MAD; the outlier
    // cut is the fixed-point integer comparison — no float anywhere
    "q48_robust_outliers" ->
      s"""WITH t AS (
         |  SELECT l_returnflag,
         |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
         |  FROM lineitem),
         |tr AS (
         |  SELECT l_returnflag, cents, row_number() OVER (
         |      PARTITION BY l_returnflag ORDER BY cents) AS rnk,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM t),
         |med AS (
         |  SELECT l_returnflag,
         |    max(CASE WHEN rnk = (50 * n + 99) // 100 THEN cents END)
         |      AS med_cents
         |  FROM tr GROUP BY l_returnflag),
         |d AS (
         |  SELECT t.l_returnflag, abs(t.cents - m.med_cents) AS dev
         |  FROM t JOIN med m USING (l_returnflag)),
         |dr AS (
         |  SELECT l_returnflag, dev, row_number() OVER (
         |      PARTITION BY l_returnflag ORDER BY dev) AS rnk,
         |    count(*) OVER (PARTITION BY l_returnflag) AS n
         |  FROM d),
         |mad AS (
         |  SELECT l_returnflag,
         |    max(CASE WHEN rnk = (50 * n + 99) // 100 THEN dev END)
         |      AS mad_cents
         |  FROM dr GROUP BY l_returnflag)
         |SELECT d.l_returnflag, CAST(count(*) AS BIGINT) AS n,
         |  max(m.med_cents) AS med_cents,
         |  max(x.mad_cents) AS mad_cents,
         |  CAST(sum(CASE WHEN d.dev * 10000 > x.mad_cents * $Q48Cut
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
         |  max(d.dev) AS max_dev
         |FROM d JOIN mad x USING (l_returnflag)
         |       JOIN med m USING (l_returnflag)
         |GROUP BY d.l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q39_tail_quantiles" ->
      """WITH t AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY l_returnflag
        |      ORDER BY cents) AS rnk,
        |    count(*) OVER (PARTITION BY l_returnflag) AS n
        |  FROM lineitem)
        |SELECT l_returnflag, CAST(max(n) AS BIGINT) AS n,
        |  max(CASE WHEN rnk = (90 * n + 99) // 100 THEN cents END)
        |    AS p90_cents,
        |  max(CASE WHEN rnk = (95 * n + 99) // 100 THEN cents END)
        |    AS p95_cents,
        |  max(CASE WHEN rnk = (99 * n + 99) // 100 THEN cents END)
        |    AS p99_cents
        |FROM t GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q33_quantiles" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  min(cents) AS min_cents,
        |  quantile_cont(cents, 0.25) AS p25,
        |  quantile_cont(cents, 0.5) AS p50,
        |  quantile_cont(cents, 0.75) AS p75,
        |  max(cents) AS max_cents
        |FROM (SELECT l_returnflag,
        |        CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        |      FROM lineitem) t
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q1_multi_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  ${Exact.sqlDsum("l_quantity")} AS sum_qty,
         |  min(l_quantity) AS min_qty,
         |  max(l_quantity) AS max_qty,
         |  ${Exact.sqlDavg("l_quantity")} AS avg_qty,
         |  median(l_quantity) AS med_qty,
         |  ${Exact.sqlDsum("l_extendedprice")} AS sum_price,
         |  ${Exact.sqlDavg("l_extendedprice")} AS avg_price
         |FROM lineitem GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_price_range" ->
      s"""WITH agg AS (
         |  SELECT o_custkey, max(o_totalprice) AS max_price,
         |         min(o_totalprice) AS min_price,
         |         ${Exact.sqlDavg("o_totalprice")} AS avg_price
         |  FROM orders GROUP BY o_custkey),
         |latest AS (
         |  SELECT o_custkey, o_totalprice AS latest_price FROM (
         |    SELECT o_custkey, o_totalprice, row_number() OVER (
         |      PARTITION BY o_custkey
         |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |    FROM orders) t WHERE rn = 1)
         |SELECT a.o_custkey, max_price, min_price, avg_price, latest_price,
         |  round((latest_price / max_price - 1) * 100, 2) AS pct_vs_max,
         |  CASE WHEN latest_price >= max_price * 0.9 THEN 'near_high'
         |       WHEN latest_price <= min_price * 1.1 THEN 'near_low'
         |       ELSE 'mid' END AS range_class
         |FROM agg a JOIN latest l ON a.o_custkey = l.o_custkey
         |ORDER BY a.o_custkey""".stripMargin,
    "q3_yoy_change" ->
      """SELECT o_custkey, first_price, last_price,
        |  round((last_price / first_price - 1) * 100, 2) AS pct_change
        |FROM (
        |  SELECT DISTINCT o_custkey,
        |    first_value(o_totalprice) OVER w AS first_price,
        |    last_value(o_totalprice) OVER w AS last_price
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) t
        |ORDER BY o_custkey""".stripMargin,
    "q4_sort_topk" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |ORDER BY c_acctbal DESC, c_custkey LIMIT 10""".stripMargin,
    "q5_value_counts" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin,
    "q6_groupby_dayofweek" ->
      """SELECT CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM orders GROUP BY 1 ORDER BY dow""".stripMargin,
    "q7_hourly_topk" ->
      """SELECT CAST(hour(ts) AS INTEGER) AS hr,
        |  CAST(count(*) AS BIGINT) AS cnt
        |FROM events GROUP BY 1 ORDER BY cnt DESC, hr LIMIT 5""".stripMargin,
    "q8_foldby_sum" ->
      s"""SELECT CAST(hour(ts) AS INTEGER) AS hr,
         |  ${Exact.sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY hr""".stripMargin,
    "q9_popular_links" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE lang = 'en') t
        |WHERE word <> '' GROUP BY word
        |ORDER BY cnt DESC, word LIMIT 5""".stripMargin,
    "q10_star_join" ->
      s"""SELECT r_name, CAST(count(*) AS BIGINT) AS n_orders,
         |  ${Exact.sqlDsum("o_totalprice")} AS revenue
         |FROM orders
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q11_join_agg" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (CAST(1 AS DOUBLE) - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q12_union_filter_contains" ->
      """SELECT tag, source, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT 'join' AS tag, source FROM documents
        |    WHERE contains(text, 'join')
        |  UNION ALL
        |  SELECT 'filter' AS tag, source FROM documents
        |    WHERE contains(text, 'filter')) t
        |GROUP BY tag, source ORDER BY tag, source""".stripMargin,
    "q13_wordcount" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
    "q14_regex_tokenize" ->
      """SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(regexp_extract_all(text, '[a-z]+')) AS tok
        |  FROM documents) t
        |GROUP BY tok ORDER BY tok""".stripMargin,
    "q15_json_extract" ->
      s"""SELECT CAST(CAST(NULLIF(regexp_extract(props, '"k":\\s*(\\d+)', 1),
         |    '') AS INTEGER) % 10 AS INTEGER) AS k_bucket,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  ${Exact.sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1 ORDER BY k_bucket""".stripMargin,
    "q16_csv_etl" ->
      """SELECT l_orderkey AS order_id, l_linenumber AS line_no,
        |  CAST(l_quantity AS INTEGER) AS qty,
        |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
        |  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |  l_returnflag || '/' || l_linestatus AS status
        |FROM lineitem
        |WHERE CAST(l_quantity AS INTEGER) BETWEEN 10 AND 40
        |  AND year(l_shipdate) = 1995
        |ORDER BY order_id, line_no""".stripMargin,
    "q17_time_range_filter" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS cnt FROM events
        |WHERE ts > (SELECT max(ts) - INTERVAL 1 DAY FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q18_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q19_pivot_agg" ->
      """SELECT CAST(hour(ts) AS INTEGER) AS hr,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY hr""".stripMargin,
    "q20_stopword_topk" ->
      s"""SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
         |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
         |WHERE word <> '' AND word NOT IN ($stopList)
         |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin,
    "q26_array_mean" ->
      """SELECT vec_id, label,
        |  list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |    (a, b) -> a + b) / 64 AS emean
        |FROM embeddings
        |ORDER BY emean DESC, vec_id LIMIT 20""".stripMargin,
    "q27_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, price_rank,
        |  prev_date, days_since_prev, run_spend
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER)
        |      AS price_rank,
        |    CAST(lag(o_orderdate, 1) OVER wd AS DATE) AS prev_date,
        |    CAST(date_diff('day',
        |      CAST(lag(o_orderdate, 1) OVER wd AS DATE),
        |      CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_prev,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |      wd ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS DOUBLE) AS run_spend
        |  FROM orders
        |  WINDOW wd AS (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey)) t
        |WHERE price_rank <= 3
        |ORDER BY o_custkey, price_rank""".stripMargin,
    "q28_rollup_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
         |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
         |  CAST(count(*) AS BIGINT) AS cnt,
         |  ${Exact.sqlDsum("l_quantity")} AS sum_qty,
         |  ${Exact.sqlDsum("l_extendedprice")} AS sum_price
         |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         |ORDER BY l_returnflag ASC NULLS FIRST,
         |  l_linestatus ASC NULLS FIRST""".stripMargin,
  )

  /** Query registry (name → runner), keys match [[oracle]]. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_multi_agg" -> q1MultiAgg,
    "q2_price_range" -> q2PriceRange,
    "q3_yoy_change" -> q3YoyChange,
    "q4_sort_topk" -> q4SortTopk,
    "q5_value_counts" -> q5ValueCounts,
    "q6_groupby_dayofweek" -> q6GroupbyDayofweek,
    "q7_hourly_topk" -> q7HourlyTopk,
    "q8_foldby_sum" -> q8FoldbySum,
    "q9_popular_links" -> q9PopularLinks,
    "q10_star_join" -> q10StarJoin,
    "q11_join_agg" -> q11JoinAgg,
    "q12_union_filter_contains" -> q12UnionFilterContains,
    "q13_wordcount" -> q13Wordcount,
    "q14_regex_tokenize" -> q14RegexTokenize,
    "q15_json_extract" -> q15JsonExtract,
    "q16_csv_etl" -> q16CsvEtl,
    "q17_time_range_filter" -> q17TimeRangeFilter,
    "q18_distinct" -> q18Distinct,
    "q19_pivot_agg" -> q19PivotAgg,
    "q20_stopword_topk" -> q20StopwordTopk,
    "q26_array_mean" -> q26ArrayMean,
    "q27_window_rank" -> q27WindowRank,
    "q28_rollup_agg" -> q28RollupAgg,
    "q29_kmv_distinct" -> ((s, dir) => q29KmvDistinct(s, dir)),
    "q40_hll_distinct" -> q40HllDistinct,
    "q44_hll_agg" -> q44HllAgg,
    "q41_sessionize_batch" -> ((s, dir) => q41SessionizeBatch(s, dir)),
    "q43_rolling_window" -> q43RollingWindow,
    "q31_kmv_overlap" -> ((s, dir) => q31KmvOverlap(s, dir)),
    "q32_funnel" -> q32Funnel,
    "q33_quantiles" -> q33Quantiles,
    "q39_tail_quantiles" -> q39TailQuantiles,
    "q48_robust_outliers" -> q48RobustOutliers,
    "q34_retention_cohorts" -> q34RetentionCohorts,
    "q35_cms_topk" -> q35CmsTopk,
    "q37_cooccur" -> q37Cooccur,
    "q38_transitions" -> q38Transitions,
    "q50_skyline" -> q50Skyline,
    "q51_assoc_rules" -> q51AssocRules,
    "q52_decay_trend" -> q52DecayTrend,
  )
}
