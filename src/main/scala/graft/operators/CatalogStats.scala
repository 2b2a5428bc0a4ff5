package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.{CatalogColumnStat, CatalogStatistics}
import org.apache.spark.sql.catalyst.plans.logical.{Histogram, HistogramBin}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The missing half of c26/c27: PERSIST the ANALYZE output into the
  * session catalog so the cost-based optimizer actually reads it —
  * `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` re-expressed
  * through the engine's own fused-scan statistics (c26's one-pass
  * scalars, c27's nearest-rank equi-height fences), written via
  * `sessionState.catalog.alterTableStats`.
  *
  * Why this matters next to AQE: adaptive execution can only re-plan
  * AFTER a shuffle stage has materialized and been measured — the
  * first plan still shuffles both sides of a join whose filtered
  * build side the catalog could have proven broadcast-small. Catalog
  * stats flip the STARTING plan: under `spark.sql.cbo.enabled`,
  * FilterEstimation reads rowCount + (ndv, min, max, nullCount) —
  * and, for range predicates on skewed columns, the equi-height
  * histogram — so the broadcast decision (and join ordering) is right
  * before any exchange runs. At 100 TB the difference is shuffling a
  * multi-TB probe side zero times instead of once. CurationSpec
  * asserts both flips plan-visibly: scalar stats turn a sort-merge
  * join into a broadcast join, and on a skewed column the c27
  * histogram corrects a uniform-interpolation overestimate that
  * scalar stats alone get wrong.
  *
  * Scale shape: the stats scan is c26's (one fused aggregate per
  * table, sketch NDV, map-side partials); the histogram adds c27's
  * distinct-value-bounded shuffle with the TWO-PHASE prefix sum —
  * in-bucket windows run hundreds of parallel tasks, the only serial
  * frame is the [[HistHB]]-row bucket-total prefix, so a near-unique
  * column (ids, timestamps) never lands its whole distinct-value
  * histogram in one task. The catalog write is one metastore call per
  * table. Register production tables with
  * `CREATE TABLE ... USING parquet LOCATION` (no copy); [[stage]]
  * copies only because spec corpora are path-based test parquet. */
object CatalogStats {
  /** Register a DataFrame as a catalog parquet table (spec staging —
    * a production lake table registers its existing LOCATION). */
  def stage(s: SparkSession, name: String, df: DataFrame): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    // the DROP only knows THIS catalog — a managed-table location left
    // behind by a previous JVM (the warehouse dir outlives the
    // in-memory catalog) would block saveAsTable; clear it
    val loc = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.defaultTablePath(TableIdentifier(name)))
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.format("parquet").saveAsTable(name)
  }

  /** Column types whose min/max CatalogColumnStat can carry (the
    * planner's ordered domain). Strings/binary get lengths, not
    * bounds — matching Spark's own ANALYZE. */
  private def ordered(dt: DataType): Boolean = dt match {
    case _: NumericType | DateType | TimestampType | BooleanType => true
    case _ => false
  }

  /** Format a natively-collected min/max value as the EXTERNAL string
    * `CatalogColumnStat.fromExternalString` parses back at plan time
    * (statistics serialization v2): integrals/floats/booleans print
    * verbatim, decimals plain (no scientific notation), dates as ISO
    * `yyyy-MM-dd`, timestamps as the v2 formatter's fixed
    * `yyyy-MM-dd HH:mm:ss.SSSSSS` in UTC. Dates/timestamps are
    * collected as epoch integers (never java.sql round-trips), so the
    * session timezone can't skew the catalog value. */
  private def extString(dt: DataType, v: Any): String = dt match {
    case ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | BooleanType => v.toString
    case _: DecimalType =>
      v.asInstanceOf[java.math.BigDecimal].toPlainString
    case DateType =>
      java.time.LocalDate.ofEpochDay(v.asInstanceOf[Number].longValue)
        .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE)
    case TimestampType =>
      val us = v.asInstanceOf[Number].longValue
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
    case other => throw new IllegalArgumentException(
      s"CatalogStats: no external min/max format for $other")
  }

  /** The min/max aggregate for a column, in a collectible shape:
    * dates as epoch days, timestamps as epoch micros, everything else
    * native (no double cast — a Long near 2^63 or a DECIMAL(38,_)
    * must reach the catalog exact). */
  private def boundAgg(n: String, dt: DataType, isMin: Boolean) = {
    val f: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      if (isMin) min else max
    val tag = if (isMin) "mn" else "mx"
    dt match {
      case DateType =>
        f(datediff(col(n), to_date(lit("1970-01-01")))).as(s"${tag}_$n")
      case TimestampType => f(unix_micros(col(n))).as(s"${tag}_$n")
      case _ => f(col(n)).as(s"${tag}_$n")
    }
  }

  /** Compute and persist catalog statistics for `cols` of table
    * `name`: rowCount + per-column (distinctCount via the q44 HLL
    * sketch, min, max, nullCount; avgLen/maxLen measured for
    * strings/binary, type-width otherwise), plus a
    * [[Curation.C27Buckets]]-bin equi-height histogram (c27's
    * nearest-rank fences + per-bin NDV) for `histCols`. One fused
    * scan for the scalars; one distinct-value-bounded two-phase pass
    * per histogram column. Rejects unsupported column types loudly —
    * a wrong external string would poison every later CBO plan on
    * the table. Returns what was written. */
  def analyze(s: SparkSession, name: String, cols: Seq[String],
      histCols: Set[String] = Set.empty): CatalogStatistics = {
    graft.functions.GraftFunctions.register(s)
    val df = s.table(name)
    cols.foreach { n =>
      df.schema(n).dataType match {
        case dt if ordered(dt) => ()
        case StringType | BinaryType => ()
        case dt => throw new IllegalArgumentException(
          s"CatalogStats.analyze: unsupported type $dt for column `$n`" +
            " — catalog column stats cover atomic types only")
      }
    }
    histCols.foreach { n =>
      require(cols.contains(n),
        s"histogram column `$n` must be in the analyzed column list")
      require(df.schema(n).dataType.isInstanceOf[NumericType],
        s"histogram column `$n` must be numeric")
      // the histogram buckets through double ([[histogramFor]]); a
      // domain that double cannot hold injectively would silently merge
      // distinct values into one fence — reject loudly (the analyze()
      // external-string precedent). LongType bounds are checked against
      // 2^53 after the scan below.
      df.schema(n).dataType match {
        case d: DecimalType => require(d.precision <= 15,
          s"histogram column `$n` is DECIMAL(${d.precision},${d.scale}) — " +
            "precision > 15 does not round-trip double; histogram fences " +
            "would silently merge distinct values")
        case _ => ()
      }
    }
    // sizeInBytes BEFORE stats exist = the file-based estimate the
    // planner was using; keep it as the honest on-disk size
    val sizeInBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val aggs = cols.flatMap { n =>
      val dt = df.schema(n).dataType
      val base = Seq(
        sum(when(col(n).isNull, 1L).otherwise(0L)).as(s"nn_$n"),
        expr(s"hll_sketch(CAST(conv(substring(md5(CAST(`$n` AS STRING))," +
          s" 1, 8), 16, 10) AS BIGINT)).hll_est").as(s"ndv_$n"))
      val bounds =
        if (ordered(dt)) Seq(boundAgg(n, dt, isMin = true),
          boundAgg(n, dt, isMin = false))
        else if (dt == StringType)
          // CHARACTER count, matching upstream ANALYZE (its avgLen/
          // maxLen come from Length(col) = chars for StringType);
          // octet_length here would disagree with Spark's own stats
          // on any non-ASCII table
          Seq(avg(length(col(n))).as(s"al_$n"),
            max(length(col(n))).as(s"ml_$n"))
        else Seq(avg(octet_length(col(n))).as(s"al_$n"),
          max(octet_length(col(n))).as(s"ml_$n"))
      base ++ bounds
    }
    val row = df.agg(count(lit(1)).as("n"), aggs: _*).collect()(0)
    val nRows = row.getAs[Long]("n")
    val colStats = cols.map { n =>
      val dt = df.schema(n).dataType
      val nn = row.getAs[Long](s"nn_$n")
      val allNull = nn == nRows
      val (mnO, mxO) =
        if (!ordered(dt) || allNull) (None, None)
        else (Some(extString(dt, row.getAs[Any](s"mn_$n"))),
          Some(extString(dt, row.getAs[Any](s"mx_$n"))))
      val (avgLen, maxLen) = dt match {
        case StringType | BinaryType if !allNull =>
          (math.ceil(row.getAs[Double](s"al_$n")).toLong,
            row.getAs[Int](s"ml_$n").toLong)
        case _ => (dt.defaultSize.toLong, dt.defaultSize.toLong)
      }
      if (histCols(n) && !allNull && dt == LongType) {
        val lim = 1L << 53
        val (lo, hi) = (row.getAs[Long](s"mn_$n"), row.getAs[Long](s"mx_$n"))
        require(math.abs(lo) <= lim && math.abs(hi) <= lim,
          s"histogram column `$n` holds BIGINT values past 2^53 " +
            s"([$lo, $hi]) — the double-bucketed histogram would " +
            "silently merge distinct values; scalar stats are still " +
            "exact, drop the column from histCols")
      }
      n -> CatalogColumnStat(
        distinctCount = Some(BigInt(row.getAs[Long](s"ndv_$n"))),
        min = mnO, max = mxO,
        nullCount = Some(BigInt(nn)),
        avgLen = Some(avgLen), maxLen = Some(maxLen),
        histogram = if (histCols(n)) Some(histogramFor(df, n)) else None)
    }.toMap
    val stats = CatalogStatistics(sizeInBytes, Some(BigInt(nRows)), colStats)
    s.sessionState.catalog.alterTableStats(TableIdentifier(name), Some(stats))
    stats
  }

  /** Value-range bucket count for the two-phase cumulative sum: the
    * distinct-value histogram splits into up to this many
    * lexicographic ranges, each cumulated by its own window task; the
    * only serial frame is the [[HistHB]]-row bucket-total prefix. */
  val HistHB = 512

  /** c27's equi-height fences as the optimizer's [[Histogram]]: bin i
    * spans (ub_{i-1}, ub_i] with ub_i = the smallest value whose
    * cumulative count reaches ceil(i·n/B) (the integer nearest-rank
    * rule — c27Histograms' exact spelling), per-bin NDV counted on
    * the collapsed distinct-value histogram.
    *
    * Scale shape (the c27Histograms two-phase, Curation.scala c27):
    * a bare `Window.orderBy(u)` would put the column's ENTIRE
    * distinct-value histogram in one task — the whole distinct count
    * of a near-unique column at 100 TB. Instead, `hb` range-buckets
    * (monotone in u, so cumulative order is preserved) cumulate in
    * [[HistHB]]-way parallel windows; an exclusive prefix of
    * per-bucket totals (the only serial frame, ≤ [[HistHB]] rows)
    * broadcasts back; cum = offset + in-bucket cum. Fence extraction
    * is ONE aggregate with B conditional mins — no ×B row expansion
    * (the retired crossJoin(range) shape). Driver-side collects are
    * all bounded: one 4-scalar row, one B-column fence row, one
    * B-column NDV row. */
  private[graft] def histogramFor(df: DataFrame, n: String): Histogram = {
    val b = Curation.C27Buckets
    // the collapsed distinct-value histogram has FOUR consumers below
    // (bounds scalar, the two-phase cumulative, the fence aggregate, the
    // per-bin NDV aggregate); un-materialized each re-ran the full table
    // scan + keyed collapse — 4 scans per histogram column (measured:
    // c29_analyze paid ~10 scans/run across its two tables). One
    // eager cut holds the NDV-bounded collapsed frame instead, freed
    // on return. At 100 TB the frame is distinct-value-sized — storing
    // ~16 B/value once beats re-scanning and re-shuffling the column 4×
    // (guide §1.2: remove passes first).
    graft.Artifacts.scoped(df.sparkSession, "catalog.histogram")(sc =>
      histogramOver(sc.cut(df.select(col(n).cast("double").as("u"))
        .filter(col("u").isNotNull)
        .groupBy("u").agg(count(lit(1)).as("c"))), b))
  }

  /** [[histogramFor]]'s math over an already-materialized collapsed
    * (u, c) distinct-value histogram. */
  private def histogramOver(hist: DataFrame, b: Int): Histogram = {
    import org.apache.spark.sql.expressions.Window
    val g = hist.agg(min("u").as("lo"), max("u").as("hi"),
      sum("c").as("nv")).collect()(0)
    if (g.isNullAt(0)) return Histogram(0d, Array.empty)
    val (lo0, hi0) = (g.getAs[Double]("lo"), g.getAs[Double]("hi"))
    val nv = g.getAs[Long]("nv")
    val width = (hi0 - lo0) / HistHB
    val hbCol =
      if (width > 0)
        least(floor((col("u") - lit(lo0)) / lit(width)),
          lit((HistHB - 1).toLong)).cast("long")
      else lit(0L)
    val hbed = hist.withColumn("hb", hbCol)
    val inW = Window.partitionBy("hb").orderBy("u")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = hbed.groupBy("hb").agg(sum("c").as("bc"))
      .withColumn("off", coalesce(sum("bc").over(Window.orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("hb", "off")
    val cum = hbed.withColumn("incum", sum("c").over(inW))
      .join(broadcast(offs), "hb")
      .withColumn("cum", col("incum") + col("off"))
    val fenceAggs = (1 to b).map { i =>
      min(when(col("cum") * b >= lit(i.toLong) * lit(nv), col("u")))
        .as(s"ub_$i")
    }
    val fr = cum.agg(fenceAggs.head, fenceAggs.tail: _*).collect()(0)
    val ubs = (1 to b).map(i => fr.getAs[Double](s"ub_$i")).toArray
    val los = lo0 +: ubs.dropRight(1)
    // per-bin NDV in one histogram-bounded pass: value v belongs to
    // bin i iff los(i) < v <= ubs(i), except bin 0 includes its lo
    val ndvAggs = (0 until b).map { i =>
      sum(when(
        (if (i == 0) col("u") >= los(i) else col("u") > los(i)) &&
          col("u") <= ubs(i), 1L).otherwise(0L)).as(s"ndv_$i")
    }
    val ndvRow = hist.agg(ndvAggs.head, ndvAggs.tail: _*).collect()(0)
    val bins = (0 until b).map { i =>
      HistogramBin(los(i), ubs(i), ndvRow.getAs[Long](s"ndv_$i"))
    }.toArray
    Histogram(nv.toDouble / b, bins)
  }
}
