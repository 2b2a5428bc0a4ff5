package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Typed loaders for the test star schema (see TESTDATA.md).
  *
  * All reads go through here so every operator benefits from the same
  * pushdown-friendly scan: `spark.read.parquet` exposes min/max stats,
  * predicate pushdown and column pruning to Catalyst. At cluster scale
  * the same call reads a partitioned table — operators never assume a
  * single file.
  *
  * Read path: every loader, every pipeline task's read-back and every
  * reader of a committed staged unit calls [[parquet]]. Without a
  * schema, `spark.read.parquet` runs a Spark job on every call to infer
  * one from the footers. [[parquet]] infers it once and hands the
  * memoized `StructType` to the reader, so a repeated read costs one
  * FS listing ([[fingerprint]]) and starts no job. Each call still
  * returns a new `DataFrame` with fresh expression ids, so self-joins
  * and multi-table joins resolve exactly as with a plain read.
  *
  * The memo is the [[SchemaKind]] kind of [[Artifacts]], owned by the
  * `SparkSession`. Its key is the path's listing fingerprint (a table
  * rewritten at the same path misses) plus the session's values of the
  * [[InferenceConfs]] (a changed setting infers again). It keeps
  * [[SchemaEntries]] entries, LRU.
  */
object Tables {
  private def p(dir: String, name: String) = s"$dir/$name.parquet"

  /** [[Artifacts]] kind of the memoized parquet schemas. */
  final val SchemaKind = "tables.schema"

  /** Schemas kept by [[SchemaKind]]: room for the [[Artifacts.MaxEntries]]
    * corpora every other kind keeps, at 24 distinct paths per corpus
    * (one 162-query sweep reads the ten tables and 14 staged units),
    * rounded up. An LRU under a cyclic scan of more paths than its
    * bound misses on every read. A schema is a few KB. */
  final val SchemaEntries = 256

  /** Session settings that change what parquet schema inference
    * returns for the same files. */
  private val InferenceConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.legacy.parquet.nanosAsLong")

  /** A fresh scan of the parquet table at `path`, read with its
    * memoized schema: one FS listing, no Spark job once the schema is
    * known (see the object doc). */
  def parquet(s: SparkSession, path: String): DataFrame = scan(s, path)._1

  /** [[parquet]] and the fingerprint its schema was looked up under, for
    * callers that key further memos on the same listing. */
  private def scan(s: SparkSession, path: String): (DataFrame, String) = {
    val fp = fingerprint(s, path)
    val settings = InferenceConfs.map(k => s.conf.getOption(k).orNull)
    val schema = Artifacts.memo(s, SchemaKind,
        (fp +: settings).mkString("|")) {
      s.read.parquet(path).schema
    }
    (s.read.schema(schema).parquet(path), fp)
  }

  private def table(s: SparkSession, dir: String, name: String) =
    parquet(s, p(dir, name))

  def region(s: SparkSession, dir: String): DataFrame    = table(s, dir, "region")
  def nation(s: SparkSession, dir: String): DataFrame    = table(s, dir, "nation")
  def customer(s: SparkSession, dir: String): DataFrame  = table(s, dir, "customer")
  def supplier(s: SparkSession, dir: String): DataFrame  = table(s, dir, "supplier")
  def part(s: SparkSession, dir: String): DataFrame      = table(s, dir, "part")
  def orders(s: SparkSession, dir: String): DataFrame    = table(s, dir, "orders")
  def lineitem(s: SparkSession, dir: String): DataFrame  = table(s, dir, "lineitem")
  /** events with `ts` normalized to TimestampType (micros, session TZ =
    * UTC), whichever on-disk generation is present. The current
    * test-corpus writer emits parquet TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark scans as TIMESTAMP_NTZ — the
    * naive value IS the UTC instant, so a cast to TimestampType under
    * the UTC session is a pure reinterpretation, not a clock shift. An
    * earlier generation wrote INT64(TIMESTAMP(NANOS)), which Spark
    * cannot map to a timestamp at all; that shape (or a plain
    * int64-nanos column) is read as raw long and truncated to micros.
    * Type-dispatch on the scanned schema keeps every generation
    * readable — at cluster scale a long-lived table inevitably spans
    * writer generations, and the reader, not the writer, absorbs that. */
  def events(s: SparkSession, dir: String): DataFrame = {
    val df = eventsRaw(s, dir)
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case _ => df // already TIMESTAMP (LTZ)
    }
  }

  /** events with `ts` exactly as stored — TIMESTAMP_NTZ for the current
    * corpus generation, raw int64 nanos for the legacy one. Used where
    * predicates must be spelled against the scan-native column so they
    * push down to the parquet reader (Relational.q17TimeRangeFilter,
    * ScaleBench's pass-through corpus copy). Callers dispatch on
    * `schema("ts").dataType`. */
  def eventsRaw(s: SparkSession, dir: String): DataFrame = table(s, dir, "events")
  def documents(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")
  def embeddings(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")

  /** `documents`, guaranteed at least CLUSTER-CORE scan parallelism
    * for a COMPUTE-HEAVY first pass (normalize/tokenize/shingle/
    * fingerprint kernels: orders of magnitude more work per row than
    * the scan bytes suggest). A compact corpus — one small parquet
    * file, or one ROW GROUP, which the reader cannot split however
    * low maxPartitionBytes goes — yields a single scan task, and the
    * whole kernel pass serializes onto one core (found by the r16 d4
    * band adjudication: the serialized stage is both slow and
    * hypersensitive to machine load). ADAPTIVE, not unconditional: a
    * production-scale corpus already has ≫ cores splits, and a
    * round-robin exchange there would shuffle the full text corpus
    * for nothing. The comparison point is `defaultParallelism`
    * (total executor cores — the quantity the spread exists to keep
    * busy), deliberately NOT `spark.sql.shuffle.partitions`: a
    * cluster session sizes the latter at 2–3× cores PLUS the
    * largest-shuffle floor (GraftSession.clusterBuilder — thousands),
    * and comparing against it would re-shuffle a corpus whose scan
    * already saturates every core (r16 review finding #1); the
    * repartition target is cores too — one task wave, not thousands
    * of slivers of a compact corpus. The partition probe (physical
    * planning, no job, one FS listing) is memoized per corpus
    * fingerprint in the session's [[Artifacts]] (the probed split
    * count depends on session config) — several operators consult it
    * more than once per query. The key is the fingerprint the read
    * itself took, so the call lists the corpus once. */
  def documentsSpread(s: SparkSession, dir: String): DataFrame = {
    val (df, fp) = scan(s, p(dir, "documents"))
    val parts = Artifacts.memo(s, "tables.scanParts", fp)(
      df.rdd.getNumPartitions)
    val cores = s.sparkContext.defaultParallelism
    if (parts < cores) df.repartition(cores) else df
  }

  /** Metadata-only fingerprint of one table: path + per-file
    * (name, length, mtime). One FS listing, no data read — the key of
    * every per-corpus [[Artifacts]] entry: a re-ingested corpus at the
    * same path changes file lengths/mtimes and misses, so a long-lived
    * JVM can never serve results computed on a previous corpus
    * generation. */
  def fingerprint(s: SparkSession, dir: String, table: String): String =
    fingerprint(s, p(dir, table))

  /** [[fingerprint]] of the table (or staged unit) at `path`. */
  def fingerprint(s: SparkSession, path: String): String = {
    val loc = new org.apache.hadoop.fs.Path(path)
    val fs = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(loc)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$path\n$entries".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}
