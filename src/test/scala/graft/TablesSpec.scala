package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Tables.events must read BOTH on-disk generations of the events
  * corpus (TESTDATA.md): the current writer's native TIMESTAMP(MICROS)
  * column and the earlier INT64-nanos shape. At cluster scale a
  * long-lived table spans writer generations, so the reader dispatches
  * on the scanned schema rather than assuming one representation.
  *
  * Every read goes through [[Tables.parquet]], which memoizes each
  * path's inferred schema: it must return what a plain read returns,
  * infer again when the files or the inference settings change, and
  * start no Spark job on a repeated read. */
class TablesSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Spark jobs started while `body` runs (nothing else runs in this
    * JVM while a suite does). */
  private def jobsDuring(body: => Unit): Long = {
    val jobs = new AtomicLong
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val drain = () => org.apache.spark.graftbridge.GraftScheduler
      .drainListenerBus(s.sparkContext)
    drain()
    s.sparkContext.addSparkListener(l)
    try { body; drain() } finally s.sparkContext.removeSparkListener(l)
    jobs.get
  }

  /** (row count, order-free sum of row hashes). */
  private def rowHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.map(col): _*)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  private def schemaBuilds = Artifacts.builds(Tables.SchemaKind).get()

  test("a memoized read has the inferred schema and the same rows") {
    tables.foreach { t =>
      val path = s"$dir/$t.parquet"
      val plain = s.read.parquet(path)
      Tables.parquet(s, path) // the second call reads the memoized schema
      val memoized = Tables.parquet(s, path)
      assert(memoized.schema == plain.schema, t)
      assert(rowHash(memoized) == rowHash(plain), t)
    }
  }

  test("a table rewritten at the same path is read with its new schema") {
    val path = Files.createTempDirectory("graft-rewrite").toString + "/t.parquet"
    s.range(5).toDF("id").write.parquet(path)
    assert(Tables.parquet(s, path).columns.toSeq == Seq("id"))
    s.range(7).toDF("id").withColumn("added", col("id") * 2)
      .write.mode("overwrite").parquet(path)
    val reread = Tables.parquet(s, path)
    assert(reread.columns.toSeq == Seq("id", "added"))
    assert(reread.agg(sum("added")).head().getLong(0) == 42L)
  }

  test("a changed inference setting infers again; other sessions keep theirs") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val other = s.newSession()
    def tsType(x: org.apache.spark.sql.SparkSession) =
      Tables.eventsRaw(x, dir).schema("ts").dataType
    assert(tsType(other) == TimestampNTZType)
    other.conf.set(key, "false")
    assert(tsType(other) == TimestampType)
    assert(tsType(s) == TimestampNTZType)
    assert(Tables.events(other, dir).agg(count(lit(1))).head().getLong(0) ==
      Tables.events(s, dir).agg(count(lit(1))).head().getLong(0))
    other.conf.unset(key)
    assert(tsType(other) == TimestampNTZType)
  }

  test("a cycle over as many paths as the schema bound keeps every schema") {
    val root = Files.createTempDirectory("graft-schema-bound")
    val first = root.resolve("t0")
    s.range(3).toDF("id").coalesce(1).write.parquet(first.toString)
    val paths = first +: (1 until Tables.SchemaEntries).map { i =>
      val to = root.resolve(s"t$i")
      Files.createDirectory(to)
      Files.list(first).forEach((f: Path) =>
        Files.copy(f, to.resolve(f.getFileName)))
      to
    }
    paths.foreach(p => Tables.parquet(s, p.toString))
    val b0 = schemaBuilds
    val jobs = jobsDuring(paths.foreach(p =>
      assert(Tables.parquet(s, p.toString).columns.toSeq == Seq("id"))))
    assert(schemaBuilds - b0 == 0, "second cycle inferred again")
    assert(jobs == 0)
  }

  test("building a course query starts no Spark job once its tables were read") {
    // q17 is left out: its max-ts pre-pass runs two jobs by design
    val course = Seq("q1_multi_agg", "q10_star_join", "q13_wordcount",
      "q15_json_extract", "q19_pivot_agg", "st3_sessionize")
    course.foreach(n => SparkEntry.queries(n)(s, dir))
    val jobs = course.map(n => n -> jobsDuring(SparkEntry.queries(n)(s, dir)))
    assert(jobs.forall(_._2 == 0), jobs.mkString(", "))
  }

  test("current corpus generation: naive-UTC NTZ scan normalizes to TimestampType") {
    val ev = Tables.events(s, TestSpark.SfDir)
    assert(ev.schema("ts").dataType == TimestampType)
    // the scan itself is TIMESTAMP_NTZ — the cast is reinterpretation only
    assert(Tables.eventsRaw(s, TestSpark.SfDir).schema("ts").dataType == TimestampNTZType)
    assert(ev.agg(count(lit(1))).head.getLong(0) > 0)
  }

  test("legacy int64-nanos generation: ts converts to the same micros timestamps") {
    val dir = Files.createTempDirectory("graft-legacy-events").toString
    // Stage a legacy-shaped corpus: same rows, ts re-encoded as int64
    // nanoseconds (the shape the original writer produced).
    Tables.events(s, TestSpark.SfDir)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")

    val legacyRaw = Tables.eventsRaw(s, dir)
    assert(legacyRaw.schema("ts").dataType == LongType)
    val legacy = Tables.events(s, dir)
    assert(legacy.schema("ts").dataType == TimestampType)

    // Both generations must yield identical (event_id, micros) pairs.
    val native = Tables.events(s, TestSpark.SfDir)
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
    val converted = legacy
      .select(col("event_id"), unix_micros(col("ts")).as("tus"))
    assert(native.exceptAll(converted).isEmpty && converted.exceptAll(native).isEmpty)
  }

  test("q17 filters the same trailing day on either generation") {
    val dir = Files.createTempDirectory("graft-legacy-q17").toString
    Tables.events(s, TestSpark.SfDir)
      .withColumn("ts", unix_micros(col("ts")) * 1000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val native = operators.Relational.q17TimeRangeFilter(s, TestSpark.SfDir).collect()
    val legacy = operators.Relational.q17TimeRangeFilter(s, dir).collect()
    assert(native.nonEmpty && native.sameElements(legacy))
  }

  test("loaders leave session config alone; new sessions inherit it") {
    val fresh = s.newSession()
    val before = fresh.conf.getAll
    assert(Tables.events(fresh, TestSpark.SfDir).count() > 0)
    assert(fresh.conf.getAll == before, "a loader mutated session config")
    // the legacy-nanos read comes from the context conf GraftSession sets
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }
}
