package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Tables.events must read BOTH on-disk generations of the events
  * corpus (TESTDATA.md): the current writer's native TIMESTAMP(MICROS)
  * column and the earlier INT64-nanos shape. At cluster scale a
  * long-lived table spans writer generations, so the reader dispatches
  * on the scanned schema rather than assuming one representation. */
class TablesSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark

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
