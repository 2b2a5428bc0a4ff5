package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.Streams

class StreamsSpec extends AnyFunSuite {
  private lazy val s = TestSpark.spark
  private val dir = TestSpark.SfDir

  test("st1: streaming word count over a memory stream matches batch") {
    val sess = s
    import sess.implicits._
    val input = MemoryStream[String](s)
    val q = Streams.wordCounts(input.toDF())
      .writeStream.format("memory").queryName("st1_out")
      .outputMode("complete").start()
    try {
      input.addData("spark joins data", "data joins spark", "spark")
      q.processAllAvailable()
      val got = s.table("st1_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == Map("spark" -> 3L, "joins" -> 2L, "data" -> 2L))
    } finally q.stop()
  }

  test("st2: windowed agg over a watermarked stream matches the batch plan") {
    val sess = s
    import sess.implicits._
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](s)
    val events = input.toDF().toDF("ts", "event_type", "value")
    val q = Streams.windowedAgg(events.withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("st2_out")
      .outputMode("complete").start()
    try {
      def t(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      input.addData(
        (t(0, 10), "click", 1.0), (t(5, 59), "click", 2.0),
        (t(6, 0), "click", 4.0), (t(13, 30), "view", 8.0))
      q.processAllAvailable()
      val got = s.table("st2_out").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val day = java.time.LocalDate.of(2024, 1, 1)
        .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
      assert(got == Map(
        (day, "click") -> (2L, 3.0),
        (day + 6 * 3600, "click") -> (1L, 4.0),
        (day + 12 * 3600, "view") -> (1L, 8.0)))
    } finally q.stop()
  }

  test("st2 watermark: beyond-watermark stragglers drop, closed windows stay final") {
    val sess = s
    import sess.implicits._
    def ts(iso: String) =
      java.sql.Timestamp.from(java.time.Instant.parse(iso))
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](s)
    val agg = Streams.windowedAgg(
      input.toDF().toDF("ts", "event_type", "value")
        .withWatermark("ts", "1 hour"))
    val q = agg.writeStream.format("memory").queryName("st2_wm")
      .outputMode("append").start()
    try {
      // batch 1: one event in the 00:00 window, one at 12:10 that
      // advances the watermark to 11:10 — past the 06:00 window end
      input.addData(
        (ts("2024-01-01T00:10:00Z"), "a", 1.0),
        (ts("2024-01-01T12:10:00Z"), "a", 1.0))
      q.processAllAvailable()
      // batch 2: a straggler at 00:20 is BEYOND the watermark (its
      // window is already closed) and must be dropped; 12:20 is fine
      input.addData(
        (ts("2024-01-01T00:20:00Z"), "a", 5.0),
        (ts("2024-01-01T12:20:00Z"), "a", 1.0))
      q.processAllAvailable()
      // batch 3: push the watermark past 18:00 so the 12:00 window emits
      input.addData((ts("2024-01-02T00:00:00Z"), "a", 1.0))
      q.processAllAvailable()
      val rows = s.table("st2_wm").collect()
        .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
      val w0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
      val w12 = java.time.Instant.parse("2024-01-01T12:00:00Z").getEpochSecond
      // closed 00:00 window: only the on-time event — the late 5.0 is gone
      assert(rows(w0) === ((1L, 1.0)))
      // open-at-the-time 12:00 window: both its events
      assert(rows(w12) === ((2L, 2.0)))
    } finally q.stop()
  }

  test("st3 eviction: idle user's state times out, is emitted once, and a later event starts fresh") {
    val sess = s
    import sess.implicits._
    def us(iso: String) =
      java.time.Instant.parse(iso).toEpochMilli * 1000L
    val input = MemoryStream[Streams.Evt](s)
    // 10-minute watermark delay: eviction horizon = lastTus + 30min gap,
    // observed once the watermark (max event time - 10min) passes it
    val q = Streams.sessionizeStreaming(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("st3_evict")
      .outputMode("update").start()
    try {
      // batch 1: user 1 has one session of 3 events
      input.addData(
        Streams.Evt(1L, 1L, us("2024-01-01T00:00:00Z")),
        Streams.Evt(1L, 2L, us("2024-01-01T00:05:00Z")),
        Streams.Evt(1L, 3L, us("2024-01-01T00:10:00Z")))
      q.processAllAvailable()
      // batch 2: a DIFFERENT user 4 hours later pushes the watermark to
      // 03:50, far past user 1's horizon (00:10 + 30min) → user 1's
      // state must time out: final summary re-emitted, state removed
      input.addData(Streams.Evt(2L, 4L, us("2024-01-01T04:00:00Z")))
      q.processAllAvailable()
      // batch 3: user 1 returns — evicted state means a FRESH summary
      // (1 session / 1 event), not a resumed (2 sessions / 4 events)
      input.addData(Streams.Evt(1L, 5L, us("2024-01-01T05:00:00Z")))
      q.processAllAvailable()
      val u1 = s.table("st3_evict").collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getInt(1), r.getInt(2), r.getLong(3))).toSeq
      // exactly three user-1 rows: batch-1 update, the single timeout
      // emission, and the fresh post-eviction session
      assert(u1.sorted == Seq((1, 1, 1L), (1, 3, 3L), (1, 3, 3L)))
      assert(u1.count(_ == ((1, 1, 1L))) == 1)
    } finally q.stop()
  }

  test("st4: streaming dedup collapses in-window duplicates; state evicts past the watermark") {
    val sess = s
    import sess.implicits._
    def ts(iso: String) =
      java.sql.Timestamp.from(java.time.Instant.parse(iso))
    val input = MemoryStream[(java.sql.Timestamp, Long, String)](s)
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val q = Streams.dedupStream(docs, "10 minutes")
      .writeStream.format("memory").queryName("st4_out")
      .outputMode("append").start()
    try {
      // batch 1: same text twice -> one survivor
      input.addData(
        (ts("2024-01-01T00:00:00Z"), 1L, "alpha"),
        (ts("2024-01-01T00:01:00Z"), 2L, "alpha"),
        (ts("2024-01-01T00:01:00Z"), 3L, "beta"))
      q.processAllAvailable()
      // batch 2: "alpha" again while its state is live -> dropped
      input.addData((ts("2024-01-01T00:05:00Z"), 4L, "alpha"))
      q.processAllAvailable()
      // batch 3: advance the watermark far past alpha's horizon
      input.addData((ts("2024-01-01T06:00:00Z"), 5L, "gamma"))
      q.processAllAvailable()
      // batch 4: "alpha" after eviction -> re-emitted (bounded-state
      // trade; exact end-to-end dedup is the batch d1 / append-once sink)
      input.addData((ts("2024-01-01T06:01:00Z"), 6L, "alpha"))
      q.processAllAvailable()
      val ids = s.table("st4_out").collect().map(_.getLong(1)).toSet
      assert(ids == Set(1L, 3L, 5L, 6L))
    } finally q.stop()
  }

  test("st5: stream-stream interval join matches the batch intervalJoin on the same events") {
    val sess = s
    import sess.implicits._
    def ts(iso: String) =
      java.sql.Timestamp.from(java.time.Instant.parse(iso))
    val vIn = MemoryStream[(java.sql.Timestamp, Long, Long)](s)
    val pIn = MemoryStream[(java.sql.Timestamp, Long, Long)](s)
    val views = vIn.toDF().toDF("ts", "user_id", "event_id")
    val purchases = pIn.toDF().toDF("ts", "user_id", "event_id")
    val q = Streams.streamIntervalJoin(views, purchases, "10 minutes")
      .writeStream.format("memory").queryName("st5_out")
      .outputMode("append").start()
    try {
      val vRows = Seq(
        (ts("2024-01-01T00:00:00Z"), 1L, 10L),
        (ts("2024-01-01T00:20:00Z"), 1L, 11L),
        (ts("2024-01-01T00:00:00Z"), 2L, 12L), // user 2 never purchases
        (ts("2024-01-01T01:30:00Z"), 3L, 13L)) // outside every window
      val pRows = Seq(
        (ts("2024-01-01T00:25:00Z"), 1L, 20L), // inside both user-1 views
        (ts("2024-01-01T00:45:00Z"), 1L, 21L), // inside view 11 only
        (ts("2024-01-01T00:10:00Z"), 3L, 22L)) // before user 3's view
      vIn.addData(vRows: _*)
      pIn.addData(pRows: _*)
      q.processAllAvailable()
      val got = s.table("st5_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val expected = Streams.intervalJoin(
        vRows.toDF("ts", "user_id", "event_id"),
        pRows.toDF("ts", "user_id", "event_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(expected == Set(
        (1L, 10L, 20L, 25L * 60 * 1000000),
        (1L, 11L, 20L, 5L * 60 * 1000000),
        (1L, 11L, 21L, 25L * 60 * 1000000)))
      assert(got == expected)
    } finally q.stop()
  }

  test("st5 eviction: a view behind watermark + attribution window no longer matches a late purchase") {
    val sess = s
    import sess.implicits._
    def ts(iso: String) =
      java.sql.Timestamp.from(java.time.Instant.parse(iso))
    val vIn = MemoryStream[(java.sql.Timestamp, Long, Long)](s)
    val pIn = MemoryStream[(java.sql.Timestamp, Long, Long)](s)
    val q = Streams.streamIntervalJoin(
        vIn.toDF().toDF("ts", "user_id", "event_id"),
        pIn.toDF().toDF("ts", "user_id", "event_id"), "10 minutes")
      .writeStream.format("memory").queryName("st5_evict")
      .outputMode("append").start()
    try {
      // batch 1: user 1's view, plus a matched pair far ahead on BOTH
      // sides — the join watermark is the min over both inputs, so both
      // must advance past 00:00 + 30min window + 10min delay
      vIn.addData(
        (ts("2024-01-01T00:00:00Z"), 1L, 10L),
        (ts("2024-01-01T06:00:00Z"), 9L, 11L))
      pIn.addData((ts("2024-01-01T06:01:00Z"), 9L, 20L))
      q.processAllAvailable()
      // batch 2: nudge so state cleanup for the 00:00 view runs
      vIn.addData((ts("2024-01-01T06:10:00Z"), 9L, 12L))
      pIn.addData((ts("2024-01-01T06:11:00Z"), 9L, 21L))
      q.processAllAvailable()
      // the stream has DROPPED user 1's view from state: buffered rows
      // behind watermark − attribution window are evicted (that bound —
      // not corpus history — is what sizes an always-on join's state)
      val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
      assert(stateRows <= 4,
        s"state still holds $stateRows rows — the 00:00 view was not evicted")
      // batch 3: a late purchase that WOULD match the evicted view in
      // batch semantics produces nothing in the stream
      pIn.addData((ts("2024-01-01T00:10:00Z"), 1L, 22L))
      q.processAllAvailable()
      val u1 = s.table("st5_evict").collect().filter(_.getLong(0) == 1L)
      assert(u1.isEmpty,
        "late purchase matched an evicted view — state did not bound")
      // ...while the batch formulation on the same rows DOES match it
      // (the difference is exactly the streaming state bound)
      val batch = Streams.intervalJoin(
        Seq((ts("2024-01-01T00:00:00Z"), 1L, 10L)).toDF("ts", "user_id", "event_id"),
        Seq((ts("2024-01-01T00:10:00Z"), 1L, 22L)).toDF("ts", "user_id", "event_id"))
      assert(batch.count() == 1)
    } finally q.stop()
  }

  test("st3: flatMapGroupsWithState sessionization agrees with the batch window formulation") {
    val sess = s
    import sess.implicits._
    val evts = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
      .as[Streams.Evt]
    val input = MemoryStream[Streams.Evt](s)
    val q = Streams.sessionizeStreaming(input.toDS())
      .writeStream.format("memory").queryName("st3_out")
      .outputMode("update").start()
    try {
      input.addData(evts.collect().toSeq)
      q.processAllAvailable()
      val got = s.table("st3_out").collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getLong(3))))
        .toMap
      val expected = Streams.sessionizeBatch(Tables.events(s, dir)).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1).toInt, r.getLong(2).toInt,
          r.getLong(3)))).toMap
      assert(got == expected)
    } finally q.stop()
  }

  test("st6: streaming decontamination flag is stateless and matches the batch run") {
    val sess = s
    import sess.implicits._
    val inv = graft.operators.Dedup.d9InventoryFor(s, dir)
    // a mix of suite-bucket docs (their shingles ARE the inventory —
    // must flag) and ordinary docs
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text")).limit(60).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)](s)
    val stream = Streams.decontaminateFlag(
      input.toDF().toDF("doc_id", "text"), inv)
    // stateless transform ⇒ append mode with NO watermark is legal
    val q = stream.writeStream.format("memory").queryName("st6_out")
      .outputMode("append").start()
    try {
      input.addData(docs: _*)
      q.processAllAvailable()
      val got = s.table("st6_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      val expected = Streams.decontaminateFlag(
          docs.toDF("doc_id", "text"), inv).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
      assert(got == expected)
      assert(got.size == docs.size)
      // both classes present: suite-sourced docs flag, clean docs don't
      assert(expected.values.exists(_._2) && expected.values.exists(!_._2))
    } finally q.stop()
  }

  test("st6 inventory: built once per corpus generation, cache-hit after") {
    Artifacts.clear("dedup.d9Inv")
    val before = graft.operators.Dedup.d9InvBuildCount.get()
    val a = graft.operators.Dedup.d9InventoryFor(s, dir)
    val mid = graft.operators.Dedup.d9InvBuildCount.get()
    val b = graft.operators.Dedup.d9InventoryFor(s, dir)
    assert(mid == before + 1)
    assert(graft.operators.Dedup.d9InvBuildCount.get() == mid)
    assert(a eq b)
    assert(a.value.size > 0)
  }

  test("st7: streaming quota matches the batch spelling under an in-order " +
      "feed; rank counters carry across triggers") {
    val sess = s
    import sess.implicits._
    // real corpus events in event-time order, split across three
    // triggers so ranks must continue from carried state
    val evts = Tables.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("tus"),
        col("event_type"))
      .as[Streams.CapEvt].collect().sortBy(e => (e.tus, e.event_id))
    val cap = 7 // small enough that every slice crosses the quota
    val input = MemoryStream[Streams.CapEvt](s)
    val q = Streams.capStream(input.toDS(), cap)
      .writeStream.format("memory").queryName("st7_cap")
      .outputMode("update").start()
    try {
      evts.grouped(math.max(evts.length / 3, 1)).foreach { slice =>
        input.addData(slice.toSeq)
        q.processAllAvailable()
      }
      val got = s.table("st7_cap").collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2),
          r.getBoolean(3)))).toMap
      val want = Streams.capBatch(Tables.events(s, dir), cap).collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getLong(2),
          r.getBoolean(3)))).toMap
      assert(got.size == evts.length, "every event emitted exactly once")
      assert(got == want, "streaming quota diverged from batch spelling")
      // parity implies carried state: batch ranks reach each key's
      // TOTAL count, which a per-trigger reset could never produce —
      // but demand explicitly that a key was seen in >1 trigger
      val firstSlice = evts.take(math.max(evts.length / 3, 1))
      assert(firstSlice.map(_.event_type).toSet
        .exists(t => got.values.count(_._1 == t) >
          firstSlice.count(_.event_type == t)),
        "no key spanned a trigger boundary")
      assert(got.values.exists(!_._3), "quota never rejected")
    } finally q.stop()
  }

  test("st9: streaming HLL registers equal the batch sketch; late " +
      "in-watermark data only RAISES registers; estimate read shared") {
    val sess = s
    import sess.implicits._
    val input = MemoryStream[(java.sql.Timestamp, Long, String)](s)
    val events = input.toDF().toDF("ts", "user_id", "event_type")
    val q = Streams.hllWindowedRegisters(events.withWatermark("ts", "1 hour"))
      .selectExpr("win.start AS ws", "event_type", "idx", "r")
      .writeStream.format("memory").queryName("st9_out")
      .outputMode("complete").start()
    def t(h: Int, m: Int) =
      java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    try {
      // batch 1: users 1..40 in window 0, user 1 in window 1
      input.addData((1L to 40L).map(u => (t(1, 0), u, "view")): _*)
      input.addData(Seq((t(7, 0), 1L, "view")): _*)
      q.processAllAvailable()
      val snap1 = s.table("st9_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)) ->
          r.getInt(3)).toMap
      // batch 2: LATE but in-watermark rows for window 0 (users 41..60
      // at an earlier minute) — registers may only rise
      input.addData((41L to 60L).map(u => (t(0, 30), u, "view")): _*)
      q.processAllAvailable()
      val snap2 = s.table("st9_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)) ->
          r.getInt(3)).toMap
      snap1.foreach { case (k, r1) =>
        assert(snap2.getOrElse(k, 0) >= r1, s"register $k regressed")
      }
      // parity: streaming register snapshot == batch sketch on the
      // same rows, and the shared estimate read agrees end-to-end
      val all = (1L to 40L).map(u => (t(1, 0), u, "view")) ++
        Seq((t(7, 0), 1L, "view")) ++
        (41L to 60L).map(u => (t(0, 30), u, "view"))
      val batchRegs = Streams
        .hllWindowedRegisters(all.toDF("ts", "user_id", "event_type"))
      val batchSnap = batchRegs
        .selectExpr("win.start AS ws", "event_type", "idx", "r").collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)) ->
          r.getInt(3)).toMap
      assert(snap2 == batchSnap, "streaming registers == batch sketch")
      val est = Streams.hllWindowedEstimate(batchRegs)
        .orderBy("bucket_start", "event_type").collect()
        .map(r => (r.getLong(0), r.getLong(4)))
      assert(est.length == 2 && est.head._2 > 40 && est.last._2 == 1,
        s"window estimates track 60 vs 1 distinct: ${est.toSeq}")
    } finally q.stop()
  }

  test("st8: streaming funnel converges to the batch stage, even out of order") {
    val sess = s
    import sess.implicits._
    val evts = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        col("event_type"))
      .as[Streams.FunEvt].collect()
    val want = Streams.funnelBatch(Tables.events(s, dir)).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap
    // ADVERSARIAL arrival order: reverse event time — every user's
    // early views arrive after their clicks/purchases, so mid-stream
    // stages move around and only min-tracking state can converge
    val reversed = evts.sortBy(e => (-e.tus, e.user_id))
    val input = MemoryStream[Streams.FunEvt](s)
    val q = Streams.funnelStream(input.toDS())
      .writeStream.format("memory").queryName("st8_funnel")
      .outputMode("update").start()
    try {
      reversed.grouped(math.max(reversed.length / 3, 1)).foreach { slice =>
        input.addData(slice.toSeq)
        q.processAllAvailable()
      }
      // memory sink in update mode appends every emission; the LAST
      // emission per user is the converged stage
      val emissions = s.table("st8_funnel").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      val got = emissions.zipWithIndex
        .groupBy(_._1._1).view
        .mapValues(_.maxBy(_._2)._1._2).toMap
      assert(got == want,
        s"converged stages diverged from batch: ${got.toSeq.sorted.take(5)}")
      assert(want.values.toSet.size > 1, "corpus funnel is degenerate")
      // disorder was real: some user emitted different stages over time
      val perUser = emissions.groupBy(_._1)
      assert(perUser.values.exists(e => e.map(_._2).distinct.length > 1),
        "no user's running stage ever moved — out-of-order path untested")
    } finally q.stop()
  }

  test("st10: streaming CDC apply — within-batch LWW, cross-trigger " +
      "order, and trigger-boundary independence vs one-shot batch") {
    val sess = s
    import sess.implicits._
    import org.apache.spark.sql.functions._
    def plant(t: String): Unit = {
      if (s.catalog.tableExists(t)) s.sql(s"DROP TABLE $t")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
      graft.sources.Sources.writePartitioned(
        (1L to 12L).map(i => (i, s"t$i", i % Streams.St10Parts))
          .toDF("doc_id", "text", "pt"),
        t, "pt")
    }
    def state(t: String): Map[Long, String] =
      s.table(t).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tStream = "graft_st10_planted_stream"
    val tBatch = "graft_st10_planted_batch"
    plant(tStream); plant(tBatch)
    val genA = Seq(
      Streams.CdcEvt(1L, "upsert", 1L, "t1 v2"),
      Streams.CdcEvt(2L, "delete", 2L, null),
      // within-batch LWW both directions: later delete beats earlier
      // upsert (id 3); later upsert beats earlier delete (id 4)
      Streams.CdcEvt(3L, "upsert", 3L, "t3 x"),
      Streams.CdcEvt(4L, "delete", 3L, null),
      Streams.CdcEvt(5L, "delete", 4L, null),
      Streams.CdcEvt(6L, "upsert", 4L, "t4 y"))
    val genB = Seq(
      // resurrect a deleted key, delete a previously-updated one
      Streams.CdcEvt(7L, "upsert", 2L, "t2 back"),
      Streams.CdcEvt(8L, "delete", 1L, null))
    val ckpt = java.nio.file.Files
      .createTempDirectory("st10ckpt").toString
    val input = MemoryStream[Streams.CdcEvt](s)
    input.addData(genA: _*)
    Streams.st10ApplyStream(input.toDS(), tStream, ckpt)
    val mid = state(tStream)
    assert(mid.get(1L).contains("t1 v2") && !mid.contains(2L) &&
      !mid.contains(3L) && mid.get(4L).contains("t4 y"),
      s"after gen A: $mid")
    input.addData(genB: _*)
    Streams.st10ApplyStream(input.toDS(), tStream, ckpt)
    val fin = state(tStream)
    val expected = (5L to 12L).map(i => i -> s"t$i").toMap +
      (2L -> "t2 back") + (4L -> "t4 y")
    assert(fin == expected, s"final stream state: $fin")
    // trigger boundaries don't matter for an in-order feed: the whole
    // log applied as ONE batch lands the identical table
    Streams.st10ApplyBatch(s, tBatch,
      (genA ++ genB).toDS().toDF())
    assert(state(tBatch) == expected, "one-shot batch diverged from stream")
    // gate corpus: re-applying the absolute changeset is idempotent
    val dir = TestSpark.SfDir
    val once = Streams.st10Query(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val again = Streams.st10Query(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(once == again, "gate re-apply changed the table")
  }

  test("c19 time travel: the final as-of reconstruction equals the " +
      "materialized CDC table; versions shrink and grow as logged") {
    val dir = TestSpark.SfDir
    val byVersion = Streams.c19TimeTravel(s, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1)
    // as_of=3 derived state ≡ the st10-materialized table, row for row
    val v3 = byVersion(3L).map(t => (t._2, t._3)).sortBy(_._1).toSeq
    val applied = Streams.st10Query(s, dir).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(v3 == applied,
      "as-of-latest reconstruction diverged from the applied table")
    // v1 holds every base doc; v2 lost exactly the gen-2 deletes; v3
    // won back exactly the gen-3 re-upserts among the deleted
    val nDocs = graft.Tables.documents(s, dir).count()
    val ids1 = byVersion(1L).map(_._2).toSet
    val ids2 = byVersion(2L).map(_._2).toSet
    val ids3 = byVersion(3L).map(_._2).toSet
    assert(ids1.size == nDocs)
    assert(ids1.diff(ids2) == ids1.filter(_ % Streams.St10DelMod == 0),
      "v2 must drop exactly the deleted keys")
    assert(ids3.diff(ids2) ==
      ids1.filter(i => i % Streams.St10DelMod == 0 &&
        i % Streams.St10UpdMod2 == 0),
      "v3 must restore exactly the re-upserted deleted keys")
  }

  test("st11: micro-batched admission feed equals the one-shot batch " +
      "feed whatever the trigger boundaries; both verdict kinds occur") {
    val sess = s
    import sess.implicits._
    val dir = TestSpark.SfDir
    val inc = sess.read
      .parquet(graft.operators.Dedup.d11IncrementPath(s, dir))
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(inc.length >= 4, "staged increment too small to split")
    // split the shard into three arbitrary micro-batches
    val (b1, rest) = inc.splitAt(inc.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val sink = java.nio.file.Files.createTempDirectory("st11sink").toString
    val ckpt = java.nio.file.Files.createTempDirectory("st11ckpt").toString
    val input = MemoryStream[(Long, String)](s)
    for (b <- Seq(b1, b2, b3)) {
      input.addData(b: _*)
      Streams.st11AdmitStream(s, dir,
        input.toDF().toDF("doc_id", "text"), sink, ckpt)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dup_of"),
        r.getAs[String]("kind"), r.getAs[Double]("jaccard"))).toSet
    val streamed = rows(sess.read.parquet(sink))
    val batch = rows(Streams.st11Query(s, dir))
    assert(streamed == batch,
      "micro-batch boundaries must not change the admission feed")
    assert(batch.exists(_._3 == "exact") && batch.exists(_._3 == "near"),
      "the staged increment must exercise both verdict kinds")
    // feed jaccards only ever confirm at or above the keep threshold
    assert(batch.forall(_._4 >= graft.operators.Dedup.KeepMinJaccard))
    // the confirm-side shingle-set artifact is pay-once: a further
    // admission must not rewrite it (admission touches lake artifacts
    // only, never re-derives from the corpus)
    val shsets = new org.apache.hadoop.fs.Path(
      graft.operators.Dedup.st11ShsetsPath(s, dir), Artifacts.Marker)
    val fs = shsets.getFileSystem(s.sparkContext.hadoopConfiguration)
    val t0 = fs.getFileStatus(shsets).getModificationTime
    Streams.st11Query(s, dir).collect()
    assert(fs.getFileStatus(shsets).getModificationTime == t0,
      "shsets artifact must be written once per corpus generation")
  }

  test("st12: stream-static point-in-time enrichment is stateless, " +
      "matches the batch join across micro-batch splits, and hits " +
      "both dimension versions") {
    val sess = s
    import sess.implicits._
    import org.apache.spark.sql.functions._
    val hist = graft.operators.Curation.c17History(s, dir)
    val epoch = java.time.LocalDate.parse(graft.operators.Curation.C17Date0)
    val evts = Tables.events(s, dir)
      .select(col("event_id"), col("user_id")).limit(200).collect()
      .map(r => Streams.PitEvt(r.getLong(0), r.getLong(1),
        epoch.plusDays(r.getLong(0) % 365).toString))
    val input = MemoryStream[Streams.PitEvt](s)
    val q = Streams.pitEnrichStream(input.toDS(), hist)
      .writeStream.format("memory").queryName("st12_out")
      .outputMode("append").start()
    try {
      // split across three micro-batches: a stateless join's output
      // must not depend on where the boundaries fall
      val (a, rest) = evts.splitAt(70)
      val (b, c) = rest.splitAt(70)
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      input.addData(c: _*); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getLong(4), r.getString(5))
      val got = s.table("st12_out").collect().map(key).toSet
      val expected = Streams.pitEnrichStream(evts.toSeq.toDS(), hist)
        .collect().map(key).toSet
      assert(got == expected)
      assert(got.size == evts.length,
        "every event resolves to exactly one version")
      // both validity periods genuinely hit
      val froms = got.map(_._6)
      assert(froms.contains(graft.operators.Curation.C17Date0) &&
        froms.contains(graft.operators.Curation.C17Date1))
      // stream-static joins keep NO state store
      assert(q.lastProgress.stateOperators.isEmpty,
        "stream-static join must be stateless")
    } finally q.stop()
  }

  test("st13: streaming value histogram matches batch across trigger " +
      "splits; quantile read matches a driver nearest-rank replay") {
    val sess = s
    import sess.implicits._
    import org.apache.spark.sql.functions._
    val evts = Tables.events(s, dir)
      .select(col("ts"), col("event_type"), col("value")).limit(300)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getDouble(2)))
    val input = MemoryStream[(java.sql.Timestamp, String, Double)](s)
    val hist = Streams.valueHistogram(
      input.toDF().toDF("ts", "event_type", "value")
        .withWatermark("ts", "1 hour"))
    val q = hist.writeStream.format("memory").queryName("st13_out")
      .outputMode("complete").start()
    try {
      val (a, rest) = evts.splitAt(97)
      val (b, c) = rest.splitAt(130)
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      input.addData(c: _*); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        ((r.getStruct(0).getTimestamp(0).getTime, r.getString(1),
          r.getInt(2)), r.getLong(3))
      val got = s.table("st13_out").collect().map(key).toMap
      val expected = Streams.valueHistogram(
          evts.toSeq.toDF("ts", "event_type", "value")).collect()
        .map(key).toMap
      assert(got == expected, "histogram differs across trigger splits")
      // quantile read ≡ driver nearest-rank over the bucketed values
      val out = Streams.st13Query(s, dir).collect()
        .map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
      val raw = Tables.events(s, dir)
        .select(window(col("ts"), "6 hours")("start").cast("long"),
          col("event_type"), col("value")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val replay = raw.groupBy(t => (t._1, t._2)).map { case (k, rows) =>
        val vbs = rows.map(t => math.min(Streams.St13Buckets - 1,
          math.max(0, math.floor(t._3).toInt))).sorted
        val n = vbs.length
        def nr(q: Int) = vbs((n * q + 99) / 100 - 1)
        k -> ((n.toLong, nr(50), nr(90), nr(99)))
      }
      assert(out == replay)
      // the clamp never fires on this corpus by accident — prove the
      // bucket domain is genuinely exercised across its range
      assert(expected.keys.map(_._3).toSet.size > 50,
        "degenerate histogram: too few distinct buckets")
    } finally q.stop()
  }

  test("st14: streaming day-item counters match batch across trigger " +
      "splits; the decayed read over them equals q52's direct scan") {
    val sess = s
    import sess.implicits._
    import org.apache.spark.sql.functions._
    val evts = Tables.events(s, dir)
      .select(col("ts"), col("event_type"), col("props")).limit(400)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getString(2)))
    val input = MemoryStream[(java.sql.Timestamp, String, String)](s)
    val counts = Streams.clickDayCounts(
      input.toDF().toDF("ts", "event_type", "props")
        .withWatermark("ts", "1 hour"))
    val q = counts.writeStream.format("memory").queryName("st14_out")
      .outputMode("complete").start()
    try {
      val (a, rest) = evts.splitAt(113)
      val (b, c) = rest.splitAt(170)
      input.addData(a: _*); q.processAllAvailable()
      input.addData(b: _*); q.processAllAvailable()
      input.addData(c: _*); q.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        ((r.getStruct(0).getTimestamp(0).getTime, r.getInt(1)),
          r.getLong(2))
      val got = s.table("st14_out").collect().map(key).toMap
      val expected = Streams.clickDayCounts(
          evts.toSeq.toDF("ts", "event_type", "props")).collect()
        .map(key).toMap
      assert(got == expected, "counters differ across trigger splits")
      // the maintained-state read equals the direct corpus scan
      val viaCounters = Streams.st14Query(s, dir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      val direct = graft.operators.Relational.q52DecayTrend(s, dir)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
        .toSeq
      assert(viaCounters == direct,
        "counter-table read diverged from q52's direct scan")
      // state is genuinely bounded: counters, not clicks
      val nClicks = Tables.events(s, dir)
        .filter(col("event_type") === "click").count()
      assert(expected.size < nClicks,
        "no compression — counter table as large as the click stream")
    } finally q.stop()
  }

  test("st15: streaming packer emits each closed sequence exactly once " +
    "and agrees with the batch closed-sequence spelling") {
    val sess = s
    import sess.implicits._
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(expr("filter(split(text, ' '), t -> t <> '')"))
          .cast("long").as("tok"))
      .as[Streams.PackDoc].collect().sortBy(_.doc_id)
    val input = MemoryStream[Streams.PackDoc](s)
    val q = Streams.packStream(input.toDS())
      .writeStream.format("memory").queryName("st15_out")
      .outputMode("append").start()
    try {
      val expected = Streams.st15Query(s, dir).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
      def emitted() = s.table("st15_out").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      // three in-id-order triggers: per shard, arrival order = id order,
      // so the stream must converge to exactly the batch closed set
      val (a, rest) = docs.splitAt(docs.length / 3)
      val (b, c) = rest.splitAt(rest.length / 3)
      input.addData(a)
      q.processAllAvailable()
      val afterFirst = emitted()
      assert(afterFirst.toSet.subsetOf(expected.toSet),
        "mid-stream emission not a prefix of the batch truth")
      input.addData(b)
      q.processAllAvailable()
      input.addData(c)
      q.processAllAvailable()
      val got = emitted()
      // append mode accumulated every emission: duplicates would remain
      assert(got.distinct.length == got.length,
        "a closed sequence was emitted more than once")
      assert(got.sorted == expected,
        "stream-closed sequences != batch closed sequences")
      assert(got.nonEmpty)
    } finally q.stop()
  }
}
