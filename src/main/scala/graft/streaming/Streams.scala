package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables
import graft.operators.{Dedup, Exact, TextAnalysis, TextOps}

/** Structured Streaming operators (reference: Chapter 6 Spark Streaming
  * notebook's socket word-count; streaming/tweepy_stream.py).
  *
  * The transforms are plain DataFrame→DataFrame functions, so the same
  * logic runs over `readStream` sources in production and over batch
  * DataFrames in the oracle gate. Streaming specs drive them with
  * MemoryStream.
  */
object Streams {

  /** st1: split → explode → count per word. Append a watermark-free
    * complete-mode count in streaming; identical semantics in batch. */
  def wordCounts(lines: DataFrame): DataFrame =
    lines.select(explode(split(col("value"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** st2: tumbling 6h window + per-type aggregate. In streaming the
    * caller adds `.withWatermark("ts", ...)` upstream; bucket emitted as
    * epoch seconds so the oracle compare is precision-proof. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "6 hours").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Exact.dsum(col("value")).as("sum_value"))
      .select(col("w.start").cast("long").as("bucket_start"),
        col("event_type"), col("cnt"), col("sum_value"))

  /** Session gap: a new session starts when the inter-event gap exceeds
    * 30 minutes (compared in exact microseconds on both engines). */
  val SessionGapUs: Long = 30L * 60 * 1000000

  /** st3 (batch formulation): per-user sessionization with window
    * functions — lag/flag/cumsum, then two map-side-combinable rollups. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("tus", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("tus", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("prev", lag("tus", 1).over(byUser))
      .withColumn("new_sess",
        when(col("prev").isNull || col("tus") - col("prev") > SessionGapUs, 1)
          .otherwise(0))
      .withColumn("session_id", sum("new_sess").over(cum))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        max("n_events").as("max_session_events"),
        sum("n_events").as("total_events"))
      .orderBy("user_id")
  }

  // ------------------------------------------------- streaming-only state

  case class Evt(user_id: Long, event_id: Long, tus: Long)
  case class EvtW(user_id: Long, event_id: Long, tus: Long,
      ts: java.sql.Timestamp)
  case class SessState(lastTus: Long, curCount: Int, sessions: Int,
      maxCount: Int, total: Long)
  case class SessOut(user_id: Long, n_sessions: Int, max_session_events: Int,
      total_events: Long)

  /** st3 (streaming formulation): custom state machine over
    * flatMapGroupsWithState — the scale path for live sessionization.
    * Emits one summary row per user per trigger (update mode).
    *
    * State is EVICTED, not kept forever: each update arms an event-time
    * timeout at lastTus + SessionGapUs, so once the watermark (event
    * time minus `watermarkDelay`) passes a user's session-gap horizon,
    * the final summary is emitted one last time and the state removed.
    * Peak state is therefore bounded by the users ACTIVE within one
    * (gap + delay) window — not by every user_id ever seen, which on an
    * unbounded population would grow the state store (and its
    * checkpoint/restore time) monotonically. A user who returns after
    * eviction starts a fresh summary (sessions count from 1 again):
    * that forgetting is the price of bounded state, and downstream
    * consumers treat the update-mode stream as an upsert keyed on
    * (user_id, emission time) if lifetime totals are needed. */
  def sessionizeStreaming(events: Dataset[Evt],
      watermarkDelay: String = "10 minutes"): Dataset[SessOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("tus")))
      .as[EvtW]
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evts: Iterator[EvtW], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTus + gap: the user's current session
            // is closed and no in-order event can reopen it — emit the
            // final summary once and free the state slot
            val st = state.get
            state.remove()
            Iterator(SessOut(user, st.sessions, st.maxCount, st.total))
          } else {
            val sorted = evts.toSeq.sortBy(e => (e.tus, e.event_id))
            var st = state.getOption.getOrElse(SessState(Long.MinValue, 0, 0, 0, 0L))
            for (e <- sorted) {
              st = if (st.sessions == 0 || e.tus - st.lastTus > SessionGapUs)
                SessState(e.tus, 1, st.sessions + 1,
                  math.max(st.maxCount, 1), st.total + 1)
              else {
                val c = st.curCount + 1
                SessState(e.tus, c, st.sessions, math.max(st.maxCount, c),
                  st.total + 1)
              }
            }
            state.update(st)
            // Spark rejects a timeout at or before the current watermark,
            // so clamp: a session horizon already behind the watermark
            // times out in the very next batch
            state.setTimeoutTimestamp(math.max(
              st.lastTus / 1000 + SessionGapUs / 1000,
              state.getCurrentWatermarkMs + 1))
            Iterator(SessOut(user, st.sessions, st.maxCount, st.total))
          }
      }
  }

  /** st4: streaming exact-dedup on the content hash with BOUNDED state
    * — the streaming analog of d1 for live ingest (tweepy_stream.py's
    * firehose shape): `dropDuplicatesWithinWatermark` keeps one row per
    * hash and holds each key's state only until the watermark passes
    * its event time + delay, so the state store is bounded by the keys
    * seen within one watermark window, not the full corpus history.
    * Semantics trade documented: a duplicate arriving AFTER its
    * original's state was evicted is re-emitted — downstream exact
    * dedup (d1) or the append-once sink ([[toParquetDedup]]) makes the
    * pipeline end-to-end exact, while this stage cheaply collapses the
    * bursty near-in-time duplicates that dominate live streams. */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("h", md5(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("h")
      .drop("h") // internal key — callers keep the input schema

  /** Attribution window for [[intervalJoin]]: a purchase is attributed
    * to every view by the same user in the preceding 30 minutes. */
  val AttributionWindow = "INTERVAL 30 MINUTES"

  /** st5 (shared transform): stream-stream interval join — view →
    * purchase attribution. Equi-join on user_id with the event-time
    * range as a post-join filter, so the batch plan is one hash
    * shuffle per side on the user key (NOT a range cross product). The
    * same transform over two watermarked streams is Spark's
    * stream-stream inner join: the time-range condition plus both
    * watermarks let the state store evict a buffered view once the
    * purchase-side watermark passes view.ts + window (and vice versa),
    * so streaming state is bounded by the events inside one watermark
    * + attribution window — the requirement for an always-on 100 TB/day
    * attribution pipeline. */
  def intervalJoin(views: DataFrame, purchases: DataFrame): DataFrame =
    views.alias("v").join(purchases.alias("p"),
        col("v.user_id") === col("p.user_id") &&
          col("p.ts") >= col("v.ts") &&
          col("p.ts") <= col("v.ts") + expr(AttributionWindow))
      .select(col("v.user_id").as("user_id"),
        col("v.event_id").as("view_id"),
        col("p.event_id").as("purchase_id"),
        (unix_micros(col("p.ts")) - unix_micros(col("v.ts"))).as("gap_us"))

  /** [[intervalJoin]] over live streams: watermark both sides, then the
    * shared transform — Spark recognizes the equi-key + time-range shape
    * and plans a state-evicting stream-stream join. StreamsSpec drives
    * it with two MemoryStreams: one test checks parity with the batch
    * run, one proves the state bound (a view behind watermark +
    * attribution window is evicted and a late purchase that batch
    * semantics would match produces nothing). */
  def streamIntervalJoin(views: DataFrame, purchases: DataFrame,
      watermarkDelay: String = "10 minutes"): DataFrame =
    intervalJoin(views.withWatermark("ts", watermarkDelay),
      purchases.withWatermark("ts", watermarkDelay))

  /** st6 (shared transform): per-document decontamination flag against a
    * BROADCAST benchmark-shingle inventory — the streaming face of d9,
    * the filter an always-on ingest pipeline runs so leaked eval data
    * never reaches the training corpus in the first place (d9's batch
    * sweep is the retroactive audit; this is the gatekeeper).
    *
    * The scale-critical choice is the SPELLING: d9's batch plan
    * (explode shingles → join inventory → re-aggregate per doc) would
    * be a stateful streaming aggregation — per-doc state in the state
    * store until watermark close, results dribbling out in update mode.
    * Instead the overlap count is a pure per-row projection: one
    * codegen'd hash probe per distinct shingle against the broadcast
    * set ([[graft.functions.CountInSpanSet]]), so the stream plan is
    * STATELESS — append mode, no watermark, no shuffle, each doc
    * emitted the moment it arrives, state size zero regardless of
    * stream length. Same transform, batch or stream (the gate runs it
    * batch; StreamsSpec drives a MemoryStream through it). */
  def decontaminateFlag(docs: DataFrame,
      inv: org.apache.spark.broadcast.Broadcast[graft.functions.SpanSet])
      : DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val nShared = org.apache.spark.sql.graftbridge.GraftColumns.column(
      graft.functions.CountInSpanSet(
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("shset"),
        inv))
    docs
      .withColumn("norm", TextOps.normText(col("text")))
      .withColumn("toks", expr(TextOps.toksExpr))
      .withColumn("shset",
        expr(s"array_distinct(word_shingles(toks, ${Dedup.D9ShingleW}))"))
      .withColumn("n_shared", nShared.cast("long"))
      .select(col("doc_id"), col("n_shared"),
        (col("n_shared") >= Dedup.D9MinShared).as("contaminated"))
  }

  def st6Query(s: SparkSession, dir: String): DataFrame =
    decontaminateFlag(Tables.documents(s, dir), Dedup.d9InventoryFor(s, dir))
      .orderBy("doc_id")

  /** st7 per-key admission quota: the first [[St7Cap]] events of each
    * type are admitted, the rest flagged. */
  val St7Cap = 50

  case class CapEvt(event_id: Long, tus: Long, event_type: String)
  case class CapState(seen: Long)
  case class CapOut(event_id: Long, event_type: String, rank: Long,
      admitted: Boolean)

  /** st7 (streaming spelling): stateful per-key ADMISSION QUOTA — the
    * rate-limiting/ingest-cap primitive of a live training-data intake
    * (c3 is its batch cousin at curation altitude): each key's state is
    * ONE counter, each event gets its arrival rank and an admitted
    * flag. First-come-first-served BY ARRIVAL (the only meaning of
    * "first N" a stream can offer under out-of-order delivery; within
    * a batch, ties are ordered by event time then id). The batch
    * formulation ([[capBatch]]) is the deterministic EVENT-TIME
    * spelling the gate pins; under in-order feeds the two agree
    * (spec-asserted parity across multiple triggers).
    *
    * Scale shape: one hash shuffle on the key; state is O(keys) × 16
    * bytes with NO growth in events — a fixed source/type catalog
    * needs no eviction (unlike st3/st4, whose keys are unbounded
    * users/hashes: for an unbounded key universe, compose an
    * EventTimeTimeout like st3's to forget idle keys, trading quota
    * amnesia for bounded state the same way st4 trades re-emission). */
  def capStream(events: Dataset[CapEvt], cap: Int = St7Cap)
      : Dataset[CapOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[CapState, CapOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, evts: Iterator[CapEvt], state: GroupState[CapState]) =>
          val sorted = evts.toSeq.sortBy(e => (e.tus, e.event_id))
          var n = state.getOption.map(_.seen).getOrElse(0L)
          val out = sorted.map { e =>
            n += 1
            CapOut(e.event_id, key, n, n <= cap)
          }
          state.update(CapState(n))
          out.iterator
      }
  }

  /** st7 (batch formulation): the same quota as one window pass —
    * row_number per key over (event time, id). WindowGroupLimit does
    * NOT apply (every row is kept, flagged); the plan is one hash
    * shuffle + per-key sort, linear. */
  def capBatch(events: DataFrame, cap: Int = St7Cap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("tus", "event_id")
    events
      .withColumn("tus", unix_micros(col("ts")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("event_id"), col("event_type"), col("rank"),
        (col("rank") <= cap).as("admitted"))
  }

  def st7Query(s: SparkSession, dir: String): DataFrame =
    capBatch(Tables.events(s, dir)).orderBy("event_id")

  case class FunEvt(user_id: Long, tus: Long, event_type: String)
  /** -1 = not seen yet; otherwise the minimum event-time micros seen
    * so far for that funnel type. */
  case class FunState(tView: Long, tClick: Long, tPurchase: Long)
  case class FunOut(user_id: Long, stage: Int)

  /** Stage from first-occurrence times — q32's inclusive ordering rule,
    * shared by the streaming state and the batch spelling. */
  private def stageOf(v: Long, c: Long, p: Long): Int =
    if (v < 0) 0
    else if (c < 0 || c < v) 1
    else if (p < 0 || p < c) 2
    else 3

  /** st8 (streaming spelling): per-user FUNNEL PROGRESSION — the live
    * counterpart of q32's batch funnel: each user's state is the MIN
    * event-time seen so far per funnel type (three longs), and every
    * trigger emits the user's current stage. Because min is
    * associative/commutative, the final state is arrival-order
    * INDEPENDENT — a late-arriving early view converges the stage to
    * exactly the batch truth (spec feeds an out-of-order stream and
    * asserts it); mid-stream emissions are running estimates that may
    * move DOWN under disorder (an earlier view can break an already-
    * satisfied view≤click ordering), which is the honest semantics of
    * "funnel so far" — only the converged value is contractual.
    *
    * Scale shape: one hash shuffle on user_id; state is O(users) × 24
    * bytes with no growth in events; for an unbounded user universe
    * compose st3's EventTimeTimeout eviction (same trade as st7). */
  def funnelStream(events: Dataset[FunEvt]): Dataset[FunOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunState, FunOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, evts: Iterator[FunEvt], state: GroupState[FunState]) =>
          var st = state.getOption.getOrElse(FunState(-1L, -1L, -1L))
          evts.foreach { e =>
            def m(cur: Long) = if (cur < 0 || e.tus < cur) e.tus else cur
            e.event_type match {
              case "view" => st = st.copy(tView = m(st.tView))
              case "click" => st = st.copy(tClick = m(st.tClick))
              case "purchase" => st = st.copy(tPurchase = m(st.tPurchase))
              case _ => ()
            }
          }
          state.update(st)
          Iterator.single(
            FunOut(uid, stageOf(st.tView, st.tClick, st.tPurchase)))
      }
  }

  /** st8 (batch formulation, the gate spelling): per-user first-
    * occurrence times + attained stage — q32's per-user detail before
    * its global 3-row aggregation. One combinable keyed shuffle. */
  def funnelBatch(events: DataFrame): DataFrame = {
    def firstOf(t: String) =
      min(when(col("event_type") === t, col("tus"))).as(s"t_$t")
    events
      .withColumn("tus", unix_micros(col("ts")))
      .groupBy("user_id")
      .agg(firstOf("view"), firstOf("click"), firstOf("purchase"))
      .select(col("user_id"), col("t_view"), col("t_click"),
        col("t_purchase"),
        when(col("t_view").isNull, 0)
          .when(col("t_click").isNull || col("t_click") < col("t_view"), 1)
          .when(col("t_purchase").isNull ||
            col("t_purchase") < col("t_click"), 2)
          .otherwise(3).as("stage"))
  }

  def st8Query(s: SparkSession, dir: String): DataFrame =
    funnelBatch(Tables.events(s, dir)).orderBy("user_id")

  // ------------------------------------------------------------- st15

  case class PackDoc(doc_id: Long, tok: Long)
  /** `filled` = tokens consumed in the shard so far (the running
    * cumsum); `openDocs` = manifest pieces already landed in the
    * still-open sequence. */
  case class PackState(filled: Long, openDocs: Long)
  case class PackSeqOut(shard: Int, seq_id: Long, n_docs: Long,
      n_tokens: Long)

  /** st15 (streaming spelling): LIVE SEQUENCE PACKING — t19's
    * concat-and-chunk packer over a document ingest stream, emitting a
    * sequence's summary row the MOMENT it fills (the trigger a
    * tokenizer-writer job tails: every emitted row is a ready-to-write,
    * exactly-full training sequence; the still-open tail sequence per
    * shard is never emitted, so append mode is exact — no row is ever
    * revised). State per shard is TWO LONGS (running token cumsum +
    * pieces in the open sequence) regardless of stream length — packing
    * is a prefix sum, and a prefix sum's streaming state is just the
    * prefix.
    *
    * Ordering contract (the st7 arrival-rank trade): the stream packs
    * in ARRIVAL order per shard (within a trigger, ties sort by
    * doc_id — the only total order a stream can offer); the batch
    * formulation ([[st15Query]]) is the deterministic doc_id-order
    * spelling the gate pins, and under in-id-order feeds the two agree
    * exactly (StreamsSpec drives multiple triggers and asserts parity
    * plus no-re-emission). Scale shape: one hash shuffle on the shard
    * key, O(shards) state, emission volume = closed sequences. */
  def packStream(docs: Dataset[PackDoc],
      seqLen: Int = TextAnalysis.T19SeqLen): Dataset[PackSeqOut] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(d => (d.doc_id % TextAnalysis.T19Shards).toInt)
      .flatMapGroupsWithState[PackState, PackSeqOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: Int, ds: Iterator[PackDoc], state: GroupState[PackState]) =>
          val sorted = ds.toSeq.sortBy(_.doc_id)
          var st = state.getOption.getOrElse(PackState(0L, 0L))
          val out = scala.collection.mutable.ListBuffer.empty[PackSeqOut]
          for (d <- sorted if d.tok > 0) {
            var remaining = d.tok
            while (remaining > 0) {
              // one loop pass = one manifest piece of this doc
              val room = seqLen - (st.filled % seqLen)
              val take = math.min(room, remaining)
              st = PackState(st.filled + take, st.openDocs + 1)
              remaining -= take
              if (st.filled % seqLen == 0) {
                out += PackSeqOut(shard, st.filled / seqLen - 1,
                  st.openDocs, seqLen.toLong)
                st = st.copy(openDocs = 0L)
              }
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** st15 (batch formulation, the gate spelling): the CLOSED sequences
    * of t19's manifest — exactly-full ones; each shard's under-full
    * tail is the still-open sequence the stream hasn't emitted. One
    * combinable aggregation over the manifest. */
  def st15Query(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.t19SeqPack(s, dir)
      .groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum("tok_len").as("n_tokens"))
      .filter(col("n_tokens") === TextAnalysis.T19SeqLen.toLong)
      .orderBy("shard", "seq_id")

  // ------------------------------------------------------------- st12

  /** One event of the st12 enrichment feed: `d` is the ISO lookup
    * date, derived deterministically from the id (the c21 discipline —
    * the corpus's real timestamps predate the SCD2 epoch). */
  case class PitEvt(event_id: Long, user_id: Long, d: String)

  /** st12 (streaming spelling): STREAM-STATIC point-in-time
    * enrichment — the online face of c21's batch lookup, and the ONE
    * Structured Streaming join mode the family didn't yet exercise
    * (st5 is stream-stream interval; st6 is a broadcast-artifact
    * probe): each arriving event joins the STATIC SCD2 history on the
    * business key, with the validity interval as a residual — the
    * online feature-store read, leakage-free because the version is
    * picked by the event's own date, never "current".
    *
    * STATELESS BY CONSTRUCTION: a stream-static inner join keeps no
    * state store (the static side is re-read per micro-batch; no
    * watermark, no buffering — the spec asserts `stateOperators` is
    * empty), so micro-batch boundaries are provably irrelevant: each
    * event's output row depends on that event alone. Append-mode,
    * O(1) per event, unbounded-stream safe.
    *
    * Scale shape: the static side is the partitioned SCD2 lake table;
    * Spark plans the per-batch join as a broadcast when the history
    * fits and a shuffle otherwise — same contract as c21. */
  def pitEnrichStream(events: Dataset[PitEvt], hist: DataFrame): DataFrame =
    events.toDF().join(hist,
        col("user_id") === col("c_custkey") &&
          col("valid_from") <= col("d") && col("d") < col("valid_to"))
      .select(col("event_id"), col("user_id"), col("d"),
        col("c_mktsegment"), col("bal_cents"), col("valid_from"))

  /** st12 gate entry (batch formulation — identical DataFrame logic
    * over the batch events table; the spec proves the MemoryStream
    * spelling emits the same rows): events enriched with the customer
    * version current at their derived date, folded to the
    * segment×version audit (the c21 shape: count + two order-free
    * integer sums, each sensitive to any misassigned event). */
  def st12Query(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select(
      col("event_id"), col("user_id"),
      date_add(to_date(lit(graft.operators.Curation.C17Date0)),
        (col("event_id") % 365).cast("int")).cast("string").as("d"))
    import ev.sparkSession.implicits._
    pitEnrichStream(ev.as[PitEvt],
        graft.operators.Curation.c17History(s, dir))
      .groupBy(col("c_mktsegment"), col("valid_from"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("bal_cents")).as("sum_bal_cents"),
        sum(col("event_id")).as("sum_event_id"))
      .orderBy("c_mktsegment", "valid_from")
  }

  /** Durable stream→parquet sink: exactly-once via checkpointed file
    * sink; `Trigger.AvailableNow` drains whatever the source currently
    * has and stops, so scheduled micro-batch ingestion (the
    * tweepy_stream.py → dump-file pattern) and always-on streaming share
    * one code path. Returns once the drain completes. */
  def toParquet(df: DataFrame, path: String, checkpoint: String): Unit =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Durable stream→parquet sink with key-level dedup: every micro-batch
    * goes through the append-once anti-join (graft.sources.Sources), so
    * the sink is idempotent under BOTH re-delivered batches (checkpoint
    * replay) and re-sent keys inside new batches — the
    * csv_to_sqlite "read-once" semantics (airflow/dags/
    * twitter_airflow.py:69-107) as an exactly-once streaming sink. */
  def toParquetDedup(df: DataFrame, path: String, checkpoint: String,
                     key: String): Unit =
    df.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sources.Sources.appendOnce(
          batch.sparkSession, batch.toDF(), path, key)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** st11 gate (batch spelling): the confirmed-duplicate feed of the
    * d11 staged increment against the persisted signature index —
    * [[graft.operators.Dedup.st11AdmitFeed]] with the presentation
    * sort. The streaming spelling is [[st11AdmitStream]]; StreamsSpec
    * proves micro-batched admission ≡ this batch feed row for row. */
  def st11Query(s: SparkSession, dir: String): DataFrame =
    graft.Artifacts.scoped(s, "streams.st11")(sc =>
      Dedup.st11AdmitFeed(sc, dir,
        Tables.parquet(s, Dedup.d11IncrementPath(s, dir)))
        .orderBy("doc_id", "dup_of"))

  /** st11 (streaming spelling): the always-on ingest admission gate —
    * each micro-batch of arriving docs is screened against the
    * PERSISTED index via [[graft.operators.Dedup.st11AdmitFeed]] (two
    * stream-static probes, zero streaming state — the feed is
    * append-only by construction) and appended to the sink. The lake
    * writer consumes the feed as an anti-join at merge time. */
  def st11AdmitStream(s: SparkSession, dir: String,
      docs: DataFrame, sinkPath: String, checkpoint: String): Unit =
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.Artifacts.scoped(batch.sparkSession, "streams.st11Batch")(sc =>
          Dedup.st11AdmitFeed(sc, dir, batch.toDF())
            .write.mode("append").parquet(sinkPath))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** Batch entries for the oracle gate (same transforms, batch input). */
  def st1Query(s: SparkSession, dir: String): DataFrame =
    wordCounts(Tables.documents(s, dir).select(col("text").as("value")))
      .orderBy("word")

  def st2Query(s: SparkSession, dir: String): DataFrame =
    windowedAgg(Tables.events(s, dir))
      .orderBy("bucket_start", "event_type")

  def st3Query(s: SparkSession, dir: String): DataFrame =
    sessionizeBatch(Tables.events(s, dir))

  def st5Query(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    intervalJoin(e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "purchase"))
      .orderBy("user_id", "view_id", "purchase_id")
  }

  // ----------------------------------------- st10: streaming CDC apply

  /** Hash-partition count of the st10 CDC-maintained table. */
  val St10Parts = 16
  /** Deterministic CDC generations over `documents` (absolute rules —
    * shared with the oracle): gen 1 revises every 3rd doc, gen 2
    * deletes every 4th, gen 3 revises every 6th (overriding gen 2's
    * delete where both hit — the last-writer-wins case; every 12th doc
    * is touched by all three generations). */
  val St10UpdMod1 = 3
  val St10DelMod = 4
  val St10UpdMod2 = 6

  case class CdcEvt(seq: Long, op: String, doc_id: Long, text: String)

  private def st10Table(s: SparkSession, dir: String): String =
    s"graft_docs_cdc_${Tables.fingerprint(s, dir, "documents")}"

  private def st10EnsureBase(s: SparkSession, dir: String): String =
    graft.sources.Sources.ensureStagedPartitioned(
      s, st10Table(s, dir), "pt",
      Tables.documents(s, dir).select(col("doc_id"), col("text"))
        .withColumn("pt", pmod(col("doc_id"), lit(St10Parts))))

  /** The three-generation CDC log as one frame (seq, op, doc_id,
    * text) — the change feed a Debezium/Kafka topic would carry. */
  def st10CdcLog(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    docs.filter(col("doc_id") % St10UpdMod1 === 0)
      .select(lit(1L).as("seq"), lit("upsert").as("op"), col("doc_id"),
        concat(col("text"), lit(" [r1]")).as("text"))
      .unionByName(docs.filter(col("doc_id") % St10DelMod === 0)
        .select(lit(2L).as("seq"), lit("delete").as("op"), col("doc_id"),
          lit(null).cast("string").as("text")))
      .unionByName(docs.filter(col("doc_id") % St10UpdMod2 === 0)
        .select(lit(3L).as("seq"), lit("upsert").as("op"), col("doc_id"),
          concat(col("text"), lit(" [r3]")).as("text")))
  }

  /** Apply one CDC batch to the partitioned table: LAST-WRITER-WINS
    * compaction first (a key changed five times in one batch lands
    * ONE merge row — `max(struct(seq, …))` per key, one
    * map-side-combinable aggregate; seqs are unique per key so the
    * struct max is the latest op), then one
    * [[graft.sources.Sources.mergeIntoPartitioned]] — upserts replace,
    * deletes anti-join out, and only partitions containing touched
    * keys are rewritten. Cross-batch ordering is the transport's
    * contract (a PK-keyed Kafka topic delivers per-key in commit
    * order — the standard Debezium deployment); within that contract
    * the apply is deterministic whatever the micro-batch boundaries,
    * which is exactly what [[st10ApplyStream]]'s spec proves. */
  /** LAST-WRITER-WINS compaction: one row per key group carrying the
    * highest-seq op — seqs are unique per key, so `max(struct(seq,…))`
    * IS the latest, in one map-side-combinable aggregate. Shared by
    * the materialized apply (st10) and the as-of reconstruction (c19)
    * so the tie-break contract can never diverge between them. */
  private def lwwLatest(log: DataFrame, keys: String*): DataFrame =
    log.groupBy(keys.map(col): _*)
      .agg(max(struct(col("seq"), col("op"), col("text"))).as("m"))
      .select(keys.map(col) ++
        Seq(col("m.op").as("op"), col("m.text").as("text")): _*)

  def st10ApplyBatch(s: SparkSession, table: String, log: DataFrame): Unit =
    graft.Artifacts.scoped(s, "streams.st10") { sc =>
      // compacted batch is changeset-sized; evaluate the log scan + LWW
      // aggregate ONCE — the upsert and delete sides are filters over
      // it, not two re-derivations of it
      val latest = sc.cut(lwwLatest(log, "doc_id")
        .withColumn("pt", pmod(col("doc_id"), lit(St10Parts))))
      graft.sources.Sources.mergeIntoPartitioned(
        s, table, "pt", "doc_id",
        latest.filter(col("op") === "upsert").select("doc_id", "text", "pt"),
        latest.filter(col("op") === "delete").select("doc_id", "pt"),
        // `latest` is ALREADY checkpointed above — the merge's own
        // checkpoint materialized the upsert rows a second time per
        // batch (r17 advice #2); filters over cached blocks re-derive
        // for free (r18 A/B: flat wall, strictly less pinned storage)
        materializeUpserts = false)
    }

  /** st10 (streaming spelling): the change feed applied continuously —
    * each micro-batch LWW-compacts and merges via foreachBatch, the
    * production streaming-CDC sink (Delta's `MERGE` in foreachBatch,
    * over plain parquet). State size zero: compaction is within-batch,
    * the table itself is the state. */
  def st10ApplyStream(log: Dataset[CdcEvt], table: String,
      checkpoint: String): Unit =
    log.writeStream
      .foreachBatch { (batch: Dataset[CdcEvt], _: Long) =>
        st10ApplyBatch(batch.sparkSession, table, batch.toDF())
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** st10 gate (batch spelling): stage the base table pay-once, apply
    * the WHOLE three-generation log in one batch (LWW compaction
    * collapses each key to its final op — bit-identical to the
    * generation-per-trigger streaming apply, StreamsSpec proves it),
    * return the table's content audit. The changeset is absolute, so
    * every bench call re-applies the same merge (medians measure the
    * CDC apply) and re-running is idempotent. */
  def st10Query(s: SparkSession, dir: String): DataFrame = {
    val t = st10EnsureBase(s, dir)
    st10ApplyBatch(s, t, st10CdcLog(s, dir))
    s.table(t).select(col("doc_id"), md5(col("text")).as("h"))
      .orderBy("doc_id")
  }

  /** c19: TIME-TRAVEL read — the lakehouse `AS OF` query (Delta
    * `VERSION AS OF` / Iceberg snapshot read), reconstructed from a
    * base snapshot plus the CDC changelog WITHOUT materializing any
    * intermediate table: for every as-of point, the log is cut at
    * `seq <= as_of`, LWW-compacted per key (the st10 aggregate), and
    * folded over the base (anti-join touched keys, union the cut's
    * upserts). All three as-of states are produced in ONE pass — the
    * as-of axis joins as a 3-row broadcast (BroadcastNestedLoop on
    * `seq <= as_of`, a 3× multiplier on the LOG, never on the
    * corpus), so reconstructing N versions costs N× the changelog
    * plus one corpus scan per version — at 100 TB the changelog is
    * the small side by orders of magnitude, which is exactly why
    * production lakes store base+delta instead of N snapshots.
    * Output: (as_of, doc_id, content hash) — every row of every
    * version, hash-verified cross-engine. */
  def c19TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val asofs = Seq(1L, 2L, 3L).toDF("as_of")
    val base = Tables.documents(s, dir).select("doc_id", "text")
    val cut = lwwLatest(
      st10CdcLog(s, dir).join(broadcast(asofs), col("seq") <= col("as_of")),
      "as_of", "doc_id")
    val untouched = base.crossJoin(broadcast(asofs))
      .join(cut.select("as_of", "doc_id"), Seq("as_of", "doc_id"),
        "left_anti")
    val states = untouched.select(col("as_of"), col("doc_id"), col("text"))
      .unionByName(cut.filter(col("op") === "upsert")
        .select(col("as_of"), col("doc_id"), col("text")))
    states.select(col("as_of"), col("doc_id"), md5(col("text")).as("h"))
      .orderBy("as_of", "doc_id")
  }

  val oracle: Map[String, String] = Map(
    // the closed sequences of t19's manifest, derived from the SHARED
    // t19 CTE text (the two oracles cannot drift on what the packing
    // is); exactly-full ⟺ closed — each shard's under-full tail is
    // the stream's still-open sequence
    "st15_stream_pack" ->
      s"""WITH ${graft.operators.TextAnalysis.t19ManifestCtes}
         |SELECT shard, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tok_len) AS BIGINT) AS n_tokens
         |FROM t19m GROUP BY shard, seq_id
         |HAVING sum(tok_len) = ${graft.operators.TextAnalysis.T19SeqLen}
         |ORDER BY shard, seq_id""".stripMargin,
    // the maintained-counter read must equal q52's direct scan —
    // SAME oracle text: the decayed score is a function of the
    // (day, item) counts alone, which is what the state maintains
    "st14_stream_trend" ->
      graft.operators.Relational.oracle("q52_decay_trend"),
    // the index rebuilt at content level + the derived increment
    // screened against it, in SQL (Dedup.sqlSt11FeedOracle)
    "st11_stream_admission" -> Dedup.sqlSt11FeedOracle,
    // each version recomputed directly: at as_of=1 only gen 1's
    // revisions; at 2 gen 2's deletes apply; at 3 gen 3 wins back
    "c19_time_travel" ->
      s"""SELECT CAST(1 AS BIGINT) AS as_of, doc_id, md5(CASE
         |    WHEN doc_id % $St10UpdMod1 = 0 THEN text || ' [r1]'
         |    ELSE text END) AS h
         |FROM documents
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), doc_id, md5(CASE
         |    WHEN doc_id % $St10UpdMod1 = 0 THEN text || ' [r1]'
         |    ELSE text END)
         |FROM documents WHERE doc_id % $St10DelMod <> 0
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), doc_id, md5(CASE
         |    WHEN doc_id % $St10UpdMod2 = 0 THEN text || ' [r3]'
         |    WHEN doc_id % $St10UpdMod1 = 0 THEN text || ' [r1]'
         |    ELSE text END)
         |FROM documents
         |WHERE doc_id % $St10DelMod <> 0 OR doc_id % $St10UpdMod2 = 0
         |ORDER BY as_of, doc_id""".stripMargin,
    // the CDC-maintained table must equal the log's net effect: gen 3
    // revision wins where it hit, else gen 2 delete, else gen 1
    // revision, else the base row
    "st10_stream_cdc" ->
      s"""SELECT doc_id, md5(CASE
         |    WHEN doc_id % $St10UpdMod2 = 0 THEN text || ' [r3]'
         |    WHEN doc_id % $St10UpdMod1 = 0 THEN text || ' [r1]'
         |    ELSE text END) AS h
         |FROM documents
         |WHERE doc_id % $St10DelMod <> 0 OR doc_id % $St10UpdMod2 = 0
         |ORDER BY doc_id""".stripMargin,
    "st1_stream_wordcount" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
        |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin,
    "st2_windowed_agg" ->
      s"""SELECT CAST(epoch(time_bucket(INTERVAL '6 hours', ts)) AS BIGINT)
         |    AS bucket_start,
         |  event_type, CAST(count(*) AS BIGINT) AS cnt,
         |  ${Exact.sqlDsum("value")} AS sum_value
         |FROM events GROUP BY 1, 2
         |ORDER BY bucket_start, event_type""".stripMargin,
    // the join predicate compares epoch_us (not the raw stored type) so
    // the oracle's boundary precision matches the Spark side EXPLICITLY —
    // Tables.events normalizes either corpus generation to micros, and a
    // legacy corpus with sub-microsecond components would otherwise
    // diverge at the >=/<= edges (st3's oracle normalizes the same way)
    "st5_stream_join" ->
      """SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
        |  epoch_us(p.ts) - epoch_us(v.ts) AS gap_us
        |FROM events v JOIN events p ON v.user_id = p.user_id
        |  AND v.event_type = 'view' AND p.event_type = 'purchase'
        |  AND epoch_us(p.ts) >= epoch_us(v.ts)
        |  AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
        |ORDER BY v.user_id, view_id, purchase_id""".stripMargin,
    "st3_sessionize" ->
      s"""WITH x AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
         |y AS (
         |  SELECT user_id, tus, event_id,
         |    CASE WHEN lag(tus) OVER w IS NULL
         |           OR tus - lag(tus) OVER w > $SessionGapUs
         |      THEN 1 ELSE 0 END AS new_sess
         |  FROM x
         |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
         |z AS (
         |  SELECT user_id,
         |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY tus, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM y),
         |per_sess AS (
         |  SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events
         |  FROM z GROUP BY user_id, session_id)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
         |  max(n_events) AS max_session_events,
         |  CAST(sum(n_events) AS BIGINT) AS total_events
         |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    // inventory = the staged suite's distinct 8-gram shingles, derived
    // from `documents`' bench sample bucket exactly like the d9_xt
    // oracle; every doc kept with its overlap count (LEFT JOIN) — the
    // keep-all/flag spelling of d9's drop-list
    "st6_stream_decontaminate" ->
      s"""${TextOps.sqlShingleCte},
         |s6sets AS (
         |  SELECT doc_id,
         |    list_distinct(${TextOps.sqlShinglesW(Dedup.D9ShingleW)}) AS shset8
         |  FROM tok_t),
         |s6bench AS (
         |  SELECT DISTINCT unnest(shset8) AS shingle FROM s6sets
         |  WHERE ${TextAnalysis.sqlSampleBucket("doc_id")} < ${Dedup.D9BenchPct}),
         |s6tr AS (
         |  SELECT doc_id, unnest(shset8) AS shingle FROM s6sets),
         |s6ov AS (
         |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |  FROM s6tr t JOIN s6bench b ON t.shingle = b.shingle
         |  GROUP BY t.doc_id)
         |SELECT d.doc_id, COALESCE(o.n_shared, 0) AS n_shared,
         |  COALESCE(o.n_shared, 0) >= ${Dedup.D9MinShared} AS contaminated
         |FROM documents d LEFT JOIN s6ov o ON d.doc_id = o.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    // the SHARED register/estimate oracle builder keyed by time_bucket
    // + event_type — one spelling with q40/q44, so sketch-math changes
    // land in every oracle at once
    // the same clamp/floor bucketing and integer nearest-rank rule
    "st13_stream_quantiles" ->
      s"""WITH h AS (
         |  SELECT CAST(epoch(time_bucket(INTERVAL '6 hours', ts)) AS BIGINT)
         |      AS bucket_start,
         |    event_type,
         |    least(${St13Buckets - 1}, greatest(0,
         |      CAST(floor(value) AS INTEGER))) AS vb,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM events GROUP BY 1, 2, 3),
         |cq AS (
         |  SELECT bucket_start, event_type, vb, c,
         |    sum(c) OVER (PARTITION BY bucket_start, event_type
         |      ORDER BY vb ROWS UNBOUNDED PRECEDING) AS cum,
         |    sum(c) OVER (PARTITION BY bucket_start, event_type) AS n
         |  FROM h)
         |SELECT bucket_start, event_type,
         |  CAST(max(n) AS BIGINT) AS n_events,
         |  CAST(min(CASE WHEN cum * 100 >= n * 50 THEN vb END)
         |    AS INTEGER) AS p50_b,
         |  CAST(min(CASE WHEN cum * 100 >= n * 90 THEN vb END)
         |    AS INTEGER) AS p90_b,
         |  CAST(min(CASE WHEN cum * 100 >= n * 99 THEN vb END)
         |    AS INTEGER) AS p99_b
         |FROM cq GROUP BY bucket_start, event_type
         |ORDER BY bucket_start, event_type""".stripMargin,
    "st9_stream_hll" -> graft.operators.Relational.hllOracleSqlKeyed(
      Seq("bucket_start", "event_type"),
      "SELECT CAST(epoch(time_bucket(INTERVAL '6 hours', ts)) AS BIGINT)\n" +
        "      AS bucket_start,\n" +
        s"    event_type, ${graft.operators.Relational.sqlHash32("user_id")} AS h\n" +
        "  FROM events",
      withMerge = false),
    // same (event time, id) rank per key as capBatch; epoch_us mirrors
    // unix_micros under the UTC session (st3/st5 normalize identically)
    "st7_stream_cap" ->
      s"""WITH r AS (
         |  SELECT event_id, event_type,
         |    CAST(row_number() OVER (PARTITION BY event_type
         |      ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rank
         |  FROM events)
         |SELECT event_id, event_type, rank, rank <= $St7Cap AS admitted
         |FROM r ORDER BY event_id""".stripMargin,
    // same per-user first-occurrence pivot in epoch micros, same
    // inclusive stage rule as q32's guards
    "st8_stream_funnel" ->
      """SELECT user_id, t_view, t_click, t_purchase,
        |  CAST(CASE
        |    WHEN t_view IS NULL THEN 0
        |    WHEN t_click IS NULL OR t_click < t_view THEN 1
        |    WHEN t_purchase IS NULL OR t_purchase < t_click THEN 2
        |    ELSE 3 END AS INTEGER) AS stage
        |FROM (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
        |      AS t_view,
        |    min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
        |      AS t_click,
        |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
        |      AS t_purchase
        |  FROM events GROUP BY user_id) f
        |ORDER BY user_id""".stripMargin,
    // c21's derived history, probed by events at their derived dates —
    // misassigning any event to the wrong version shifts the sums
    "st12_stream_pit" -> {
      import graft.operators.Curation.{C17Date0, C17Date1, C17HighDate,
        C17ChangeMod, C17DeltaCents}
      s"""WITH hist AS (
         |  SELECT c_custkey, c_mktsegment,
         |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) AS bal_cents,
         |    '$C17Date0' AS valid_from, '$C17HighDate' AS valid_to
         |  FROM customer WHERE c_custkey % $C17ChangeMod <> 0
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment,
         |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT),
         |    '$C17Date0', '$C17Date1'
         |  FROM customer WHERE c_custkey % $C17ChangeMod = 0
         |  UNION ALL
         |  SELECT c_custkey, c_mktsegment,
         |    CAST(floor(c_acctbal * 100.0 + 0.5) AS BIGINT) + $C17DeltaCents,
         |    '$C17Date1', '$C17HighDate'
         |  FROM customer WHERE c_custkey % $C17ChangeMod = 0),
         |ev AS (
         |  SELECT event_id, user_id,
         |    CAST(DATE '$C17Date0'
         |      + CAST(event_id % 365 AS INTEGER) AS VARCHAR) AS d
         |  FROM events)
         |SELECT c_mktsegment, valid_from,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(bal_cents) AS BIGINT) AS sum_bal_cents,
         |  CAST(sum(event_id) AS BIGINT) AS sum_event_id
         |FROM ev JOIN hist ON user_id = c_custkey
         |  AND valid_from <= d AND d < valid_to
         |GROUP BY c_mktsegment, valid_from
         |ORDER BY c_mktsegment, valid_from""".stripMargin
    },
  )

  /** st9 (shared transform): HLL REGISTERS per (6h window, event type)
    * — q40's sketch made streaming-native. The register table IS the
    * streaming state and output: a single windowed max-aggregation
    * (watermark upstream, like st2), whose state is bounded at
    * windows × types × [[graft.operators.Relational.HllM]] longs no
    * matter how many events arrive — max is monotone, so late data
    * within the watermark only raises registers, never rewrites
    * history. Spark does not allow a second streaming aggregation
    * downstream, and production does not want one: the ESTIMATE is a
    * stateless serving-layer read over the register snapshot
    * ([[hllWindowedEstimate]]) — exactly how sketch dashboards
    * (Druid/ClickHouse HLL columns) split write and read paths. */
  def hllWindowedRegisters(events: DataFrame): DataFrame = {
    import graft.operators.Relational
    val wb = Relational.HllWBits
    events
      .select(window(col("ts"), "6 hours").as("win"), col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT)").as("h"))
      .select(col("win"), col("event_type"),
        expr(s"h div ${1L << wb}").as("idx"),
        expr(s"h % ${1L << wb}").as("wpat"))
      .groupBy(col("win"), col("event_type"), col("idx"))
      .agg(max(expr(s"CASE WHEN wpat = 0 THEN ${wb + 1} " +
        s"ELSE ${wb + 1} - length(bin(wpat)) END")).as("r"))
  }

  /** The stateless estimate read over a register table — the SHARED
    * integer-only tail ([[graft.operators.Relational.hllEstimateFromRegs]]),
    * keyed by window start. */
  def hllWindowedEstimate(regs: DataFrame): DataFrame =
    graft.operators.Relational.hllEstimateFromRegs(
      regs.select(col("win.start").cast("long").as("bucket_start"),
        col("event_type"), col("idx"), col("r")),
      Seq("bucket_start", "event_type"))

  def st9Query(s: SparkSession, dir: String): DataFrame =
    hllWindowedEstimate(hllWindowedRegisters(Tables.events(s, dir)))
      .orderBy("bucket_start", "event_type")

  // ------------------------------------------------------------- st13

  /** st13 histogram width: unit-value buckets, clamped to
    * [0, St13Buckets) — state is bounded at windows × types ×
    * [[St13Buckets]] counters no matter how many events arrive.
    * `final` with a literal = a compile-time constant, so the oracle
    * map (initialized EARLIER in this object body) interpolates 512,
    * not the un-initialized 0 a plain val yields mid-construction. */
  final val St13Buckets = 512

  /** st13 (streaming state): per-(6h window, event type) VALUE
    * HISTOGRAM — the st9 write/read split applied to quantiles: the
    * bucket-count table IS the bounded streaming state (one windowed
    * additive aggregation; late in-watermark data only increments
    * counters, micro-batch boundaries are provably irrelevant), and
    * the QUANTILE is a stateless serving-layer read over the
    * histogram snapshot — exactly how production latency monitoring
    * works (Prometheus histogram_quantile over bucket counters;
    * Spark forbids the second streaming agg anyway, and nobody wants
    * it). Bucketing is `clamp(floor(value), 0, B-1)` — floor of a
    * double is the same IEEE op in both engines. */
  def valueHistogram(events: DataFrame): DataFrame =
    events
      .select(window(col("ts"), "6 hours").as("win"), col("event_type"),
        least(lit(St13Buckets - 1),
          greatest(lit(0), floor(col("value")).cast("int"))).as("vb"))
      .groupBy(col("win"), col("event_type"), col("vb"))
      .agg(count(lit(1)).as("c"))

  /** The stateless quantile read: integer NEAREST-RANK over the
    * bucketed values (q33's histogram discipline — the rank is found
    * on the collapsed histogram, never a raw-event sort). For q%,
    * p_q = min bucket with cum·100 ≥ q·n — for integer cum this IS
    * cum ≥ ceil(q·n/100), the nearest-rank rule, in pure integer
    * arithmetic. The answer is the bucket lower bound: a
    * bucket-width-bounded estimate (ε = 1.0 value units here), the
    * histogram-quantile contract. */
  def quantilesFromHistogram(hist: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = Seq(col("bucket_start"), col("event_type"))
    val cumW = Window.partitionBy(key: _*).orderBy(col("vb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.partitionBy(key: _*)
    hist
      .withColumn("cum", sum("c").over(cumW))
      .withColumn("n", sum("c").over(totW))
      .groupBy(key: _*)
      .agg(max("n").as("n_events"),
        min(when(col("cum") * 100 >= col("n") * 50, col("vb"))).as("p50_b"),
        min(when(col("cum") * 100 >= col("n") * 90, col("vb"))).as("p90_b"),
        min(when(col("cum") * 100 >= col("n") * 99, col("vb"))).as("p99_b"))
  }

  /** st13 gate entry (batch formulation of the same DataFrame logic;
    * StreamsSpec proves the MemoryStream histogram is identical
    * across arbitrary trigger splits). */
  def st13Query(s: SparkSession, dir: String): DataFrame =
    quantilesFromHistogram(
      valueHistogram(Tables.events(s, dir))
        .select(col("win.start").cast("long").as("bucket_start"),
          col("event_type"), col("vb"), col("c")))
      .orderBy("bucket_start", "event_type")

  // ------------------------------------------------------------- st14

  /** st14 (streaming state): per-(day window, item) CLICK COUNTERS —
    * the maintained substrate of a trending surface: ONE windowed
    * additive aggregation (late in-watermark clicks only increment
    * counters, so micro-batch boundaries are provably irrelevant —
    * spec-split), state bounded at items × in-watermark days and
    * evicted by the watermark. */
  def clickDayCounts(events: DataFrame): DataFrame =
    events
      .filter(col("event_type") === "click")
      .select(window(col("ts"), "1 day").as("win"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("win"), col("item"))
      .agg(count(lit(1)).as("c"))

  /** The STATELESS trending read over the counter snapshot — q52's
    * exact power-of-two decay folded over day-bucketed counts instead
    * of raw clicks: identical result because the weight is a function
    * of the DAY alone (the st9/st13 write/read split — the stream
    * maintains ~items×horizon counters, the read costs counter-table
    * rows, and the gate hashes it against q52's direct-scan oracle).
    * Expects (day, item, c). */
  def trendFromCounts(counts: DataFrame): DataFrame = {
    val k = graft.operators.Relational.DecayHorizon
    val ref = counts.agg(max("day").as("ref_day"))
    counts.crossJoin(broadcast(ref))
      .withColumn("age", col("ref_day") - col("day"))
      .withColumn("w", when(col("age") < k, expr(
        s"shiftleft(CAST(1 AS BIGINT), CAST(${k - 1} - age AS INT))"))
        .otherwise(lit(0L)))
      .groupBy("item")
      .agg(sum(when(col("age") < k, col("c")).otherwise(0L))
          .as("n_window"),
        sum(col("c") * col("w")).as("decay_units"))
      .orderBy(col("decay_units").desc, col("item"))
      .limit(graft.operators.Relational.DecayTopK)
  }

  /** st14 gate entry (batch formulation of the same DataFrame logic —
    * tumbling 1-day windows align to epoch days under the UTC
    * session, so `win.start div 86400` IS q52's `unix_micros(ts) div
    * 86400e6` day index; StreamsSpec proves counter parity across
    * trigger splits). */
  def st14Query(s: SparkSession, dir: String): DataFrame =
    trendFromCounts(clickDayCounts(Tables.events(s, dir))
      .select(expr("CAST(win.start AS LONG) div 86400").as("day"),
        col("item"), col("c")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st9_stream_hll" -> st9Query,
    "st13_stream_quantiles" -> st13Query,
    "st14_stream_trend" -> st14Query,
    "st10_stream_cdc" -> st10Query,
    "st11_stream_admission" -> st11Query,
    "c19_time_travel" -> c19TimeTravel,
    "st1_stream_wordcount" -> st1Query,
    "st2_windowed_agg" -> st2Query,
    "st3_sessionize" -> st3Query,
    "st5_stream_join" -> st5Query,
    "st6_stream_decontaminate" -> st6Query,
    "st7_stream_cap" -> st7Query,
    "st8_stream_funnel" -> st8Query,
    "st12_stream_pit" -> st12Query,
    "st15_stream_pack" -> st15Query,
  )
}
