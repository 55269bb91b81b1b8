package graft.streaming

import graft.GQuery
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** One event on the stream (mirrors the `events` table columns the
  * streaming ops need). */
final case class SEvent(user_id: Long, ts: Timestamp, event_type: String, value: Double)

/** One document on an ingest stream (the `documents` columns plus the
  * arrival time that anchors the dedup-state watermark). */
final case class SDoc(doc_id: Long, ingest_ts: Timestamp, text: String)

final case class SessionAcc(start: Timestamp, end: Timestamp, n_events: Long)
final case class SessionOut(user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

/** One event on the anomaly stream (adds the id the incident report
  * needs for a deterministic tie-break and output key). */
final case class AEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double)

/** One change on the CDC stream (full event shape: the type doubles
  * as the op code — 'error' is the tombstone). */
final case class CEvent(user_id: Long, event_id: Long, ts: Timestamp,
    event_type: String, value: Double)

/** Per-key CDC state: the winning (latest) change. */
final case class CdcState(ts: Long, event_id: Long, last_type: String, v_cents: Long)

/** One CDC emission: the key's new current row, or its tombstone. */
final case class CdcOut(user_id: Long, last_type: String, v_cents: Long, deleted: Boolean)

/** Per-user trailing-window state: the last ≤20 cents values. */
final case class TrailState(ring: Vector[Long])

final case class AnomalyOut(user_id: Long, event_id: Long, v_cents: Long)

/** §2.5 Structured Streaming over the `events` stream.
  *
  * The transforms are written once and applied to EITHER a batch or a
  * streaming DataFrame — that is Spark's batch/stream unification, and
  * it is what makes the batch-parity oracle meaningful: the driver
  * checks [[windowedAgg]] on the batch table against DuckDB
  * `time_bucket`, and StreamingSpec replays the same transform through
  * a MemoryStream with a watermark.
  *
  * Scale posture: watermarks bound state (late data beyond 2h is
  * dropped, state for closed windows is evicted); sessionization state
  * is per-user and evicted via event-time timeout — state size is
  * O(active users), never O(events).
  */
object Streams {

  /** Parse a `withWatermark`-style delay string ("2 hours",
    * "30 minutes") to milliseconds, via the same Catalyst interval
    * grammar Structured Streaming itself uses — so a state-timeout
    * horizon derived from it can never disagree with the watermark. */
  private[streaming] def watermarkMillis(delay: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    require(iv.months == 0, s"watermark '$delay' must not use month units")
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  private def cents = floor(col("value") * lit(100) + lit(0.5)).cast("long")

  /** Tumbling 1-hour window aggregate per event_type. Works on batch
    * and (after `withWatermark`) streaming input unchanged. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withColumn("v_cents", cents)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("v_cents")).as("sum_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_cents"))

  /** Streaming windowed counts: watermark → tumbling window →
    * count. Append-mode compatible (the memory-sink spec asserts
    * emitted rows once the watermark passes). */
  def windowedCounts(stream: DataFrame, watermark: String = "2 hours"): DataFrame =
    windowedAgg(stream.withWatermark("ts", watermark))

  /** Custom session windows via flatMapGroupsWithState: sessions break
    * after `gapMinutes` idle; state is one (start, end, n) accumulator
    * per user, evicted by event-time timeout once the watermark passes
    * the gap — closed sessions are emitted either by a later event
    * arriving past the gap or by the timeout firing. Late
    * (out-of-order) events within the gap of the ACTIVE session merge
    * into it, extending bounds monotonically (min start / max end) —
    * the bounded-state streaming approximation: history is never
    * reconstructed for late data, only the open window absorbs it.
    *
    * Heap note: the per-trigger sort buffers ONE user's CURRENT
    * micro-batch events on the task heap — bounded by trigger
    * interval × that user's event rate, not by history (state itself
    * is a fixed-size accumulator). A pathological single-key firehose
    * should be rate-limited or pre-bucketed upstream; the group
    * iterator here cannot spill. */
  def sessionize(events: Dataset[SEvent], gapMinutes: Int = 30): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[SEvent], state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, s.start, s.end, s.n_events))
          } else {
            val sorted = evs.toSeq.sortBy(_.ts.getTime)
            val out = scala.collection.mutable.Buffer[SessionOut]()
            var acc = state.getOption
            for (e <- sorted) acc match {
              case Some(a) if e.ts.getTime - a.end.getTime <= gapMs =>
                // a late-but-in-watermark event must never move the
                // session window backward: extend bounds with min/max
                acc = Some(SessionAcc(
                  if (e.ts.before(a.start)) e.ts else a.start,
                  if (e.ts.after(a.end)) e.ts else a.end,
                  a.n_events + 1))
              case Some(a) =>
                out += SessionOut(user, a.start, a.end, a.n_events)
                acc = Some(SessionAcc(e.ts, e.ts, 1))
              case None =>
                acc = Some(SessionAcc(e.ts, e.ts, 1))
            }
            acc.foreach { a =>
              state.update(a)
              state.setTimeoutTimestamp(a.end.getTime + gapMs)
            }
            out.iterator
          }
      }
  }

  /** DataFrame-native session windows via the built-in
    * `session_window()` — the declarative twin of [[sessionize]]
    * (which demonstrates custom state); this one is the spelling to
    * prefer in production because it stays inside Catalyst (hash
    * aggregate with merging session state, AQE, codegen) instead of
    * opaque user state. The same transform runs on batch and (after
    * `withWatermark`) streaming input unchanged.
    *
    * Semantics note the oracle must replay: the builtin's windows are
    * half-open `[start, max(ts) + gap)` and an event landing exactly
    * at a session's end starts a NEW session — so the gaps-and-islands
    * replay breaks sessions on `ts >= prev + gap` (strict `>` in
    * [[graft.operators.Relational.sessionize]]'s manual variant) and
    * emits `max(ts) + gap` as the end. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Streaming session counts: watermark-bounded state, append mode
    * emits a session once the watermark passes its close. */
  def sessionWindowCounts(stream: DataFrame, watermark: String = "2 hours"): DataFrame =
    sessionWindowAgg(stream.withWatermark("ts", watermark))

  /** Exact dedup at ingest — how a 100 TB corpus dedups INCREMENTALLY
    * instead of re-scanning itself per delivery: every arriving
    * document's md5(text) is checked against streaming state, dups
    * are dropped on arrival. `dropDuplicatesWithinWatermark` keeps
    * the hash state bounded to the watermark horizon (a re-ingest
    * beyond the horizon counts as a new observation — the standard
    * bounded-state contract; unbounded `dropDuplicates` would grow
    * state forever). State per doc is the 16-byte hash, not the text. */
  def dedupStream(docs: DataFrame, watermark: String = "2 hours"): DataFrame =
    docs.withColumn("text_md5", md5(col("text")))
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("text_md5")

  /** The batch twin of [[dedupStream]]: same transform minus the
    * watermark. `dropDuplicates` keeps an ARBITRARY physical row per
    * hash, so only the hash set itself is deterministic — the parity
    * key projects exactly that. */
  def dedupDocs(docs: DataFrame): DataFrame =
    docs.withColumn("text_md5", md5(col("text")))
      .dropDuplicates("text_md5")

  /** Batch-parity key: the identical [[windowedAgg]] transform on the
    * batch events table, oracle-checked vs DuckDB time_bucket. */
  val streamWindowedAgg: GQuery = GQuery(
    "stream_windowed_agg",
    (s, dir) => windowedAgg(Tables.events(s, dir)),
    Some("""
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
             count(*) AS cnt,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM events GROUP BY 1, 2"""),
    tags = Set("streaming"))

  /** Batch-parity key for [[dedupStream]]: the deduped hash set over
    * the batch documents table. */
  val streamDedup: GQuery = GQuery(
    "stream_dedup",
    (s, dir) => dedupDocs(Tables.documents(s, dir)).select(col("text_md5")),
    Some("SELECT DISTINCT md5(text) AS text_md5 FROM documents"),
    tags = Set("streaming"))

  /** Stream-stream interval join: each click pairs with the same
    * user's views in the following hour. Both sides carry watermarks
    * AND the join condition bounds view_ts relative to click_ts, so
    * Spark can evict join state from both sides as the watermark
    * advances — without the interval, stream-stream join state grows
    * forever. Works identically on batch inputs (`withWatermark` is a
    * no-op there), which is what the parity key checks. */
  def intervalJoin(clicks: DataFrame, views: DataFrame, watermark: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("click_ts"))
    val v = views.withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
    c.join(v,
      col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") &&
        col("view_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_ts"), col("view_ts"))
  }

  /** Batch-parity key for [[sessionWindowAgg]]: the identical
    * session_window transform on the batch events table, oracle-checked
    * against a gaps-and-islands replay with the builtin's half-open
    * boundary rule. */
  val streamSessionWindow: GQuery = GQuery(
    "stream_session_window",
    (s, dir) => sessionWindowAgg(Tables.events(s, dir)),
    Some("""
      WITH flagged AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      ids AS (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
        FROM flagged)
      SELECT user_id, min(ts) AS session_start,
             max(ts) + INTERVAL 30 MINUTE AS session_end,
             count(*) AS n_events
      FROM ids GROUP BY user_id, sid"""),
    tags = Set("streaming"))

  /** Sliding 1-hour window (30-minute slide) aggregate per event_type —
    * each event lands in exactly 2 overlapping windows. Same
    * batch/stream unification as [[windowedAgg]]: after
    * `withWatermark` the identical transform runs on a stream with
    * state bounded to the open windows. */
  def slidingAgg(events: DataFrame): DataFrame =
    events
      .withColumn("v_cents", cents)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("v_cents")).as("sum_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_cents"))

  /** Streaming sliding counts: watermark → sliding window → agg. */
  def slidingCounts(stream: DataFrame, watermark: String = "2 hours"): DataFrame =
    slidingAgg(stream.withWatermark("ts", watermark))

  /** Batch-parity key for [[slidingAgg]]: the oracle replays the
    * overlap by expanding every event into its two member windows
    * (start = 30-min bucket, and that bucket minus one slide) — the
    * definition of a 1h/30m sliding window, aligned to the same epoch
    * origin as Spark's `window()`. */
  val streamSlidingWindow: GQuery = GQuery(
    "stream_sliding_window",
    (s, dir) => slidingAgg(Tables.events(s, dir)),
    Some("""
      WITH e AS (
        SELECT time_bucket(INTERVAL '30 minutes', ts) - k * INTERVAL '30 minutes' AS window_start,
               event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
        FROM events, unnest([0, 1]) AS t(k))
      SELECT window_start, event_type, count(*) AS cnt,
             CAST(sum(v_cents) AS BIGINT) AS sum_cents
      FROM e GROUP BY 1, 2"""),
    tags = Set("streaming"))

  /** Batch-parity key for [[intervalJoin]] over the events table. */
  val streamIntervalJoin: GQuery = GQuery(
    "stream_interval_join",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      intervalJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"))
    },
    Some("""
      SELECT c.user_id, c.ts AS click_ts, v.ts AS view_ts
      FROM events c JOIN events v ON c.user_id = v.user_id
      WHERE c.event_type = 'click' AND v.event_type = 'view'
        AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 1 HOUR"""),
    tags = Set("streaming"))

  /** Per-(window, user) activity counts — the streaming-safe half of
    * windowed top-k. Works on batch and (after `withWatermark`)
    * streaming input unchanged. */
  def userWindowCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("user_id"), col("cnt"))

  /** Streaming spelling: watermark-bounded counts in append mode —
    * each (window, user) row is emitted once, when the watermark
    * closes its window. Ranking is NOT streamable (a rank can change
    * until the window closes), so the production pattern is exactly
    * this split: stream the additive aggregate, rank the closed
    * windows downstream (foreachBatch or a batch job over the sink) —
    * which is what [[topkPerWindow]] does and the parity key checks. */
  def userWindowCountsStream(stream: DataFrame, watermark: String = "2 hours"): DataFrame =
    userWindowCounts(stream.withWatermark("ts", watermark))

  /** The downstream rank over closed windows: top-k users per window
    * by count, ties on user_id. The window partitions by window_start
    * over the ALREADY-aggregated (window, user) frame — ≪ the raw
    * stream, never a global sort. */
  def topkPerWindow(events: DataFrame, k: Int = 2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start")).orderBy(col("cnt").desc, col("user_id"))
    userWindowCounts(events)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
  }

  /** Batch-parity key for the windowed top-k split
    * ([[userWindowCountsStream]] → [[topkPerWindow]]). */
  val streamTopk: GQuery = GQuery(
    "stream_topk",
    (s, dir) => topkPerWindow(Tables.events(s, dir)),
    Some("""
      WITH c AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
                        user_id, count(*) AS cnt
                 FROM events GROUP BY 1, 2)
      SELECT * FROM (
        SELECT window_start, user_id, cnt,
               row_number() OVER (PARTITION BY window_start
                                  ORDER BY cnt DESC, user_id) AS rn
        FROM c)
      WHERE rn <= 2"""),
    tags = Set("streaming"))

  // ---------------------------------------------- stream-static enrich

  /** Stream-static enrichment — the most common streaming join: each
    * event picks up its user's market segment from a STATIC dimension
    * (broadcast; re-read per micro-batch by Spark, so a dim refresh
    * is picked up without restarting the query). No state at all —
    * the stream side never buffers, which is why this is the shape to
    * prefer over stream-stream joins whenever one side is slowly
    * changing. Works identically on batch input. */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
      broadcast(dim.select(col("c_custkey"), col("c_mktsegment"))),
      col("user_id") === col("c_custkey"))
      .select(col("user_id"), col("ts"), col("event_type"),
        col("c_mktsegment").as("segment"), cents.as("v_cents"))

  /** Batch-parity key for [[enrichStream]]: the enriched stream
    * aggregated per (segment, event_type) — the live per-segment
    * dashboard the enrichment feeds. */
  val streamEnrich: GQuery = GQuery(
    "stream_enrich",
    (s, dir) =>
      enrichStream(Tables.events(s, dir), Tables.customer(s, dir))
        .groupBy(col("segment"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum(col("v_cents")).as("sum_cents")),
    Some("""
      SELECT c_mktsegment AS segment, event_type, count(*) AS cnt,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM events JOIN customer ON c_custkey = user_id
      GROUP BY 1, 2"""),
    tags = Set("streaming"))

  // ---------------------------------------------- trailing anomaly

  /** The streaming twin of `op_anomaly_trailing`'s trailing-20 rule:
    * per-user custom state = the ring of the last ≤20 cents values.
    * An event is flagged when it has ≥8 trailing values and
    * v·n > 4·Σ (the same cross-multiplied integer test — no floats in
    * state or rule). State is FIXED-size per user (20 longs) and
    * evicted by event-time timeout once a user goes quiet past the
    * watermark — O(active users) state, never O(events). Within a
    * micro-batch, events sort by (ts, event_id) so replayed batches
    * reproduce the batch window's order. */
  def anomalyStream(events: Dataset[AEvent], watermark: String = "2 hours"): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    // State-eviction horizon derives from the SAME lateness bound as the
    // watermark — a caller passing "30 minutes" must not keep 2 h of state
    // (or worse, evict while in-watermark events can still arrive).
    val horizonMs = watermarkMillis(watermark)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TrailState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[AEvent], state: GroupState[TrailState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var ring = state.getOption.map(_.ring).getOrElse(Vector.empty[Long])
            val out = scala.collection.mutable.Buffer[AnomalyOut]()
            var lastTs = 0L
            for (e <- sorted) {
              val v = math.floor(e.value * 100 + 0.5).toLong
              val n = ring.size
              if (n >= 8 && v * n > 4 * ring.sum)
                out += AnomalyOut(user, e.event_id, v)
              ring = (ring :+ v).takeRight(20)
              lastTs = e.ts.getTime
            }
            state.update(TrailState(ring))
            if (lastTs > 0) state.setTimeoutTimestamp(lastTs + horizonMs)
            out.iterator
          }
      }
  }

  /** Batch twin of [[anomalyStream]]: the declarative trailing-frame
    * window (stays inside Catalyst on batch input), projecting the
    * same (user_id, event_id, v_cents) incident rows. StreamingSpec
    * pins stream == batch on ordered input. */
  def anomalyBatch(events: DataFrame): DataFrame = {
    val byTime = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-20, -1)
    events
      .withColumn("v_cents", cents)
      .withColumn("trail_sum", sum(col("v_cents")).over(byTime))
      .withColumn("trail_n", count(lit(1)).over(byTime))
      .filter(col("trail_n") >= 8 &&
        col("v_cents") * col("trail_n") > col("trail_sum") * 4)
      .select(col("user_id"), col("event_id"), col("v_cents"))
  }

  // ---------------------------------------------- CDC materialization

  /** Streaming CDC materialization — the MERGE INTO sequencing pattern
    * as bounded per-key state: each user's state is exactly the
    * winning ((ts, event_id)-max) change; a later change overwrites
    * it, an out-of-order earlier one is ignored, and the 'error' op
    * is a tombstone. Each trigger emits the keys whose current row
    * CHANGED (Update-mode semantics: the sink upserts). State is one
    * fixed-size record per LIVE key — the materialized table itself
    * is the state, which is the floor for any CDC consumer; keys are
    * never dropped here because a tombstoned key must keep absorbing
    * late out-of-order changes (production bounds that with a
    * retention TTL via timeouts, the [[sessionize]] mechanism). */
  def cdcStream(changes: Dataset[CEvent]): Dataset[CdcOut] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcState, CdcOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, evs: Iterator[CEvent], state: GroupState[CdcState]) =>
          var cur = state.getOption
          var changed = false
          for (e <- evs) {
            val (kTs, kId) = (e.ts.getTime, e.event_id)
            if (cur.forall(c => c.ts < kTs || (c.ts == kTs && c.event_id < kId))) {
              cur = Some(CdcState(e.ts.getTime, e.event_id, e.event_type,
                math.floor(e.value * 100 + 0.5).toLong))
              changed = true
            }
          }
          cur.foreach(state.update)
          if (changed)
            cur.map(c => CdcOut(user, c.last_type, c.v_cents,
              deleted = c.last_type == "error")).iterator
          else Iterator.empty
      }
  }

  /** Batch twin of [[cdcStream]]: the declarative last-change-wins
    * rank ([[graft.operators.Relational.cdcApply]]'s plan), live rows
    * only — what the materialized table holds after the stream
    * drains. StreamingSpec pins stream == batch. */
  def cdcBatch(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    events
      .withColumn("v_cents", cents)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("event_type") =!= "error")
      .select(col("user_id"), col("event_type").as("last_type"), col("v_cents"))
  }

  /** Batch-parity key for [[cdcStream]]. */
  val streamCdc: GQuery = GQuery(
    "stream_cdc",
    (s, dir) => cdcBatch(Tables.events(s, dir)),
    Some("""
      WITH last AS (
        SELECT user_id, event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_type AS last_type, v_cents
      FROM last WHERE rn = 1 AND event_type <> 'error'"""),
    tags = Set("streaming"))

  /** Batch-parity key for [[anomalyStream]]. */
  val streamAnomaly: GQuery = GQuery(
    "stream_anomaly",
    (s, dir) => anomalyBatch(Tables.events(s, dir)),
    Some("""
      WITH t AS (SELECT user_id, event_id, ts,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
                 FROM events),
      w AS (SELECT user_id, event_id, v_cents,
                   sum(v_cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS trail_sum,
                   count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS trail_n
            FROM t)
      SELECT user_id, event_id, v_cents
      FROM w WHERE trail_n >= 8 AND v_cents * trail_n > 4 * trail_sum"""),
    tags = Set("streaming"))

  // ---------------------------------------------- production file sink

  /** The idempotent merge a production file sink runs per micro-batch:
    * the batch lands in its OWN `batch_id=<id>` partition under dynamic
    * partition overwrite, so a REPLAYED batch (crash between the sink
    * write and the checkpoint commit — the failure window in which
    * foreachBatch's at-least-once contract would otherwise duplicate
    * rows) overwrites exactly its own partition instead of appending a
    * second copy. Batch-id partitioning + dynamic overwrite is the
    * standard exactly-once-to-files recipe when the target format has
    * no transactional MERGE; readers see `outDir` as one table and can
    * drop the `batch_id` column. Exposed separately from
    * [[sinkToParquet]] so the idempotence property is directly
    * testable (StreamingSpec replays a batch id by hand). */
  private[graft] def mergeBatch(batch: DataFrame, batchId: Long, outDir: String): Unit =
    // per-write option, NOT a session conf set (r13 advice): mutating
    // spark.sql.sources.partitionOverwriteMode on the shared session
    // would silently switch every later partitioned overwrite in the
    // application from static (truncate) to dynamic semantics
    batch.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)

  /** Drive a streaming frame into a parquet directory through
    * [[mergeBatch]] with a durable checkpoint: stop + restart with the
    * same `checkpointDir` resumes from the committed offset, and a
    * replayed uncommitted batch re-lands idempotently — end-to-end
    * exactly-once to files. This is the production sink shape for every
    * streaming operator in this module (the memory sink in the specs is
    * a test harness, not a deployment surface). */
  def sinkToParquet(df: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch((batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        mergeBatch(batch.toDF(), batchId, outDir))
      .start()

  /** Registry key driving the PRODUCTION file sink end-to-end
    * (r13 directive #7: make the exactly-once sink driver-checked,
    * not just spec-checked). The build stages the events table as a
    * 3-file parquet directory, streams it back with
    * `maxFilesPerTrigger=1` (≥3 real micro-batches through
    * [[mergeBatch]]'s dynamic-partition overwrite), then re-lands
    * batch 0 BY HAND — the crash-replay window foreachBatch's
    * at-least-once contract exposes — before reading the sink
    * directory back. The oracle is the plain events projection: it
    * hash-matches only if every row landed exactly once (a duplicated
    * replay or a dropped batch changes the hash). */
  val streamSinkParquet: GQuery = GQuery(
    "stream_sink_parquet",
    (s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_sink").toString
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          cents.as("v_cents"))
      ev.repartition(3).write.parquet(s"$tmp/in")
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      val q = sinkToParquet(src, s"$tmp/out", s"$tmp/ckpt")
      q.processAllAvailable()
      q.stop()
      // materialize batch 0 to a SIDE directory before re-landing it:
      // reading the sink and dynamic-overwriting the same path in one
      // job only works because dynamic overwrite defers partition
      // deletion to commit time — a fragile self-overwrite that would
      // delete its own input under static mode or a changed commit
      // protocol (r14 advice)
      val replay = s"$tmp/replay0"
      s.read.parquet(s"$tmp/out")
        .where(col("batch_id") === 0).drop("batch_id")
        .write.mode("overwrite").parquet(replay)
      // idempotent: overwrites its own partition
      mergeBatch(s.read.parquet(replay), 0L, s"$tmp/out")
      s.read.parquet(s"$tmp/out").drop("batch_id")
    },
    Some("""
      SELECT event_id, user_id, event_type,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
      FROM events"""),
    tags = Set("streaming"))

  def all: Seq[GQuery] =
    Seq(streamWindowedAgg, streamDedup, streamIntervalJoin, streamSessionWindow,
      streamSlidingWindow, streamTopk, streamAnomaly, streamCdc, streamEnrich,
      streamSinkParquet)
}
