package graft.streaming

import graft.GQuery
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** One event on the stream (mirrors the `events` table columns the
  * streaming ops need). */
final case class SEvent(user_id: Long, ts: Timestamp, event_type: String, value: Double)

/** One document on an ingest stream (the `documents` columns plus the
  * arrival time that anchors the dedup-state watermark). */
final case class SDoc(doc_id: Long, ingest_ts: Timestamp, text: String)

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
  * Each operator is ONE function, applied to EITHER a batch or a
  * streaming input — Spark's batch/stream unification. Its registry
  * key runs it over the batch table and is checked against DuckDB;
  * StreamingSpec runs the same function through a MemoryStream; a
  * production query runs it over `readStream` into [[sinkToParquet]].
  * The watermark lives inside each operator: on batch input Spark
  * drops it during analysis, so the batch plan is the plain one.
  *
  * On batch input the custom-state operators ([[anomalyStream]],
  * [[cdcStream]]) see each user's whole history in one call, buffered
  * on the task heap. `op_anomaly_trailing` and `op_cdc_apply` are the
  * batch operators for the same rules: a window per user that Spark
  * can spill.
  *
  * Scale posture: watermarks bound state (data more than [[Lateness]]
  * behind the newest event is dropped, state for closed windows is
  * evicted); custom state is fixed-size per user and the anomaly
  * state is evicted by event-time timeout — state size is
  * O(active users), never O(events).
  */
object Streams {

  /** The event-time lateness every watermark here allows. */
  private val Lateness = "2 hours"

  /** [[Lateness]] in milliseconds, parsed by the Catalyst interval
    * grammar `withWatermark` itself uses — so a state-timeout horizon
    * derived from it can never disagree with the watermark. */
  private val LatenessMs: Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(Lateness))
    iv.days * 86400000L + iv.microseconds / 1000L
  }

  private def cents = floor(col("value") * lit(100) + lit(0.5)).cast("long")

  /** µs since the epoch: the full precision of a `ts`, which
    * `getTime`'s milliseconds drop. */
  private def micros(t: Timestamp): Long = t.getTime * 1000L + t.getNanos / 1000 % 1000

  /** Tumbling 1-hour window aggregate per event_type. On a stream,
    * append mode emits each window once the watermark passes it. */
  def windowedAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", Lateness)
      .withColumn("v_cents", cents)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("v_cents")).as("sum_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_cents"))

  /** Session windows via the built-in `session_window()` with a
    * 30-minute gap: merging session state inside Catalyst (hash
    * aggregate, AQE, codegen) instead of opaque user state. On a
    * stream, append mode emits a session once the watermark passes
    * its close.
    *
    * Semantics note the oracle must replay: the builtin's windows are
    * half-open `[start, max(ts) + gap)` and an event landing exactly
    * at a session's end starts a NEW session — so the gaps-and-islands
    * replay breaks sessions on `ts >= prev + gap` (strict `>` in
    * [[graft.operators.Relational.sessionize]]'s manual variant) and
    * emits `max(ts) + gap` as the end. */
  def sessionWindowAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", Lateness)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Exact dedup at ingest — how a 100 TB corpus dedups INCREMENTALLY
    * instead of re-scanning itself per delivery: every arriving
    * document's md5(text) is checked against streaming state, dups
    * are dropped on arrival. `dropDuplicatesWithinWatermark` keeps
    * the hash state bounded to the watermark horizon (a re-ingest
    * beyond the horizon counts as a new observation — the standard
    * bounded-state contract; unbounded `dropDuplicates` would grow
    * state forever). State per doc is the 16-byte hash, not the text. */
  def dedupStream(docs: DataFrame): DataFrame =
    docs.withColumn("text_md5", md5(col("text")))
      .withWatermark("ingest_ts", Lateness)
      .dropDuplicatesWithinWatermark("text_md5")

  /** The batch spelling of [[dedupStream]] — the one operator here
    * with two: the batch `documents` table has no ingest time for
    * `dropDuplicatesWithinWatermark` to anchor on. `dropDuplicates`
    * keeps an ARBITRARY physical row per hash, so only the hash set
    * itself is deterministic — the parity key projects exactly that. */
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
  def intervalJoin(clicks: DataFrame, views: DataFrame): DataFrame = {
    val c = clicks.withWatermark("ts", Lateness)
      .select(col("user_id"), col("ts").as("click_ts"))
    val v = views.withWatermark("ts", Lateness)
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
    * each event lands in exactly 2 overlapping windows. On a stream,
    * state is bounded to the windows the watermark has not passed. */
  def slidingAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", Lateness)
      .withColumn("v_cents", cents)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("v_cents")).as("sum_cents"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_cents"))

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
    * windowed top-k. On a stream, append mode emits each (window,
    * user) row once, when the watermark closes its window. Ranking is
    * NOT streamable (a rank can change until the window closes), so
    * the production pattern is exactly this split: stream the additive
    * aggregate, rank the closed windows downstream (foreachBatch or a
    * batch job over the sink) — which is what [[topkPerWindow]] does
    * and the parity key checks. */
  def userWindowCounts(events: DataFrame): DataFrame =
    events.withWatermark("ts", Lateness)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("window_start"), col("user_id"), col("cnt"))

  /** The downstream rank over closed windows: the top 2 users per
    * window by count, ties on user_id. The window partitions by
    * window_start over the ALREADY-aggregated (window, user) frame —
    * ≪ the raw stream, never a global sort. */
  def topkPerWindow(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("window_start")).orderBy(col("cnt").desc, col("user_id"))
    userWindowCounts(events)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 2)
  }

  /** Batch-parity key for the windowed top-k split
    * ([[userWindowCounts]] → [[topkPerWindow]]). */
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

  // ---------------------------------------------- custom state

  /** The batch `events` table as typed rows for the custom-state
    * operators, `ts` read as wall clock ([[Tables.wallClock]]). */
  private def typedEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).select(col("user_id"), col("event_id"),
      Tables.wallClock(col("ts")).as("ts"), col("event_type"), col("value"))

  /** The trailing-20 anomaly rule of `op_anomaly_trailing` as per-user
    * custom state = the ring of the last ≤20 cents values. An event is
    * flagged when it has ≥8 trailing values and v·n > 4·Σ (the same
    * cross-multiplied integer test — no floats in state or rule). State
    * is FIXED-size per user (20 longs) and evicted by event-time
    * timeout once a user goes quiet for [[Lateness]] — the same bound
    * as the watermark, so state is never evicted while an in-watermark
    * event can still arrive. Within a call, events sort by (ts,
    * event_id) so replayed batches reproduce the batch window's order. */
  def anomalyStream(events: Dataset[AEvent]): Dataset[AnomalyOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", Lateness)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TrailState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, evs: Iterator[AEvent], state: GroupState[TrailState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
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
            if (lastTs > 0) state.setTimeoutTimestamp(lastTs + LatenessMs)
            out.iterator
          }
      }
  }

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
    * retention TTL via timeouts, the [[anomalyStream]] mechanism). */
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
            val (kTs, kId) = (micros(e.ts), e.event_id)
            if (cur.forall(c => c.ts < kTs || (c.ts == kTs && c.event_id < kId))) {
              cur = Some(CdcState(kTs, e.event_id, e.event_type,
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

  /** Registry key for [[cdcStream]]: the operator itself over the batch
    * events table, live rows only — what the materialized table holds
    * once the stream drains. */
  val streamCdc: GQuery = GQuery(
    "stream_cdc",
    (s, dir) => {
      import s.implicits._
      cdcStream(typedEvents(s, dir).as[CEvent])
        .filter(!col("deleted"))
        .select(col("user_id"), col("last_type"), col("v_cents"))
    },
    Some("""
      WITH last AS (
        SELECT user_id, event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_type AS last_type, v_cents
      FROM last WHERE rn = 1 AND event_type <> 'error'"""),
    tags = Set("streaming"))

  /** Registry key for [[anomalyStream]]: the operator itself over the
    * batch events table. */
  val streamAnomaly: GQuery = GQuery(
    "stream_anomaly",
    (s, dir) => {
      import s.implicits._
      anomalyStream(typedEvents(s, dir).as[AEvent]).toDF()
    },
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
      val tmp = graft.sources.Sinks.compactScratch(s, s"$dir#sink", "graft_sink")()
      // a reused checkpoint would resume the last build's query and
      // stream nothing: every build starts from an empty directory
      org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(tmp))
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          cents.as("v_cents"))
      ev.repartition(3).write.parquet(s"$tmp/in")
      val src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$tmp/in")
      val out = s"$tmp/out"
      val q = sinkToParquet(src, out, s"$tmp/ckpt")
      q.processAllAvailable()
      q.stop()
      // the schema partition inference gives, stated: an empty stream
      // lands no batch_id partition to infer it from
      def sunk = s.read.schema(ev.schema.add("batch_id", "int")).parquet(out)
      // materialize batch 0 to a SIDE directory before re-landing it:
      // reading the sink and dynamic-overwriting the same path in one
      // job only works because dynamic overwrite defers partition
      // deletion to commit time — a fragile self-overwrite that would
      // delete its own input under static mode or a changed commit
      // protocol (r14 advice)
      val replay = s"$tmp/replay0"
      sunk.where(col("batch_id") === 0).drop("batch_id")
        .write.mode("overwrite").parquet(replay)
      // idempotent: overwrites its own partition
      mergeBatch(s.read.parquet(replay), 0L, out)
      sunk.drop("batch_id")
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
