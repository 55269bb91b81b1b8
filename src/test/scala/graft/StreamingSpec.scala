package graft

import graft.streaming.{AEvent, SDoc, SEvent, Streams}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming behaviour through real micro-batches: each operator,
  * streamed, matches the same function on batch input; the registry
  * keys run that function and hold under any physical config. */
class StreamingSpec extends SparkSpecBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** Runs `f` over a corpus dir whose `events` table is `rows` with
    * `ts` stored as TIMESTAMP_NTZ, the shape of the testdata table. */
  private def withEvents[T](rows: DataFrame)(f: String => T): T = {
    val root = java.nio.file.Files.createTempDirectory("graft_stream_events")
    try {
      rows.withColumn("ts", col("ts").cast("timestamp_ntz"))
        .write.parquet(sources.Tables.path(root.toString, "events"))
      f(root.toString)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  private val events = Seq(
    SEvent(1, ts("2024-01-01 10:05:00"), "click", 10.0),
    SEvent(1, ts("2024-01-01 10:20:00"), "click", 20.0),
    SEvent(1, ts("2024-01-01 11:30:00"), "view", 30.0), // >30min gap → new session
    SEvent(2, ts("2024-01-01 10:45:00"), "click", 40.0),
    // late watermark-advancing tail so earlier windows/sessions close
    SEvent(9, ts("2024-01-02 00:00:00"), "view", 0.0))

  test("windowedCounts through a MemoryStream equals the batch windowedAgg") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEvent]
    mem.addData(events: _*)
    val q = Streams.windowedAgg(mem.toDF()).writeStream
      .format("memory").queryName("wc_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("wc_out")
      .select(col("window_start"), col("event_type"), col("cnt"), col("sum_cents"))
      .collect().map(_.toSeq).toSet
    val batch = Streams.windowedAgg(events.toDF())
      .collect().map(_.toSeq).toSet
    // append mode only emits windows the watermark has passed; every
    // emitted row must match the batch result, and the closed 10:00
    // and 11:00 windows must be present
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch), s"streamed=$streamed batch=$batch")
    assert(streamed.exists(_.toString.contains("2024-01-01 10:00")), streamed.toString)
  }

  test("slidingCounts through a MemoryStream equals the batch slidingAgg, two windows per event") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEvent]
    mem.addData(events: _*)
    val q = Streams.slidingAgg(mem.toDF()).writeStream
      .format("memory").queryName("sl_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("sl_out")
      .select(col("window_start"), col("event_type"), col("cnt"), col("sum_cents"))
      .collect().map(_.toSeq).toSet
    val batchDf = Streams.slidingAgg(events.toDF())
    val batch = batchDf.collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch), s"streamed=$streamed batch=$batch")
    // overlap accounting: each event is a member of exactly 2 windows
    assert(batchDf.agg(sum(col("cnt"))).first.getLong(0) == 2L * events.size)
    // the 10:05 click lands in both the 09:30 and 10:00 window starts
    assert(batch.exists(_.toString.contains("2024-01-01 09:30")), batch.toString)
    assert(batch.exists(_.toString.contains("2024-01-01 10:00")), batch.toString)
  }

  test("dedupStream drops within-horizon duplicate texts across micro-batches") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SDoc]
    val q = Streams.dedupStream(mem.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      // batch 1: one in-batch duplicate pair
      mem.addData(
        SDoc(1, ts("2024-01-01 10:00:00"), "alpha text"),
        SDoc(2, ts("2024-01-01 10:01:00"), "alpha text"),
        SDoc(3, ts("2024-01-01 10:02:00"), "beta text"))
      q.processAllAvailable()
      // batch 2: a cross-batch duplicate (within the watermark
      // horizon → state still remembers "alpha text") plus a new doc
      mem.addData(
        SDoc(4, ts("2024-01-01 10:30:00"), "alpha text"),
        SDoc(5, ts("2024-01-01 10:31:00"), "gamma text"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_out").select(col("text")).collect().map(_.getString(0))
    assert(got.length == 3, s"expected 3 survivors, got ${got.toSeq}")
    assert(got.toSet == Set("alpha text", "beta text", "gamma text"))
  }

  test("userWindowCounts through a MemoryStream feeds topkPerWindow identically to batch") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEvent]
    mem.addData(events: _*)
    val q = Streams.userWindowCounts(mem.toDF()).writeStream
      .format("memory").queryName("uwc_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("uwc_out")
      .select(col("window_start"), col("user_id"), col("cnt"))
      .collect().map(_.toSeq).toSet
    val batchCounts = Streams.userWindowCounts(events.toDF())
      .collect().map(_.toSeq).toSet
    // closed windows' counts match the batch twin exactly
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batchCounts), s"streamed=$streamed batch=$batchCounts")
    // the downstream rank (the non-streamable half) on the batch twin:
    // user 1 wins the 10:00 window with 2 clicks over user 2's 1
    val top = Streams.topkPerWindow(events.toDF())
      .filter(col("window_start") === ts("2024-01-01 10:00:00"))
      .orderBy(col("rn")).collect()
    assert(top.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("cnt"))).toSeq ==
      Seq((1L, 2L), (2L, 1L)), top.mkString(", "))
  }

  test("intervalJoin pairs clicks with same-user views inside the hour, through micro-batches") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[SEvent]
    val views = MemoryStream[SEvent]
    val q = Streams.intervalJoin(clicks.toDF(), views.toDF()).writeStream
      .format("memory").queryName("ij_out").outputMode("append").start()
    try {
      clicks.addData(SEvent(1, ts("2024-01-01 10:00:00"), "click", 1.0))
      views.addData(
        SEvent(1, ts("2024-01-01 10:30:00"), "view", 1.0), // in window → match
        SEvent(1, ts("2024-01-01 12:00:00"), "view", 1.0), // past the hour → no match
        SEvent(2, ts("2024-01-01 10:15:00"), "view", 1.0)) // other user → no match
      q.processAllAvailable()
      // a view arriving in a LATER micro-batch still joins the
      // buffered click state
      views.addData(SEvent(1, ts("2024-01-01 10:45:00"), "view", 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("ij_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSet
    assert(got == Set(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")),
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:45:00"))), got.toString)
  }

  test("sessionWindowCounts through a MemoryStream equals the batch sessionWindowAgg") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SEvent]
    mem.addData(events: _*)
    val q = Streams.sessionWindowAgg(mem.toDF()).writeStream
      .format("memory").queryName("sw_out").outputMode("append").start()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("sw_out")
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      .collect().map(_.toSeq).toSet
    val batch = Streams.sessionWindowAgg(events.toDF())
      .collect().map(_.toSeq).toSet
    // append mode only emits sessions the watermark has closed; every
    // emitted session must match the batch twin, and user 1's first
    // session (10:05..10:20, builtin end = last event + gap) must be
    // among them
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch), s"streamed=$streamed batch=$batch")
    assert(streamed.contains(Seq(1L, ts("2024-01-01 10:05:00"), ts("2024-01-01 10:50:00"), 2L)),
      streamed.toString)
  }

  test("enrichStream joins a static dim per micro-batch with no state") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"), (9L, "FURNITURE"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[SEvent]
    val q = Streams.enrichStream(mem.toDF(), dim).writeStream
      .format("memory").queryName("enrich_out").outputMode("append").start()
    try {
      mem.addData(events.take(3): _*)
      q.processAllAvailable()
      mem.addData(events.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("enrich_out")
      .select(col("user_id"), col("ts"), col("segment"), col("v_cents"))
      .collect().map(_.toSeq).toSet
    val batch = Streams.enrichStream(events.toDF(), dim)
      .select(col("user_id"), col("ts"), col("segment"), col("v_cents"))
      .collect().map(_.toSeq).toSet
    // stateless per-row enrichment: the stream emits EXACTLY the batch
    // rows (no watermark holdback, nothing buffered)
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.exists(_.toString.contains("BUILDING")), streamed.toString)
  }

  test("cdcStream upsert replay equals the batch last-change-wins state") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.CEvent
    val changes = Seq(
      CEvent(1, 1L, ts("2024-01-01 10:00:00"), "signup", 1.0),
      CEvent(1, 2L, ts("2024-01-01 10:10:00"), "purchase", 5.0),
      CEvent(2, 3L, ts("2024-01-01 10:05:00"), "view", 2.0),
      CEvent(2, 4L, ts("2024-01-01 10:20:00"), "error", 0.0), // tombstone
      CEvent(3, 5L, ts("2024-01-01 10:30:00"), "click", 7.0),
      // out-of-order LATE change for user 1 — must NOT win
      CEvent(1, 0L, ts("2024-01-01 09:00:00"), "view", 9.0))
    val mem = MemoryStream[CEvent]
    val q = Streams.cdcStream(mem.toDS()).writeStream
      .format("memory").queryName("cdc_out").outputMode("update").start()
    try {
      mem.addData(changes.take(3): _*)
      q.processAllAvailable()
      mem.addData(changes.drop(3): _*)
      q.processAllAvailable()
    } finally q.stop()
    // replay the upsert stream in arrival order: last emission per key
    // wins; deleted=true removes the key
    val emitted = spark.table("cdc_out").collect()
    val replayed = emitted.zipWithIndex
      .groupBy(_._1.getAs[Long]("user_id"))
      .map { case (u, rows) => u -> rows.maxBy(_._2)._1 }
      .filter(!_._2.getAs[Boolean]("deleted"))
      .map { case (u, r) => (u, r.getAs[String]("last_type"), r.getAs[Long]("v_cents")) }
      .toSet
    val batch = Streams.cdcStream(changes.toDS()).collect()
      .collect { case r if !r.deleted => (r.user_id, r.last_type, r.v_cents) }.toSet
    val reference = withEvents(changes.toDF()) { dir =>
      Registry.byName("op_cdc_apply").build(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    assert(replayed == batch, s"replayed=$replayed batch=$batch")
    assert(replayed == reference, s"replayed=$replayed op_cdc_apply=$reference")
    assert(replayed == Set((1L, "purchase", 500L), (3L, "click", 700L)), replayed.toString)
  }

  test("anomalyStream through a MemoryStream equals the batch trailing-frame twin") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // user 1: 9 calm events (1.00) then a 10x spike — the spike has
    // trail_n >= 8 and v*n > 4*sum, so exactly it is flagged
    val calm = (1 to 9).map(i =>
      AEvent(1, i.toLong, ts(f"2024-01-01 10:${i}%02d:00"), 1.0))
    val spike = AEvent(1, 10L, ts("2024-01-01 10:10:00"), 10.0)
    val other = (1 to 5).map(i =>
      AEvent(2, (100 + i).toLong, ts(f"2024-01-01 10:${i}%02d:00"), 2.0))
    val allEvents = (calm :+ spike) ++ other
    val mem = MemoryStream[AEvent]
    // split across micro-batches so ring state must survive a batch boundary
    val q = Streams.anomalyStream(mem.toDS()).writeStream
      .format("memory").queryName("anom_out").outputMode("append").start()
    try {
      mem.addData(calm.take(5): _*)
      q.processAllAvailable()
      mem.addData((calm.drop(5) :+ spike) ++ other: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("anom_out")
      .select(col("user_id"), col("event_id"), col("v_cents"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Streams.anomalyStream(allEvents.toDS())
      .collect().map(r => (r.user_id, r.event_id, r.v_cents)).toSet
    val reference = withEvents(allEvents.toDF()) { dir =>
      Registry.byName("op_anomaly_trailing").build(spark, dir)
        .select(col("user_id"), col("event_id"), col("v_cents"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed == reference, s"streamed=$streamed op_anomaly_trailing=$reference")
    assert(streamed == Set((1L, 10L, 1000L)), streamed.toString)
  }

  test("parquet foreachBatch sink: checkpointed restart + batch replay stay exactly-once") {
    import TestSession.spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_sink_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sink_ckpt").toString
    try {
      val mem = MemoryStream[SEvent]
      def cols(df: org.apache.spark.sql.DataFrame) = df
        .select(col("window_start"), col("event_type"), col("cnt"), col("sum_cents"))
        .collect().map(_.toSeq).toSeq

      // first incarnation: half the stream, then a clean stop
      mem.addData(events.take(3): _*)
      val q1 = Streams.sinkToParquet(Streams.windowedAgg(mem.toDF()), out, ckpt)
      try q1.processAllAvailable() finally q1.stop()

      // SECOND incarnation from the SAME checkpoint dir: committed
      // offsets resume (no reprocessing of the first half), the
      // watermark-advancing tail closes the earlier windows
      mem.addData(events.drop(3): _*)
      val q2 = Streams.sinkToParquet(Streams.windowedAgg(mem.toDF()), out, ckpt)
      try q2.processAllAvailable() finally q2.stop()

      val sunk = spark.read.parquet(out)
      val rows = cols(sunk)
      val batch = Streams.windowedAgg(events.toDF()).collect().map(_.toSeq).toSet
      assert(rows.nonEmpty)
      // exactly-once across the restart: append-mode emits each closed
      // window once, so any duplicate row means the restart re-delivered
      assert(rows.distinct.size == rows.size, s"duplicate rows after restart: $rows")
      assert(rows.toSet.subsetOf(batch), s"sunk=$rows batch=$batch")
      assert(rows.exists(_.toString.contains("2024-01-01 10:00")), rows.toString)

      // replay simulation: re-run the LAST batch id's merge by hand (the
      // crash-between-write-and-commit window) — the dynamic-overwrite
      // merge must be idempotent, not append a second copy
      val lastId = sunk.agg(max(col("batch_id").cast("long"))).first.getLong(0)
      val replayed = sunk.filter(col("batch_id") === lastId).drop("batch_id")
      Streams.mergeBatch(replayed, lastId, out)
      val after = cols(spark.read.parquet(out))
      assert(after.sortBy(_.toString) == rows.sortBy(_.toString),
        s"batch replay changed sink contents: before=$rows after=$after")
    } finally Seq(out, ckpt).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d)))
  }

  test("stream_sink_parquet registry key: multi-batch file-source run lands every event exactly once") {
    val sunk = Registry.byName("stream_sink_parquet").build(spark, sfDir)
    val events = sources.Tables.events(spark, sfDir)
    val n = events.count()
    // exactly-once: total rows == source rows AND the event_id set is
    // duplicate-free — a re-appended replay fails the first, a dropped
    // micro-batch fails both
    assert(sunk.count() == n)
    assert(sunk.select("event_id").distinct().count() == n)
  }

  test("stream_sink_parquet builds reuse one scratch directory and land the oracle's rows") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def sinkDirs = tmp.listFiles().count(f => f.isDirectory && f.getName.startsWith("graft_sink"))
    val before = sinkDirs
    val want = digest(sources.Tables.events(spark, sfDir).select(col("event_id"), col("user_id"),
      col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("v_cents")))
    // the second build clears the first one's checkpoint: resuming it
    // would stream nothing and read back only the old sink
    for (i <- 1 to 2)
      assert(digest(Registry.byName("stream_sink_parquet").build(spark, sfDir)) == want, s"build $i")
    assert(sinkDirs - before <= 1, s"$before graft_sink dirs before, $sinkDirs after")
  }

  /** Every `events`-reading streaming key, plus the batch operators
    * for the two custom-state rules. */
  private val eventsKeys =
    Streams.all.map(_.name).filter(_ != "stream_dedup") ++ Seq("op_cdc_apply", "op_anomaly_trailing")

  test("stream_cdc and stream_anomaly build through the custom-state operators") {
    for (k <- Seq("stream_cdc", "stream_anomaly")) {
      val plan = Registry.byName(k).build(spark, sfDir).queryExecution.analyzed
      assert(plan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.FlatMapGroupsWithState => f
      }.nonEmpty, s"$k has no FlatMapGroupsWithState:\n$plan")
    }
  }

  test("events-reading streaming keys give the same digest under any physical config") {
    val base = eventsKeys.map(k => k -> digest(Registry.byName(k).build(spark, sfDir))).toMap
    Seq(
      Seq("spark.sql.shuffle.partitions" -> "1"),
      Seq("spark.sql.shuffle.partitions" -> "7"),
      Seq("spark.sql.adaptive.enabled" -> "false"),
      Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")).foreach { confs =>
      val ss = Sessions.childWith(spark, confs)
      val moved = eventsKeys.filter(k => digest(Registry.byName(k).build(ss, sfDir)) != base(k))
      assert(moved.isEmpty, s"$confs changed ${moved.mkString(", ")}")
    }
  }

  test("events-reading streaming keys build and return no rows over an empty events table") {
    withEvents(sources.Tables.events(spark, sfDir).limit(0)) { dir =>
      sources.Tables.customer(spark, sfDir).write.parquet(sources.Tables.path(dir, "customer"))
      val bad = eventsKeys.flatMap { k =>
        scala.util.Try(Registry.byName(k).build(spark, dir).count()) match {
          case scala.util.Success(0L) => None
          case other => Some(s"$k: $other")
        }
      }
      assert(bad.isEmpty, bad.mkString("; "))
    }
  }

  test("stream_cdc and stream_anomaly order events by wall clock in any session time zone") {
    import TestSession.spark.implicits._
    // one user: seven calm events, a calm one at 02:30 inside the
    // 2024-03-10 02:00-03:00 Los Angeles DST gap, then a spike at 03:10.
    // Read in Los Angeles time, 02:30 would become 03:30 and sort after
    // the spike: the spike would have 7 trailing values (not flagged)
    // and the 02:30 view would be the last change. User 8's two events
    // share a millisecond: the later microsecond must win, not the
    // higher event_id.
    val calm = (1 to 7).map(i => (i.toLong, 7L, f"2024-03-10 00:${i * 7}%02d:00", "view", 1.0))
    val rows = (calm ++ Seq(
      (8L, 7L, "2024-03-10 02:30:00", "view", 1.0),
      (9L, 7L, "2024-03-10 03:10:00", "purchase", 10.0),
      (10L, 8L, "2024-03-10 05:00:00.000200", "signup", 2.0),
      (11L, 8L, "2024-03-10 05:00:00.000100", "view", 3.0)))
      .toDF("event_id", "user_id", "ts", "event_type", "value")
    withEvents(rows) { dir =>
      val la = Sessions.childWith(spark, Seq("spark.sql.session.timeZone" -> "America/Los_Angeles"))
      def build(k: String, ss: org.apache.spark.sql.SparkSession) = Registry.byName(k).build(ss, dir)
      for ((k, want) <- Seq(
          "stream_anomaly" -> Set(Seq(7L, 9L, 1000L)),
          "stream_cdc" -> Set(Seq(7L, "purchase", 1000L), Seq(8L, "signup", 200L)))) {
        assert(build(k, spark).collect().map(_.toSeq).toSet == want, k)
        assert(digest(build(k, la)) == digest(build(k, spark)), s"$k under America/Los_Angeles")
      }
      // the batch operators that time the gaps between events: user 7's
      // durations sum to 03:10 - 00:07 = 183 min whatever the zone, and
      // 02:30 is more than an hour before 03:10 only on the wall clock
      def twap(ss: org.apache.spark.sql.SparkSession) = build("op_time_weighted_avg", ss)
        .where(col("user_id") === 7).collect().map(_.toSeq).toSeq
      def hour(ss: org.apache.spark.sql.SparkSession) = build("op_range_frame", ss)
        .where(col("event_id").isin(8L, 9L)).orderBy(col("event_id"))
        .select(col("hour_cents"), col("hour_events")).collect().map(_.toSeq).toSeq
      for (ss <- Seq(spark, la)) {
        val zone = ss.conf.get("spark.sql.session.timeZone")
        assert(twap(ss) == Seq(Seq(7L, 1098000000L, 10980000L, 100L)), s"op_time_weighted_avg in $zone")
        assert(hour(ss) == Seq(Seq(100L, 1L), Seq(1100L, 2L)), s"op_range_frame in $zone")
      }
    }
  }
}
