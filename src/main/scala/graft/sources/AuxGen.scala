package graft.sources

import graft.GQuery
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed generators for the three non-TPC-H tables (`events`,
  * `documents`, `embeddings`) — the LLM-pipeline corpus at any scale
  * factor, built the same way [[graft.tpch.TpchGen]] builds the TPC-H
  * tables: `spark.range` → deterministic hash expressions, zero
  * shuffles, zero driver-side state. Every value is a pure function
  * of the row id, so generation parallelises to any partition count
  * and a 100 TB corpus is just a bigger `range` (the reference's
  * generator materialises per-table batches driver-side,
  * clflushopt/datafusion-tpch src/lib.rs:117-124 — exactly what this
  * construction avoids).
  *
  * Row-count ladder and value domains mirror the driver testdata
  * (TESTDATA.md; measured at sf 0.001/0.01/0.1): events = max(1000,
  * 1e6·sf) over a fixed 30-day window (event RATE scales, the window
  * doesn't), documents = max(500, 5e4·sf) over the same 31-word
  * vocabulary, embeddings = max(500, 2e4·sf) unit-norm 64-dim float
  * vectors. `gen_aux_profile` pins the ladder and the domains against
  * the testdata tables scale-adaptively (same pattern as
  * `gen_rowcounts`).
  *
  * Duplicate structure — the part that makes the corpus a real dedup
  * workload — is planted by construction: because a document's base
  * text is a pure function of its id, a "copy" row regenerates its
  * base's words INLINE (no self-join): ~5% of docs take base_id =
  * hash(id) mod id, of which ~15% are byte-exact copies and the rest
  * mutate ~3% of words (shingle jaccard ≈ 0.85–0.99, matching the
  * measured testdata pair band). Embeddings plant ~1% near-copies
  * (cosine ≈ 0.999) the same way. Two copies sharing a base form
  * pairs among themselves too, like the testdata's pair triangles.
  */
object AuxGen {
  val tableNames: Seq[String] = Seq("events", "documents", "embeddings")

  /** Row-count ladder, floored exactly like the driver testdata
    * (sf0.001 and sf0.01 share the 500-doc / 500-vec floor). */
  def docsRows(sf: Double): Long = math.max(500L, math.round(50000 * sf))
  def embRows(sf: Double): Long = math.max(500L, math.round(20000 * sf))
  def eventsRows(sf: Double): Long = math.max(1000L, math.round(1000000 * sf))
  def eventUsers(sf: Double): Long = math.max(150L, math.round(15000 * sf))

  /** The testdata documents vocabulary (31 words, measured over
    * sf0.1) — small on purpose: shingle collisions at a realistic
    * rate exercise the df-cap paths in [[graft.dedup.Dedup]]. */
  private val Vocab: Seq[String] = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val VocabSql = Vocab.map(w => s"'$w'").mkString("array(", ", ", ")")

  private def range(spark: SparkSession, n: Long, numParts: Int): DataFrame =
    if (numParts > 0) spark.range(0, n, 1, numParts).toDF("id")
    else spark.range(n).toDF("id")

  /** `documents(doc_id, text, lang, source, n_chars)`. ~5% planted
    * copies (15% of them exact) make this a true dedup corpus; langs
    * weighted en 41 / zh 15 / es 15 / fr 15 / de 14 (measured),
    * sources uniform over src0..src19, 10–100 words per doc. */
  def documents(spark: SparkSession, sf: Double, numParts: Int = 0): DataFrame =
    range(spark, docsRows(sf), numParts)
      // copy rows regenerate base text inline — base words key off
      // base_id, mutations key off the copy's own id. base_id < id by
      // construction (mod id), so pairs are (earlier, later) like the
      // testdata's; the copy decision needs id >= 10 so `mod id` has
      // headroom and the first docs are always originals
      .withColumn("is_copy", expr("id >= 10 AND pmod(xxhash64(id, 7002), 100) < 5"))
      .withColumn("base_id", expr("IF(is_copy, pmod(xxhash64(id, 7003), id), id)"))
      .withColumn("exact", expr("is_copy AND pmod(xxhash64(id, 7005), 100) < 15"))
      .withColumn("text", expr(
        s"""concat_ws(' ', transform(
           |  sequence(1, cast(10 + pmod(xxhash64(base_id, 7000), 91) AS int)),
           |  j -> IF(is_copy AND NOT exact AND pmod(xxhash64(id, j, 7004), 33) = 0,
           |          element_at($VocabSql, cast(pmod(xxhash64(id, j, 7010), 31) AS int) + 1),
           |          element_at($VocabSql, cast(pmod(xxhash64(base_id, j, 7001), 31) AS int) + 1))))
           |""".stripMargin))
      .select(
        col("id").as("doc_id"),
        col("text"),
        expr("""CASE WHEN pmod(xxhash64(id, 7006), 100) < 41 THEN 'en'
               |     WHEN pmod(xxhash64(id, 7006), 100) < 56 THEN 'zh'
               |     WHEN pmod(xxhash64(id, 7006), 100) < 71 THEN 'es'
               |     WHEN pmod(xxhash64(id, 7006), 100) < 86 THEN 'fr'
               |     ELSE 'de' END""".stripMargin).as("lang"),
        expr("concat('src', pmod(xxhash64(id, 7007), 20))").as("source"),
        length(col("text")).cast("long").as("n_chars"))

  /** `embeddings(vec_id, embedding: array<float>, label)` — unit-norm
    * 64-dim vectors, components uniform before normalisation (the
    * testdata corpus has no geometric label clusters — labels are
    * uniform over 0..9 independent of position), plus ~1% planted
    * near-copies (base + 3% amplitude noise, cosine ≈ 0.999). */
  def embeddings(spark: SparkSession, sf: Double, numParts: Int = 0): DataFrame =
    range(spark, embRows(sf), numParts)
      .withColumn("is_copy", expr("id >= 10 AND pmod(xxhash64(id, 8002), 1000) < 10"))
      .withColumn("base_id", expr("IF(is_copy, pmod(xxhash64(id, 8003), id), id)"))
      .withColumn("raw", expr(
        """transform(sequence(0, 63), d ->
          |  (pmod(xxhash64(base_id, d, 8001), 2001) - 1000) / 1000.0
          |  + IF(is_copy, 0.03 * (pmod(xxhash64(id, d, 8004), 2001) - 1000) / 1000.0, 0.0))
          |""".stripMargin))
      .withColumn("nrm", expr("sqrt(aggregate(raw, cast(0.0 AS double), (acc, x) -> acc + x * x))"))
      .select(
        col("id").as("vec_id"),
        expr("transform(raw, x -> cast(x / nrm AS float))").as("embedding"),
        expr("cast(pmod(xxhash64(id, 8005), 10) AS int)").as("label"))

  /** Epoch of 2024-01-01 00:00:00 in nanoseconds. Event times are
    * drawn in nanoseconds and stored as TIMESTAMP_NTZ at µs precision
    * (truncated, like DuckDB's TIMESTAMP), the testdata's shape. */
  private val EventsEpochNs = 1704067200000000000L
  private val EventsWindowNs = 30L * 24 * 3600 * 1000000000L // fixed 30 days

  /** The TIMESTAMP_NTZ at `ns div 1000` µs after 1970-01-01 00:00:00 —
    * built off an NTZ literal, so no session time zone enters it. */
  private def ntzOfNs(ns: String): Column =
    expr(s"timestampadd(MICROSECOND, ($ns) div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')")

  /** `events(event_id, ts, user_id, event_type, value, props)` —
    * roughly time-ordered (each event jitters inside its own slot of
    * the 30-day window, so `ts` never leaves id order by more than
    * one slot), users = max(150, 1.5e4·sf), five event types uniform,
    * value a DOUBLE in [0, 200) rounded to 2 decimals, props a tiny
    * JSON string. The schema is the testdata's (AuxGenSpec pins it). */
  def events(spark: SparkSession, sf: Double, numParts: Int = 0): DataFrame = {
    val n = eventsRows(sf)
    val users = eventUsers(sf)
    val gapNs = EventsWindowNs / n
    range(spark, n, numParts).select(
      col("id").as("event_id"),
      ntzOfNs(s"${EventsEpochNs}L + id * ${gapNs}L + pmod(xxhash64(id, 9001), ${gapNs}L)").as("ts"),
      expr(s"pmod(xxhash64(id, 9002), ${users}L)").as("user_id"),
      expr("element_at(array('signup','purchase','view','click','error'), " +
        "cast(pmod(xxhash64(id, 9003), 5) AS int) + 1)").as("event_type"),
      expr("CAST(round(pmod(xxhash64(id, 9004), 20000) / 100.0, 2) AS DOUBLE)").as("value"),
      expr("""concat('{"k": ', pmod(xxhash64(id, 9005), 100), '}')""").as("props"))
  }

  /** Single dispatch point, mirroring [[graft.tpch.TpchGen.table]]. */
  def table(spark: SparkSession, name: String, sf: Double, numParts: Int = 0): DataFrame =
    name match {
      case "events" => events(spark, sf, numParts)
      case "documents" => documents(spark, sf, numParts)
      case "embeddings" => embeddings(spark, sf, numParts)
      case other => throw new IllegalArgumentException(
        s"unknown aux table '$other' (expected one of ${tableNames.mkString(", ")})")
    }

  /** Generate-and-persist at [[Tables.path]] — combined with
    * [[graft.tpch.TpchGen.persistAll]] this materialises a COMPLETE
    * drop-in testdata directory at any sf (every [[Tables]] accessor
    * and registry query runs against it unchanged — AuxGenSpec pins
    * the round trip; the sf1 bench anchor is produced exactly this
    * way). */
  def persistAll(spark: SparkSession, sf: Double, dir: String,
      numParts: Int = 0, mode: String = "overwrite"): Unit =
    tableNames.foreach { n =>
      Sinks.writeParquet(table(spark, n, sf, numParts), Tables.path(dir, n), mode = mode)
    }

  /** Structural profile of the generated aux corpus vs the driver
    * testdata at the SAME sf — scale-adaptive like `gen_rowcounts`:
    * the three row counts must equal the testdata tables' (pinning
    * the ladder), the value domains are sf-independent invariants
    * (langs/sources/types cardinality, 64-dim unit norms, the 30-day
    * ts window, exact-dup mass present but bounded ≤ 5%). */
  val genAuxProfile: GQuery = GQuery(
    "gen_aux_profile",
    (s, dir) => {
      val sf = graft.tpch.TpchGen.sfFromDir(dir)
      val d = documents(s, sf).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        ((count(lit(1)) - countDistinct(col("text")) >= 1) &&
          (count(lit(1)) - countDistinct(col("text")) <= count(lit(1)) / 20))
          .cast("long").as("exact_dups_bounded"))
      val e = events(s, sf).agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"),
        (min(col("ts")) >= ntzOfNs(s"${EventsEpochNs}L") &&
          max(col("ts")) < ntzOfNs(s"${EventsEpochNs + EventsWindowNs}L"))
          .cast("long").as("ts_in_window"))
      val v = embeddings(s, sf).agg(
        count(lit(1)).as("n_vecs"),
        (min(size(col("embedding"))) === 64 && max(size(col("embedding"))) === 64)
          .cast("long").as("dim64"),
        (max(abs(expr("aggregate(embedding, cast(0.0 AS double), (acc, x) -> acc + x * x)") - 1.0)) < 0.001)
          .cast("long").as("unit_norms"))
      d.crossJoin(broadcast(e)).crossJoin(broadcast(v))
    },
    Some("""
      SELECT (SELECT count(*) FROM documents) AS n_docs,
             CAST(5 AS BIGINT) AS n_langs,
             CAST(20 AS BIGINT) AS n_sources,
             CAST(1 AS BIGINT) AS exact_dups_bounded,
             (SELECT count(*) FROM events) AS n_events,
             CAST(5 AS BIGINT) AS n_types,
             CAST(1 AS BIGINT) AS ts_in_window,
             (SELECT count(*) FROM embeddings) AS n_vecs,
             CAST(1 AS BIGINT) AS dim64,
             CAST(1 AS BIGINT) AS unit_norms"""),
    tags = Set("gen"))

  def all: Seq[GQuery] = Seq(genAuxProfile)
}
