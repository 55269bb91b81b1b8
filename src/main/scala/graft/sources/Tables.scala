package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** The one owner of where a corpus table lives and how it is read.
  *
  * A corpus directory holds one parquet dataset per table at
  * `<dir>/<table>.parquet` ([[path]]); every table has ONE shape, the
  * one the testdata dirs store — `TpchGen.persistAll` and
  * `AuxGen.persistAll` write it (`events.ts` as TIMESTAMP_NTZ µs,
  * `events.value` as DOUBLE), so every read is the same plain
  * [[load]]. Column pruning and filter pushdown are left to Catalyst
  * (asserted in `TablesSpec`). At 100 TB the same load works unchanged
  * against a directory of many files — `spark.read.parquet` splits by
  * `files.maxPartitionBytes`.
  *
  * Reference surface: clflushopt/datafusion-tpch registers these
  * tables in the session catalog (src/lib.rs:232-261); here
  * `registerAll` does the same as temp views so `spark.sql` works on
  * top of the identical names.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Where table `name` of the corpus at `dir` lives. */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** A TIMESTAMP_NTZ column (`events.ts`) as the instant with the same
    * wall-clock reading in UTC, built from its fields with the zone
    * named — the DuckDB oracles read `ts` as wall clock. A cast (or
    * `timestampdiff`, or NTZ interval arithmetic) reads it in the
    * session time zone instead, where a time inside a daylight-saving
    * gap moves an hour later, past events it preceded. */
  def wallClock(ts: Column): Column = {
    import org.apache.spark.sql.functions._
    make_timestamp(year(ts), month(ts), day(ts), hour(ts), minute(ts),
      date_part(lit("SECOND"), ts), lit("UTC"))
  }

  /** Run the SQL `text` in `spark` over the corpus at `dir`: every
    * corpus table the text names is bound to its file by a `WITH <table>
    * AS (SELECT * FROM parquet.`<path>`)` prelude, merged into the text's
    * own `WITH` clause if it has one. The names resolve inside the
    * statement, so the caller's temp views neither shadow them nor
    * change, and the text runs under the caller's own confs. */
  def sql(spark: SparkSession, dir: String, text: String): DataFrame =
    spark.sql(bind(dir, text))

  /** `text` with [[sql]]'s name-binding prelude. */
  private[graft] def bind(dir: String, text: String): String = {
    val bound = names.filter(n => s"\\b$n\\b".r.findFirstIn(text).nonEmpty)
      .map(n => s"$n AS (SELECT * FROM parquet.`${path(dir, n)}`)")
    val ownWith = """(?is)\s*WITH\s(.*)""".r
    if (bound.isEmpty) text
    else text match {
      case ownWith(rest) => bound.mkString("WITH ", ",\n", s",\n$rest")
      case _ => bound.mkString("WITH ", ",\n", s"\n$text")
    }
  }

  /** Register `tables` as temp views on `spark` (≙ the reference's
    * `tpch(sf)` UDTF registering all tables in the catalog). A builder
    * that runs a SQL text uses [[sql]]; one that needs views registers
    * them on a child session (`Sessions.childWith`), never on its
    * caller's. */
  def registerAll(spark: SparkSession, dir: String, tables: Seq[String]): Unit =
    registerViews(tables.map(n => n -> load(spark, dir, n)))

  /** Register each frame as a temp view, under its name, on the
    * frame's own session. */
  def registerViews(views: Seq[(String, DataFrame)]): Unit =
    views.foreach { case (n, df) => df.createOrReplaceTempView(n) }
}
