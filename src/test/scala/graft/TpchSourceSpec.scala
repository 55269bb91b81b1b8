package graft

import graft.tpch.TpchGen

/** The `tpch` format closes the reference's inline-parameterized
  * generation gap (`SELECT * FROM tpch_lineitem(1)`,
  * clflushopt/datafusion-tpch src/lib.rs:69-106): sf and table ride
  * the read options — or the SQL text itself via `USING tpch` — with
  * zero testdata dependence. The scan delegates to TpchGen.table, so
  * these tests pin that the format's output IS the generator's. */
class TpchSourceSpec extends SparkSpecBase {

  private val SF = 0.02

  private def viaFormat(table: String) =
    spark.read.format("tpch").option("sf", SF).option("table", table).load()

  test("every generated table reads via format(\"tpch\") with generator-exact counts") {
    for (t <- TpchGen.tableNames)
      assert(viaFormat(t).count() == TpchGen.table(spark, t, SF).count(), s"table $t")
  }

  test("format output is multiset-identical to the TpchGen plan") {
    val viaSource = viaFormat("orders")
    val direct = TpchGen.table(spark, "orders", SF)
    assert(viaSource.schema == direct.schema)
    val diff = viaSource.exceptAll(direct).count() + direct.exceptAll(viaSource).count()
    assert(diff == 0, s"$diff rows differ between format scan and generator plan")
    // a pruned lineitem read drops the explode's unread child columns
    val lines = viaFormat("lineitem").select("l_linenumber")
    val directLines = TpchGen.table(spark, "lineitem", SF).select("l_linenumber")
    assert(lines.exceptAll(directLines).count() + directLines.exceptAll(lines).count() == 0)
  }

  test("load path names the table; shard options slice it") {
    assert(spark.read.format("tpch").option("sf", SF).load("nation").count() == 25)
    val sharded = (0 until 3).map(p =>
      spark.read.format("tpch").option("sf", SF).option("table", "customer")
        .option("numParts", 3).option("part", p).load())
    assert(sharded.map(_.count()).sum == TpchGen.customer(spark, SF).count())
    // fixed tables follow shard-0-only semantics through the format too
    assert(spark.read.format("tpch").option("sf", SF).option("table", "region")
      .option("numParts", 3).option("part", 1).load().count() == 0)
  }

  test("column pruning reaches the format scan, and the scan is native DSv2") {
    // the format must plan a native BatchScan (TpchNativeScan) — not
    // an ExistingRDD bridge, which exits codegen into boxed Rows at the
    // scan boundary — and a 2-column projection must not synthesize
    // the other 7 orders columns
    val plan = viaFormat("orders").select("o_orderkey", "o_totalprice")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ExistingRDD"), s"tpch format left the native scan:\n$plan")
    val scanLine = plan.linesIterator.find(_.contains("TpchNativeScan"))
      .getOrElse(fail(s"no TpchNativeScan in plan:\n$plan"))
    assert(scanLine.contains("BatchScan"), scanLine)
    assert(scanLine.contains("o_orderkey") && scanLine.contains("o_totalprice"), scanLine)
    assert(!scanLine.contains("o_comment") && !scanLine.contains("o_orderdate"), scanLine)
    // every table, unsharded and as each shard of 3, full width and as
    // a count: no shape (a fixed table's empty shard included) leaves
    // the native scan
    for (t <- TpchGen.tableNames; part <- -1 until 3) {
      val r = spark.read.format("tpch").option("sf", SF).option("table", t)
      val df = if (part < 0) r.load() else r.option("numParts", 3).option("part", part).load()
      for (q <- Seq(df, df.groupBy().count())) {
        val p = q.queryExecution.executedPlan.toString
        assert(p.contains("TpchNativeScan") && !p.contains("ExistingRDD"),
          s"$t part $part:\n$p")
      }
    }
  }

  test("generation is parameterized fully inside SQL via USING tpch") {
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW tpch_src_lineitem " +
      s"USING tpch OPTIONS (table 'lineitem', sf '$SF')")
    try {
      val r = spark.sql("""
        SELECT l_returnflag, count(*) AS cnt, round(sum(l_quantity), 2) AS qty
        FROM tpch_src_lineitem GROUP BY l_returnflag""").collect()
      assert(r.map(_.getString(0)).toSet == Set("A", "N", "R"))
      assert(r.map(_.getLong(1)).sum == TpchGen.lineitem(spark, SF).count())
    } finally spark.catalog.dropTempView("tpch_src_lineitem")
  }

  test("the tpch catalog serves generated tables straight from SQL identifiers") {
    spark.conf.set("spark.sql.catalog.tpch", "graft.sources.TpchCatalog")
    // underscore spelling for a fractional sf (dot separates SQL
    // identifiers); counts must equal the direct generator's
    val n = spark.sql("SELECT count(*) AS c FROM tpch.sf0_02.lineitem").head().getLong(0)
    assert(n == TpchGen.lineitem(spark, 0.02).count())
    // backticked dot spelling and an integer sf namespace
    assert(spark.sql("SELECT count(*) AS c FROM tpch.`sf0.02`.orders").head().getLong(0)
      == TpchGen.orders(spark, 0.02).count())
    assert(spark.sql("SELECT count(*) AS c FROM tpch.sf1.region").head().getLong(0) == 5)
    // SHOW TABLES sees the 8 virtual tables; unknown namespace/table fail
    assert(spark.sql("SHOW TABLES IN tpch.sf1").count() == 8)
    intercept[Exception](spark.sql("SELECT * FROM tpch.sf1.linitem").collect())
    intercept[Exception](spark.sql("SELECT * FROM tpch.nope.lineitem").collect())
    // read-only: no DDL reaches the generated namespace
    intercept[Exception](spark.sql("DROP TABLE tpch.sf1.lineitem"))
  }

  test("the tpch catalog exposes its namespace surface: SHOW, DESCRIBE, shard namespaces") {
    spark.conf.set("spark.sql.catalog.tpch", "graft.sources.TpchCatalog")
    // SHOW NAMESPACES advertises the canonical sf ladder...
    val shown = spark.sql("SHOW NAMESPACES IN tpch").collect().map(_.getString(0)).toSet
    assert(shown == Set("sf0_001", "sf0_01", "sf0_1", "sf1", "sf10", "sf100", "sf1000"), shown)
    // ...but the contract is dynamic: any sfX/sfX_Y resolves, and
    // DESCRIBE states the rule plus the parsed scale factor
    val desc = spark.sql("DESCRIBE NAMESPACE EXTENDED tpch.sf0_25").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("Properties").contains("sf,0.25"), desc)
    assert(desc("Comment").contains("virtual namespace"), desc)
    // part_I_of_N child namespace ≙ the reference UDTFs' (sf, part,
    // num_parts) arguments (lib.rs:84-106): shards tile the table
    val whole = TpchGen.customer(spark, 0.02).count()
    val shards = (0 until 3).map(p =>
      spark.sql(s"SELECT count(*) AS c FROM tpch.sf0_02.part_${p}_of_3.customer")
        .head().getLong(0))
    assert(shards.sum == whole, s"shards $shards vs whole $whole")
    assert(spark.sql("SHOW TABLES IN tpch.sf0_02.part_1_of_3").count() == 8)
    // invalid shard spellings are namespace errors, not silent full scans
    intercept[Exception](spark.sql("SELECT * FROM tpch.sf1.part_3_of_3.customer").collect())
    intercept[Exception](spark.sql("SELECT * FROM tpch.sf1.shard_1.customer").collect())
    // namespaces are as read-only as the tables
    intercept[Exception](spark.sql("CREATE NAMESPACE tpch.sf7"))
    intercept[Exception](spark.sql("DROP NAMESPACE tpch.sf1"))
  }

  test("write-path DDL fails with the documented read-only message") {
    // scaladoc claims "create / alter / drop / rename of tables or
    // namespaces all fail with UnsupportedOperationException" — pin the
    // message itself, not just that SOME exception surfaces (Spark wraps
    // catalog errors, so walk the cause chain for the documented text)
    spark.conf.set("spark.sql.catalog.tpch", "graft.sources.TpchCatalog")
    def rootMsg(f: => Any): String = {
      val e = intercept[Exception](f)
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    }
    val documented = "read-only: tables are generated, not stored"
    assert(rootMsg(spark.sql("CREATE TABLE tpch.sf1.foo (x INT) USING parquet"))
      .contains(documented))
    assert(rootMsg(spark.sql("DROP NAMESPACE tpch.sf1")).contains(documented))
    assert(rootMsg(spark.sql("DROP TABLE tpch.sf1.lineitem")).contains(documented))
    assert(rootMsg(spark.sql("ALTER TABLE tpch.sf1.lineitem RENAME TO tpch.sf1.li2"))
      .contains(documented))
  }

  test("bad options fail at resolution with actionable messages") {
    def msgOf(f: => Any): String =
      intercept[Exception](f).getMessage
    assert(msgOf(spark.read.format("tpch").option("sf", SF).option("table", "linitem").load())
      .contains("unknown tpch table"))
    assert(msgOf(spark.read.format("tpch").option("table", "orders").load())
      .contains("'sf'"))
    assert(msgOf(spark.read.format("tpch").option("sf", "fast").option("table", "orders").load())
      .contains("must be numeric"))
  }
}
