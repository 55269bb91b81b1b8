package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** §2.6 parquet-scan behaviour: filters reach the reader, projection
  * prunes the schema — the two properties that decide whether a
  * 100 TB scan reads 100 TB or 2 columns of it. */
class TablesSpec extends SparkSpecBase {

  private def scanString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q6-style predicates push down to the parquet scan") {
    val df = Tables.lineitem(spark, sfDir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07))
      .select(col("l_extendedprice"))
    // read the scan's own metadata — the plan's toString truncates long
    // filter lists
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no FileSourceScanExec leaf"))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_shipdate"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)"), pushed)
    assert(pushed.contains("LessThanOrEqual(l_discount,0.07)"), pushed)
  }

  test("projection prunes the read schema to selected columns") {
    val plan = scanString(
      Tables.lineitem(spark, sfDir).select(col("l_orderkey"), col("l_quantity")))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey"), readSchema)
    assert(readSchema.contains("l_quantity"), readSchema)
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_extendedprice"), readSchema)
  }

  test("registerAll exposes the accessor schema (events.ts is a timestamp)") {
    Tables.registerAll(spark, sfDir, Tables.names)
    val tsType = spark.sql("SELECT ts FROM events LIMIT 1").schema.head.dataType
    // every corpus stores ts as TIMESTAMP(MICROS) without UTC adjustment
    assert(tsType == org.apache.spark.sql.types.TimestampNTZType, tsType.toString)
  }

  test("op_lateral_join leaves the caller's temp views alone") {
    val caller = spark.newSession()
    caller.range(3).toDF("c_custkey").createOrReplaceTempView("customer")
    assert(SparkEntry.queries("op_lateral_join")(caller, sfDir).count() > 0)
    assert(caller.table("customer").count() == 3, "the key replaced the caller's customer view")
  }
}
