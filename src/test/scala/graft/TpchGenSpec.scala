package graft

import graft.tpch.TpchGen
import org.apache.spark.sql.functions._

/** Generator-shape properties: row counts scale with sf, values are
  * identical regardless of partitioning (the property that makes
  * distributed generation correct), slices compose, FKs hold. */
class TpchGenSpec extends SparkSpecBase {

  test("row counts scale with sf") {
    assert(TpchGen.region(spark).count() == 5)
    assert(TpchGen.nation(spark).count() == 25)
    assert(TpchGen.supplier(spark, 0.001).count() == 10)
    assert(TpchGen.customer(spark, 0.001).count() == 150)
    assert(TpchGen.part(spark, 0.001).count() == 200)
    assert(TpchGen.partsupp(spark, 0.001).count() == 800)
    assert(TpchGen.orders(spark, 0.001).count() == 1500)
  }

  test("generation is partitioning-invariant") {
    val a = TpchGen.supplier(spark, 0.001, numParts = 2).orderBy(col("s_suppkey")).collect()
    val b = TpchGen.supplier(spark, 0.001, numParts = 7).orderBy(col("s_suppkey")).collect()
    assert(a.toSeq == b.toSeq)
  }

  test("part/numParts slices compose to the full table") {
    val full = TpchGen.customer(spark, 0.001).orderBy(col("c_custkey")).collect()
    val sliced = (0 until 3)
      .map(p => TpchGen.customer(spark, 0.001, numParts = 3, part = p))
      .reduce(_ unionByName _).orderBy(col("c_custkey")).collect()
    assert(full.toSeq == sliced.toSeq)
  }

  test("sharded table() emits region/nation exactly once across shards") {
    // a sharded backfill appends table(name, sf, numParts, p) for every
    // p — the fixed tables must land wholly in shard 0, never per-shard
    for (t <- Seq("region", "nation")) {
      val perShard = (0 until 3).map(p =>
        TpchGen.table(spark, t, 0.001, numParts = 3, part = p).count())
      val expected = if (t == "region") 5L else 25L
      assert(perShard == Seq(expected, 0L, 0L), s"$t shards: $perShard")
    }
    // same shard-spec validation as the scaled tables
    intercept[IllegalArgumentException](TpchGen.table(spark, "region", 0.001, part = 0))
    intercept[IllegalArgumentException](TpchGen.table(spark, "nation", 0.001, numParts = 2, part = 2))
  }

  test("partsupp: exactly 4 distinct suppliers per part at any scale, FKs resolve") {
    for (sf <- Seq(0.001, 0.01)) {
      val ps = TpchGen.partsupp(spark, sf)
      val perPart = ps.groupBy(col("ps_partkey"))
        .agg(countDistinct(col("ps_suppkey")).as("n"))
        .agg(min(col("n")).as("mn"), max(col("n")).as("mx")).head()
      assert(perPart.getLong(0) == 4 && perPart.getLong(1) == 4, s"sf=$sf")
      val su = TpchGen.supplier(spark, sf).select(col("s_suppkey"))
      assert(ps.join(su, col("ps_suppkey") === col("s_suppkey"), "left_anti").count() == 0, s"sf=$sf")
    }
  }

  test("lineitem (partkey, suppkey) pairs all exist in partsupp") {
    val l = TpchGen.lineitem(spark, 0.001).select(col("l_partkey"), col("l_suppkey")).distinct()
    val ps = TpchGen.partsupp(spark, 0.001)
    val dangling = l.join(ps,
      col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"),
      "left_anti")
    assert(dangling.count() == 0)
  }

  test("scale factor of a dir: the last sf<number> in the path") {
    assert(TpchGen.sfFromDir("/data/testdata/sf0.01") == 0.01)
    assert(TpchGen.sfFromDir("/data/sf2024/runs/sf0.1") == 0.1)
    assert(TpchGen.sfFromDir("/data/sf0.1.") == 0.1)
    assert(TpchGen.sfFromDir("/data/sf10/") == 10.0)
    assert(TpchGen.sfOf("/data/sf./tpch").isEmpty)
    assert(TpchGen.sfFromDir("/data/tpch") == 0.01)
  }

  test("orders custkeys skip multiples of 3 and stay in range") {
    val bad = TpchGen.orders(spark, 0.001)
      .filter(col("o_custkey") % 3 === 0 || col("o_custkey") < 1 || col("o_custkey") > 150)
    assert(bad.count() == 0)
  }
}
