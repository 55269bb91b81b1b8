package graft

import graft.functions.{OrderFold, TagHash}
import graft.tpch.TpchGen
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.classic.ColumnConversions._
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

  // ---- the generator's kernels against the built-in spellings they
  // replaced, kept here as the references

  private def refU(tag: String, c: Column, m: Column): Column = pmod(xxhash64(lit(tag), c), m)
  private def refU(tag: String, c: Column, m: Long): Column = refU(tag, c, lit(m))

  /** The `aggregate` fold `tpch_order_fold` replaced, as TpchGen spelled it. */
  private def lineFoldRef(okey: Column, p: Column): Column =
    aggregate(
      sequence(lit(1), (pmod(okey, lit(7)) + 1).cast("int")),
      struct(lit(0L).as("tp"), lit(0).as("nf")),
      (acc, ln) => {
        val rowId = okey * 8 + ln
        val qty = refU("lq", rowId, 50) + 1
        val pk = refU("lp", rowId, p) + 1
        val rpc = lit(90000) + pmod((pk / lit(10)).cast("long"), lit(20001)) + lit(100) * pmod(pk, lit(1000))
        val orderDate = date_add(lit("1992-01-01").cast("date"), refU("od", okey, 2406).cast("int"))
        val shipdate = date_add(orderDate, (refU("lsd", rowId, 121) + 1).cast("int"))
        struct(
          (acc.getField("tp") + qty * rpc *
            (lit(100) - refU("ld", rowId, 11)) * (lit(100) + refU("lt", rowId, 9))).as("tp"),
          (acc.getField("nf") +
            when(shipdate < lit("1995-06-17").cast("date"), 1).otherwise(0)).as("nf"))
      })

  private def orderFold(okey: Column, p: Long): Column = GraftColumns(OrderFold(okey.expr, p))

  test("tpch_order_fold equals the aggregate spelling for every order at sf0.01") {
    val p = 2000L // parts at sf0.01
    val okeys = TpchGen.orders(spark, 0.01).select(col("o_orderkey").as("okey"))
    val cmp = okeys.select(
      (orderFold(col("okey"), p) === lineFoldRef(col("okey"), lit(p))).as("same"))
      .agg(count(lit(1)), sum(when(col("same"), 0L).otherwise(1L))).head()
    assert(cmp.getLong(0) == 15000L && cmp.getLong(1) == 0L, cmp)
  }

  test("tpch_order_fold equals the aggregate spelling up to the sf 100 000 key range (property)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // sf 100 000: 1.5·10¹¹ orders → keys below 6·10¹¹, 2·10¹⁰ parts
    val maxOkey = 600000000000L
    val maxP = 20000000000L
    val pairGen = for {
      okey <- Gen.oneOf(Gen.choose(1L, 64L), Gen.choose(1L, maxOkey))
      p <- Gen.oneOf(Gen.oneOf(1L, 2L, 7L, 200L, 2000L, 20000L, maxP), Gen.choose(1L, maxP))
    } yield (okey, p)
    val sampled = (0 until 400).map(i => pairGen.apply(Gen.Parameters.default, Seed(9000L + i)).get)
    val edges = Seq((1L, 1L), (maxOkey, maxP), (maxOkey, 1L), (1L, maxP))
    import TestSession.spark.implicits._
    // p is a plan constant of the kernel, so the sweep calls the
    // kernel's entry points directly: `compute` (what generated code
    // calls) and the interpreted `eval`
    val ref = (edges ++ sampled).toDF("okey", "p")
      .select(col("okey"), col("p"), lineFoldRef(col("okey"), col("p")).as("r")).collect()
    val bad = ref.flatMap { r =>
      val (okey, p, want) = (r.getLong(0), r.getLong(1), r.getStruct(2))
      Seq(OrderFold.compute(okey, p), OrderFold(Literal(okey), p).eval().asInstanceOf[InternalRow])
        .filterNot(k => k.getLong(0) == want.getLong(0) && k.getInt(1) == want.getInt(1))
        .map(k => s"okey=$okey p=$p kernel=(${k.getLong(0)}, ${k.getInt(1)}) ref=$want")
    }
    assert(ref.length == 404 && bad.isEmpty, bad.take(3).mkString("; "))
  }

  /** Every tag the generator hashes with, read off its analyzed plans. */
  private def generatorTags: Set[String] =
    TpchGen.tableNames.flatMap { t =>
      TpchGen.table(spark, t, 0.01).queryExecution.analyzed
        .flatMap(_.expressions.flatMap(_.collect { case TagHash(_, tag) => tag }))
    }.toSet

  test("tag_hash equals xxhash64(lit(tag), c) for every generator tag, extremes and null included") {
    val tags = generatorTags.toSeq.sorted
    // the fold kernel's tags are among them (lineitem and orders draw them too)
    assert(Set("od", "lq", "lp", "ld", "lt", "lsd").subsetOf(tags.toSet), tags)
    import TestSession.spark.implicits._
    val rnd = new scala.util.Random(7)
    val values = Seq[Option[Long]](Some(0L), Some(Long.MinValue), Some(Long.MaxValue), None,
      Some(1L), Some(-1L), Some(8L * 600000000000L + 7)) ++ Seq.fill(20)(Some(rnd.nextLong()))
    val df = values.toDF("c")
    val cols = tags.flatMap(t => Seq(
      GraftColumns(TagHash(col("c").expr, t)).as(s"k_$t"), xxhash64(lit(t), col("c")).as(s"r_$t")))
    val rows = df.select(col("c") +: cols: _*).collect()
    val bad = for (r <- rows; (t, i) <- tags.zipWithIndex
      if r.getLong(1 + 2 * i) != r.getLong(2 + 2 * i)) yield s"tag=$t c=${r.get(0)}"
    assert(rows.length == values.length && bad.isEmpty, bad.take(3).mkString("; "))
    // interpreted eval agrees too, null child included
    for (t <- tags; v <- values) {
      val lit0 = Literal.create(v.map(Long.box).orNull, org.apache.spark.sql.types.LongType)
      assert(TagHash(lit0, t).eval() ==
        new org.apache.spark.sql.catalyst.expressions.XxHash64(Seq(Literal(t), lit0)).eval(), s"$t $v")
    }
  }

  test("tag_hash refuses a child that is not bigint") {
    // an int hashes through hashInt: accepting it would silently change values
    intercept[AnalysisException] {
      spark.range(3).select(GraftColumns(TagHash(col("id").cast("int").expr, "lq"))).collect()
    }
  }

  test("the generated tables keep their bytes: pinned sf0.01 digests") {
    // (rows, Σ xxhash64 over every column as decimal(38,0)) — the
    // gen_source_format spelling — pinned from the generator before
    // its kernels; perfbench caches DuckDB references under the corpus
    // checksum, so these must not move
    val pinned = Map(
      "region" -> (5L, BigDecimal("8522351934593858496")),
      "nation" -> (25L, BigDecimal("-17131946862762231087")),
      "supplier" -> (100L, BigDecimal("70595565655252521602")),
      "customer" -> (1500L, BigDecimal("506580619092047643480")),
      "part" -> (2000L, BigDecimal("-175201577032770900041")),
      "partsupp" -> (8000L, BigDecimal("954217759465309164407")),
      "orders" -> (15000L, BigDecimal("-7489145897678123003")),
      "lineitem" -> (59999L, BigDecimal("-2593904678345404423")))
    val got = TpchGen.tableNames.map(t => t -> TpchGenSpec.tableDigest(TpchGen.table(spark, t, 0.01))).toMap
    assert(got == pinned)
  }

  test("orders is one whole-stage-codegen stage with no lambda function") {
    val plan = TpchGen.orders(spark, 0.01).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    val overview = plan.linesIterator.dropWhile(_ != "== Physical Plan ==").drop(1)
      .takeWhile(_.trim.nonEmpty).toSeq
    assert(overview.nonEmpty && overview.forall(l => "^[ +\\-:|]*\\* ".r.findFirstIn(l).isDefined), plan)
    assert("codegen id : (\\d+)".r.findAllMatchIn(plan).map(_.group(1)).toSet == Set("1"), plan)
    assert(!plan.toLowerCase.contains("lambda"), plan)
  }

  test("TpchGen.table and the tpch format resolve in a plain session without graft's extensions") {
    // spark.sql.extensions is static: the first session of a JVM fixes it
    // for all later ones, so the plain session runs in a JVM of its own
    val javaBin = java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val cmd = Seq(javaBin, "-Xmx1g") ++
      org.apache.spark.launcher.JavaModuleOptions.defaultModuleOptionArray().toSeq ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.PlainSessionMain")
    val out = scala.sys.process.Process(cmd).!!(scala.sys.process.ProcessLogger(_ => ()))
    val lines = out.linesIterator.filter(_.startsWith("DIGEST ")).toSeq
    val orders = TpchGenSpec.tableDigest(TpchGen.orders(spark, 0.01))
    val lineitem = TpchGenSpec.tableDigest(TpchGen.lineitem(spark, 0.01))
    assert(lines == Seq(
      s"DIGEST table orders $orders", s"DIGEST format orders $orders",
      s"DIGEST table lineitem $lineitem", s"DIGEST format lineitem $lineitem"), out)
  }
}

object TpchGenSpec {
  /** (rows, Σ xxhash64 over every column), summed as decimal(38,0). */
  def tableDigest(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }
}

/** A plain `SparkSession.builder` session — no graft extension, no
  * graft conf — printing the digests of generated orders and lineitem
  * at sf0.01, through `TpchGen.table` and through the `tpch` format.
  * TpchGenSpec runs it in a JVM of its own. */
object PlainSessionMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("plain")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      require(spark.conf.getOption("spark.sql.extensions").forall(_.isEmpty),
        "the plain session must run without session extensions")
      for (t <- Seq("orders", "lineitem")) {
        println(s"DIGEST table $t ${TpchGenSpec.tableDigest(TpchGen.table(spark, t, 0.01))}")
        val viaFormat = spark.read.format("tpch").option("sf", 0.01).option("table", t).load()
        println(s"DIGEST format $t ${TpchGenSpec.tableDigest(viaFormat)}")
      }
    } finally spark.stop()
  }
}
