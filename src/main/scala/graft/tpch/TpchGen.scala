package graft.tpch

import graft.GQuery
import graft.functions.{OrderFold, TagHash}
import org.apache.spark.sql.{Column, DataFrame, GraftColumns, SparkSession}
import org.apache.spark.sql.classic.ColumnConversions._
import org.apache.spark.sql.functions._

/** §2.1 distributed TPC-H data generator — the reference's literal
  * API surface re-expressed for a cluster.
  *
  * Reference: clflushopt/datafusion-tpch exposes per-table UDTFs
  * `tpch_<table>(sf [, part, num_parts])` (src/lib.rs:132-186), a
  * `tpch(sf)` register-everything UDTF (src/lib.rs:217-270) and
  * partitioned generation via part/num_parts (src/lib.rs:84-106) —
  * but materialises each table into ONE in-memory batch on the
  * driver (`concat_batches`, src/lib.rs:117-124). That is the
  * single-node hack this implementation must not inherit: here every
  * table is `spark.range(n, parts)` → pure deterministic column
  * expressions, so generation is embarrassingly parallel, never
  * touches the driver, and scales linearly with executors — sf
  * 100 000 is the same code as sf 0.01.
  *
  * Determinism: every value is a codegen'd expression over the row
  * id (xxhash64-seeded), so any slice can be regenerated
  * independently (`part`/`numParts` ≙ the reference's part/num_parts)
  * and counts/domains are reproducible bit-for-bit regardless of
  * partitioning. Shapes follow the public TPC-H spec (row counts,
  * key layout, 4-suppliers-per-part partsupp structure, FK-consistent
  * lineitem supplier selection, value domains); text columns are
  * spec-shaped word salad, not dbgen-bit-identical (SURVEY §2.1).
  */
object TpchGen {

  // ------------------------------------------------------- primitives

  /** `xxhash64(lit(tag), c)`, with the tag hashed once per JVM
    * ([[graft.functions.TagHash]]); `c` must be a bigint. */
  private def h(tag: String, c: Column): Column = GraftColumns(TagHash(c.expr, tag))
  /** Uniform long in [0, m) — deterministic per (tag, id). */
  private def u(tag: String, c: Column, m: Long): Column = pmod(h(tag, c), lit(m))
  /** money in [lo, hi] with 2 decimals, from exact integer cents. */
  private def moneyIn(tag: String, c: Column, loCents: Long, hiCents: Long): Column =
    ((u(tag, c, hiCents - loCents + 1) + lit(loCents)) / lit(100.0))

  private def pick(arr: Seq[String], idx: Column): Column =
    element_at(array(arr.map(lit): _*), idx.cast("int") + 1)

  private val Words = Seq(
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black",
    "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse",
    "chiffon", "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan",
    "dark", "deep", "dim", "dodger", "drab", "firebrick", "floral", "forest", "frosted")

  private def words(tag: String, c: Column, n: Int): Column =
    concat_ws(" ", (0 until n).map(i => pick(Words, u(s"$tag$i", c, Words.length))): _*)

  /** Row ids [0, n) over `numParts` partitions, or just slice `part`
    * of them (≙ reference part/num_parts — regenerate any shard
    * independently, e.g. one shard per task on a 1000-executor
    * backfill). */
  private def ids(spark: SparkSession, n: Long, numParts: Int, part: Int): DataFrame = {
    if (part >= 0) {
      // shard boundaries must not depend on the machine: an explicit
      // numParts is required so slice [part] is the same slice on any
      // cluster size
      require(numParts > 0, "part requires an explicit numParts")
      require(part < numParts, s"part $part out of $numParts")
      spark.range(n * part / numParts, n * (part + 1) / numParts, 1, 1).toDF("i")
    } else {
      val p = math.max(1, if (numParts > 0) numParts else spark.sparkContext.defaultParallelism)
      spark.range(0, n, 1, p).toDF("i")
    }
  }

  private def rows(sf: Double, base: Long): Long = math.max(1L, (base * sf).toLong)

  // ----------------------------------------------------------- tables

  private val RegionNames = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  // (name, regionkey) per the public TPC-H spec nation list
  private val Nations = Seq(
    "ALGERIA" -> 0, "ARGENTINA" -> 1, "BRAZIL" -> 1, "CANADA" -> 1, "EGYPT" -> 4,
    "ETHIOPIA" -> 0, "FRANCE" -> 3, "GERMANY" -> 3, "INDIA" -> 2, "INDONESIA" -> 2,
    "IRAN" -> 4, "IRAQ" -> 4, "JAPAN" -> 2, "JORDAN" -> 4, "KENYA" -> 0,
    "MOROCCO" -> 0, "MOZAMBIQUE" -> 0, "PERU" -> 1, "CHINA" -> 2, "ROMANIA" -> 3,
    "SAUDI ARABIA" -> 4, "VIETNAM" -> 2, "RUSSIA" -> 3, "UNITED KINGDOM" -> 3,
    "UNITED STATES" -> 1)
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Types1 = Seq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
  private val Types2 = Seq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
  private val Types3 = Seq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  private val Cont1 = Seq("SM", "LG", "MED", "JUMBO", "WRAP")
  private val Cont2 = Seq("CASE", "BOX", "BAG", "JAR", "PKG", "PACK", "CAN", "DRUM")
  // l_shipmode / l_shipinstruct are DOMAIN columns per the spec (Q12
  // filters on shipmode membership), not free text — spec value lists,
  // not word salad, so the unadapted q12_full runs meaningfully
  private val ShipModes = Seq("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val ShipInstructs = Seq("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")

  def region(spark: SparkSession): DataFrame =
    ids(spark, 5, 1, -1).select(
      col("i").as("r_regionkey"),
      pick(RegionNames, col("i")).as("r_name"),
      words("rc", col("i"), 3).as("r_comment"))

  def nation(spark: SparkSession): DataFrame =
    ids(spark, 25, 1, -1).select(
      col("i").as("n_nationkey"),
      pick(Nations.map(_._1), col("i")).as("n_name"),
      pick(Nations.map(_._2.toString), col("i")).cast("long").as("n_regionkey"),
      words("nc", col("i"), 3).as("n_comment"))

  def supplier(spark: SparkSession, sf: Double, numParts: Int = 0, part: Int = -1): DataFrame =
    ids(spark, rows(sf, 10000), numParts, part).select(
      (col("i") + 1).as("s_suppkey"),
      format_string("Supplier#%09d", col("i") + 1).as("s_name"),
      words("sa", col("i"), 4).as("s_address"),
      u("sn", col("i"), 25).as("s_nationkey"),
      format_string("%02d-%03d-%03d-%04d", u("sn", col("i"), 25) + 10,
        u("sp1", col("i"), 1000), u("sp2", col("i"), 1000), u("sp3", col("i"), 10000))
        .as("s_phone"),
      moneyIn("sb", col("i"), -99999, 999999).as("s_acctbal"),
      words("sc", col("i"), 5).as("s_comment"))

  def customer(spark: SparkSession, sf: Double, numParts: Int = 0, part: Int = -1): DataFrame =
    ids(spark, rows(sf, 150000), numParts, part).select(
      (col("i") + 1).as("c_custkey"),
      format_string("Customer#%09d", col("i") + 1).as("c_name"),
      words("ca", col("i"), 4).as("c_address"),
      u("cn", col("i"), 25).as("c_nationkey"),
      format_string("%02d-%03d-%03d-%04d", u("cn", col("i"), 25) + 10,
        u("cp1", col("i"), 1000), u("cp2", col("i"), 1000), u("cp3", col("i"), 10000))
        .as("c_phone"),
      moneyIn("cb", col("i"), -99999, 999999).as("c_acctbal"),
      pick(Segments, u("cs", col("i"), 5)).as("c_mktsegment"),
      words("cc", col("i"), 5).as("c_comment"))

  /** p_retailprice in exact integer cents per the spec formula — also
    * recomputed from l_partkey inside [[lineitem]] so extendedprice is
    * FK-consistent without a join, and per line inside
    * [[graft.functions.OrderFold]] (the same formula in Java) so
    * o_totalprice is lineitem-consistent without one. */
  private def retailPriceCents(pk: Column): Column =
    lit(90000) + pmod((pk / lit(10)).cast("long"), lit(20001)) + lit(100) * pmod(pk, lit(1000))

  private def retailPrice(pk: Column): Column = retailPriceCents(pk) / lit(100.0)

  def part(spark: SparkSession, sf: Double, numParts: Int = 0, part: Int = -1): DataFrame =
    ids(spark, rows(sf, 200000), numParts, part).select(
      (col("i") + 1).as("p_partkey"),
      words("pn", col("i"), 5).as("p_name"),
      format_string("Manufacturer#%d", u("pm", col("i"), 5) + 1).as("p_mfgr"),
      format_string("Brand#%d%d", u("pm", col("i"), 5) + 1, u("pb", col("i"), 5) + 1).as("p_brand"),
      concat_ws(" ", pick(Types1, u("pt1", col("i"), 6)), pick(Types2, u("pt2", col("i"), 5)),
        pick(Types3, u("pt3", col("i"), 5))).as("p_type"),
      (u("ps", col("i"), 50) + 1).as("p_size"),
      concat_ws(" ", pick(Cont1, u("pc1", col("i"), 5)), pick(Cont2, u("pc2", col("i"), 8)))
        .as("p_container"),
      retailPrice(col("i") + 1).as("p_retailprice"),
      words("pc", col("i"), 3).as("p_comment"))

  /** ps_suppkey layout after the spec's: the j-th (j∈0..3) supplier
    * of part pk is ((pk + (pk-1)/S + j·(S/4)) mod S) + 1 — each
    * part's suppliers spread across the four quarters of the supplier
    * space with a per-part-block shift. (The spec multiplies the
    * block shift by j too, which collides mod S below its official
    * minimum sf; hoisting it guarantees 4 distinct suppliers for any
    * S ≥ 4: j·⌊S/4⌋ < S for j ≤ 3.) [[lineitem]] picks its supplier
    * with the same formula, so lineitem (partkey, suppkey) pairs
    * always exist in partsupp. */
  private def psSupp(pk: Column, j: Column, s: Long): Column =
    pmod(pk + ((pk - 1) / lit(s)).cast("long") + j * lit(s / 4), lit(s)) + 1

  def partsupp(spark: SparkSession, sf: Double, numParts: Int = 0, part: Int = -1): DataFrame = {
    val s = rows(sf, 10000)
    ids(spark, rows(sf, 200000) * 4, numParts, part).select(
      ((col("i") / lit(4)).cast("long") + 1).as("ps_partkey"),
      pmod(col("i"), lit(4)).as("j"),
      col("i"))
      .select(
        col("ps_partkey"),
        psSupp(col("ps_partkey"), col("j"), s).as("ps_suppkey"),
        (u("pq", col("i"), 9999) + 1).as("ps_availqty"),
        moneyIn("pc", col("i"), 100, 100000).as("ps_supplycost"),
        words("psc", col("i"), 4).as("ps_comment"))
  }

  private val StartDate = "1992-01-01"
  private val OrderDateRange = 2406L // 1992-01-01 .. 1998-08-02

  /** o_orderkey is sparse per the spec (8 used of every 32). */
  private def orderKey(i: Column): Column = (i / lit(8)).cast("long") * 32 + pmod(i, lit(8)) + 1
  private def orderDate(okey: Column): Column =
    date_add(lit(StartDate).cast("date"), u("od", okey, OrderDateRange).cast("int"))
  /** custkeys skip multiples of 3 per the spec. */
  private def orderCust(okey: Column, c: Long): Column = {
    val m = u("oc", okey, 2 * (c / 3))
    (m / 2).cast("long") * 3 + pmod(m, lit(2)) + 1
  }

  /** Per-order fold over its 1..7 lineitems, re-synthesised from the
    * same deterministic per-line draws [[lineitem]] makes — the spec's
    * "orders derive from their lineitems" semantics WITHOUT a join:
    * generation stays a single narrow shuffle-free pipeline. A struct
    * of (tp, nf): Σ qty·rpc·(100−d)·(100+t) — the totalprice in exact
    * integer 10⁻⁶ currency units — and the count of linestatus='F'
    * lines for o_orderstatus ([[graft.functions.OrderFold]]). */
  private def orderFold(okey: Column, p: Long): Column = GraftColumns(OrderFold(okey.expr, p))

  def orders(spark: SparkSession, sf: Double, numParts: Int = 0, part: Int = -1): DataFrame = {
    val c = rows(sf, 150000)
    val p = rows(sf, 200000)
    ids(spark, rows(sf, 1500000), numParts, part)
      .select(orderKey(col("i")).as("o_orderkey"))
      .withColumn("lf", orderFold(col("o_orderkey"), p))
      .select(
        col("o_orderkey"),
        orderCust(col("o_orderkey"), c).as("o_custkey"),
        // spec semantics: F iff every line shipped before the cutoff
        // (all linestatus F), O iff none did, P for the mix
        when(col("lf.nf") === (pmod(col("o_orderkey"), lit(7)) + 1).cast("int"), "F")
          .when(col("lf.nf") === 0, "O")
          .otherwise("P").as("o_orderstatus"),
        // spec semantics: Σ l_extendedprice·(1−l_discount)·(1+l_tax)
        // over the order's lines, from the exact integer fold
        round(col("lf.tp") / lit(1000000.0), 2).as("o_totalprice"),
        orderDate(col("o_orderkey")).as("o_orderdate"),
        pick(Priorities, u("op", col("o_orderkey"), 5)).as("o_orderpriority"),
        format_string("Clerk#%09d", u("ock", col("o_orderkey"), math.max(1, (1000 * sf).toLong)) + 1)
          .as("o_clerk"),
        lit(0).as("o_shippriority"),
        // ~1% of orders carry the spec's Q13 comment pattern
        // (WORD1=special, WORD2=requests, separated so the middle
        // wildcard of '%special%requests%' is exercised) — dbgen's
        // grammar plants these; without them the textbook Q13's
        // NOT LIKE would be vacuous over pure word salad
        when(u("ocx", col("o_orderkey"), 100) === 0,
          concat_ws(" ", words("occ", col("o_orderkey"), 3),
            lit("special"), pick(Words, u("ocw", col("o_orderkey"), Words.length)),
            lit("requests")))
          .otherwise(words("occ", col("o_orderkey"), 5)).as("o_comment"))
  }

  /** 1..7 lineitems per order (spec distribution), exploded from the
    * order id stream — no join against orders: orderdate and
    * retailprice are recomputed from the same deterministic
    * expressions, so the fact table is self-contained and generation
    * stays a single narrow pipeline (scan-free, shuffle-free). */
  def lineitem(spark: SparkSession, sf: Double, numParts: Int = 0, part: Int = -1): DataFrame = {
    val p = rows(sf, 200000)
    val s = rows(sf, 10000)
    val base = ids(spark, rows(sf, 1500000), numParts, part)
      .select(orderKey(col("i")).as("l_orderkey"))
      // 1..7 lines per order from okey%7 (not a hash): near-uniform
      // over the sparse key stream AND replayable in plain SQL, which
      // keeps the gen_rowcounts oracle scale-adaptive
      .select(col("l_orderkey"),
        explode(sequence(lit(1), (pmod(col("l_orderkey"), lit(7)) + 1).cast("int")))
          .as("l_linenumber"))
    val rowId = col("l_orderkey") * 8 + col("l_linenumber") // unique per line
    val pk = u("lp", rowId, p) + 1
    val shipdate = date_add(orderDate(col("l_orderkey")), (u("lsd", rowId, 121) + 1).cast("int"))
    base.select(
      col("l_orderkey"),
      pk.as("l_partkey"),
      psSupp(pk, u("ls", rowId, 4), s).as("l_suppkey"),
      col("l_linenumber").cast("long").as("l_linenumber"),
      (u("lq", rowId, 50) + 1).cast("double").as("l_quantity"),
      ((u("lq", rowId, 50) + 1) * retailPrice(pk)).as("l_extendedprice"),
      (u("ld", rowId, 11) / lit(100.0)).as("l_discount"),
      (u("lt", rowId, 9) / lit(100.0)).as("l_tax"),
      when(u("lr", rowId, 4) === 0, "R").when(u("lr", rowId, 4) === 1, "A")
        .otherwise("N").as("l_returnflag"),
      when(shipdate < lit("1995-06-17").cast("date"), "F").otherwise("O").as("l_linestatus"),
      shipdate.as("l_shipdate"),
      date_add(orderDate(col("l_orderkey")), (u("lcd", rowId, 91) + 30).cast("int")).as("l_commitdate"),
      date_add(shipdate, (u("lrd", rowId, 30) + 1).cast("int")).as("l_receiptdate"),
      pick(ShipInstructs, u("lsi", rowId, 4)).as("l_shipinstruct"),
      pick(ShipModes, u("lsm", rowId, 7)).as("l_shipmode"),
      words("lc", rowId, 3).as("l_comment"))
  }

  /** The 8 generated view names, registration order. */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "supplier", "customer", "part", "partsupp", "orders", "lineitem")

  /** Sharded dispatch for the fixed-size tables: region/nation take
    * no sf and no shard split, but a sharded backfill (`part` per
    * task, outputs appended) must still see each of their rows exactly
    * once across shards — so shard 0 carries the whole table and every
    * other shard is empty. Same validation as [[ids]] so a bad shard
    * spec fails identically for all 8 tables. */
  private def fixedShard(full: DataFrame, numParts: Int, part: Int): DataFrame =
    if (part < 0) full
    else {
      require(numParts > 0, "part requires an explicit numParts")
      require(part < numParts, s"part $part out of $numParts")
      if (part == 0) full else full.limit(0)
    }

  /** Generator dispatch by table name — the single construction point
    * shared by [[registerAll]], [[persistAll]] and the `tpch`
    * DataSource (`spark.read.format("tpch")`), so every surface emits
    * the identical deterministic plan. */
  def table(spark: SparkSession, name: String, sf: Double,
      numParts: Int = 0, part: Int = -1): DataFrame = name match {
    case "region"   => fixedShard(region(spark), numParts, part)
    case "nation"   => fixedShard(nation(spark), numParts, part)
    case "supplier" => supplier(spark, sf, numParts, part)
    case "customer" => customer(spark, sf, numParts, part)
    case "part"     => this.part(spark, sf, numParts, part)
    case "partsupp" => partsupp(spark, sf, numParts, part)
    case "orders"   => orders(spark, sf, numParts, part)
    case "lineitem" => lineitem(spark, sf, numParts, part)
    case other => throw new IllegalArgumentException(
      s"unknown tpch table '$other' (expected one of ${tableNames.mkString(", ")})")
  }

  /** Register all 8 generated tables as temp views — ≙ the
    * reference's `tpch(sf)` UDTF (src/lib.rs:217-270). Overwrites any
    * same-named views (e.g. testdata ones from Tables.registerAll). */
  def registerAll(spark: SparkSession, sf: Double, numParts: Int = 0): Unit =
    tableNames.foreach(n => table(spark, n, sf, numParts).createOrReplaceTempView(n))

  /** One-call generate-and-persist — ≙ the reference's COPY-to-parquet
    * demo (`examples/parquet.rs:1-34`) and the documented `tpch(sf,
    * path)` surface (src/lib.rs:277-279). Writes each table as parquet
    * at [[graft.sources.Tables.path]], the SAME layout the testdata dirs use,
    * so the output directory is a drop-in source for every
    * [[graft.sources.Tables]] accessor and registry query (GenSqlSpec
    * pins the persist→read-back→q1 round trip). Delegates to
    * [[graft.sources.Sinks.writeParquet]] — no coalesce, so file
    * count follows generator task count: an sf100k backfill on 1000
    * executors writes 1000-way parallel, and any shard can be
    * re-persisted alone via `table(..., numParts, part)`. */
  def persistAll(spark: SparkSession, sf: Double, dir: String,
      numParts: Int = 0, mode: String = "overwrite"): Unit =
    tableNames.foreach { n =>
      graft.sources.Sinks.writeParquet(table(spark, n, sf, numParts),
        graft.sources.Tables.path(dir, n), mode = mode)
    }

  /** One-call SQL surface ≙ the reference's "register then query from
    * SQL" demo (src/lib.rs:272-316): registers the 8 generated views
    * at `sf` and runs the statement against them. Spark has no
    * user-defined SQL table function to spell `tpch_lineitem(sf)`
    * inline, so the sf parameter rides the registration call — the
    * view bodies are lazy generator plans, not materialised data, so
    * re-registering at a new sf is free. */
  def sql(spark: SparkSession, sf: Double, stmt: String, numParts: Int = 0): DataFrame = {
    registerAll(spark, sf, numParts)
    spark.sql(stmt)
  }

  // ---------------------------------------------------- GQuery surface

  /** Scale factor named by a testdata dir: the LAST `sf<number>` in
    * the path, so `/data/sf2024/runs/sf0.1` is 0.1 and a trailing dot
    * (`sf0.1.`) is not part of the number; None when the path names
    * none. */
  private[graft] def sfOf(dir: String): Option[Double] =
    "sf([0-9]+(?:\\.[0-9]+)?)".r.findAllMatchIn(dir).toSeq.lastOption.map(_.group(1).toDouble)

  /** [[sfOf]], defaulting to 0.01, so generation runs at the bench's
    * scale; correctness runs at sf0.01 where the constant oracles
    * below are pinned. */
  private[graft] def sfFromDir(dir: String): Double = sfOf(dir).getOrElse(0.01)

  /** Distributed generation of all 8 tables; returns (table_name,
    * n_rows). The oracle derives every expected count from the
    * testdata row counts at the SAME sf (spec scaling: partsupp =
    * 4·parts; lineitem replays the sparse-orderkey + okey%7 layout
    * via `range(count(orders))`), so the check is scale-adaptive, not
    * pinned to sf0.01. */
  val genRowcounts: GQuery = GQuery(
    "gen_rowcounts",
    (s, dir) => {
      val sf = sfFromDir(dir)
      val tables: Seq[(String, DataFrame)] = Seq(
        "region" -> region(s), "nation" -> nation(s),
        "supplier" -> supplier(s, sf), "customer" -> customer(s, sf),
        "part" -> part(s, sf), "partsupp" -> partsupp(s, sf),
        "orders" -> orders(s, sf), "lineitem" -> lineitem(s, sf))
      tables.map { case (n, df) =>
        df.agg(count(lit(1)).as("n_rows")).select(lit(n).as("table_name"), col("n_rows"))
      }.reduce(_ unionByName _)
    },
    Some("""
      SELECT 'region' AS table_name, CAST(5 AS BIGINT) AS n_rows
      UNION ALL SELECT 'nation', 25
      UNION ALL SELECT 'supplier', (SELECT count(*) FROM supplier)
      UNION ALL SELECT 'customer', (SELECT count(*) FROM customer)
      UNION ALL SELECT 'part', (SELECT count(*) FROM part)
      UNION ALL SELECT 'partsupp', 4 * (SELECT count(*) FROM part)
      UNION ALL SELECT 'orders', (SELECT count(*) FROM orders)
      UNION ALL SELECT 'lineitem',
        (SELECT CAST(sum(1 + ((((i // 8) * 32) + (i % 8) + 1) % 7)) AS BIGINT)
         FROM (SELECT row_number() OVER () - 1 AS i FROM orders) t)"""),
    tags = Set("gen"))

  /** Value-domain profile of generated lineitem — proves spec-shaped
    * generation (key ranges, qty/discount/tax domains, flag
    * cardinalities). Key ranges derive from the testdata counts at
    * the same sf (scale-adaptive); value domains are sf-independent
    * constants. */
  val genLineitemProfile: GQuery = GQuery(
    "gen_lineitem_profile",
    (s, dir) => {
      val l = lineitem(s, sfFromDir(dir))
      l.agg(
        min(col("l_orderkey")).as("min_okey"), max(col("l_orderkey")).as("max_okey"),
        min(col("l_partkey")).as("min_pkey"), max(col("l_partkey")).as("max_pkey"),
        min(col("l_suppkey")).as("min_skey"), max(col("l_suppkey")).as("max_skey"),
        min(col("l_linenumber")).as("min_ln"), max(col("l_linenumber")).as("max_ln"),
        min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
        min(col("l_discount")).as("min_disc"), max(col("l_discount")).as("max_disc"),
        min(col("l_tax")).as("min_tax"), max(col("l_tax")).as("max_tax"),
        countDistinct(col("l_returnflag")).as("n_flags"),
        countDistinct(col("l_linestatus")).as("n_status"))
    },
    Some("""
      SELECT CAST(1 AS BIGINT) AS min_okey,
             (SELECT ((count(*) - 1) // 8) * 32 + ((count(*) - 1) % 8) + 1 FROM orders) AS max_okey,
             CAST(1 AS BIGINT) AS min_pkey, (SELECT count(*) FROM part) AS max_pkey,
             CAST(1 AS BIGINT) AS min_skey, (SELECT count(*) FROM supplier) AS max_skey,
             CAST(1 AS BIGINT) AS min_ln, CAST(7 AS BIGINT) AS max_ln,
             CAST(1 AS DOUBLE) AS min_qty, CAST(50 AS DOUBLE) AS max_qty,
             CAST(0.0 AS DOUBLE) AS min_disc, CAST(0.1 AS DOUBLE) AS max_disc,
             CAST(0.0 AS DOUBLE) AS min_tax, CAST(0.08 AS DOUBLE) AS max_tax,
             CAST(3 AS BIGINT) AS n_flags, CAST(2 AS BIGINT) AS n_status"""),
    tags = Set("gen"))

  /** Generated partsupp joined to generated part/supplier: spec
    * layout (exactly 4 distinct suppliers per part) and zero dangling
    * FKs — and every generated lineitem (partkey, suppkey) pair
    * exists in partsupp (the psSupp formula shared between the two
    * generators). Scale-adaptive oracle (n_pairs = 4·parts). */
  val genPartsuppJoin: GQuery = GQuery(
    "gen_partsupp_join",
    (s, dir) => {
      val sf = sfFromDir(dir)
      val ps = partsupp(s, sf)
      val p = part(s, sf).select(col("p_partkey"))
      val su = supplier(s, sf).select(col("s_suppkey"))
      val perPart = ps.groupBy(col("ps_partkey")).agg(countDistinct(col("ps_suppkey")).as("nsupp"))
      val l = lineitem(s, sf).select(col("l_partkey"), col("l_suppkey")).distinct()
      val danglingPart = ps.join(p, col("ps_partkey") === col("p_partkey"), "left_anti")
      val danglingSupp = ps.join(su, col("ps_suppkey") === col("s_suppkey"), "left_anti")
      val lNotInPs = l.join(ps,
        col("l_partkey") === col("ps_partkey") && col("l_suppkey") === col("ps_suppkey"),
        "left_anti")
      ps.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(perPart.agg(min(col("nsupp")).as("min_supp_per_part"),
          max(col("nsupp")).as("max_supp_per_part")))
        .crossJoin(danglingPart.agg(count(lit(1)).as("dangling_part_fk")))
        .crossJoin(danglingSupp.agg(count(lit(1)).as("dangling_supp_fk")))
        .crossJoin(lNotInPs.agg(count(lit(1)).as("lineitem_pairs_not_in_ps")))
    },
    Some("""
      SELECT 4 * (SELECT count(*) FROM part) AS n_pairs,
             CAST(4 AS BIGINT) AS min_supp_per_part, CAST(4 AS BIGINT) AS max_supp_per_part,
             CAST(0 AS BIGINT) AS dangling_part_fk, CAST(0 AS BIGINT) AS dangling_supp_fk,
             CAST(0 AS BIGINT) AS lineitem_pairs_not_in_ps"""),
    tags = Set("gen"))

  /** Generated orders vs generated lineitem: o_totalprice must equal
    * the Σ l_extendedprice·(1−l_discount)·(1+l_tax) of the order's
    * lines (within half-cent rounding + FP tolerance — the analytic
    * fold is integer-exact, the lineitem-side recompute is double
    * arithmetic), and o_orderstatus must equal the status derived
    * from the lines' linestatus values — i.e. the spec's
    * orders↔lineitem consistency that [[orderFold]] synthesises
    * without a join.
    *
    * ONE generator pass: both sides re-derive per order id inside the
    * same Range scan — the orders side via the exact integer fold of
    * the [[graft.functions.OrderFold]] kernel (what [[orders]] ships),
    * the lineitem side via an array fold of the literal
    * double-arithmetic column expressions [[lineitem]] emits. Those
    * are two separate code paths on purpose — Java draws in the kernel,
    * Catalyst expressions here — so the audit still catches drift
    * between them (e.g. a domain edit to one side), while the old
    * explode + groupBy + join — two full generator passes and two
    * shuffles — collapses into a single narrow scan with one partial
    * agg. Scale-adaptive oracle (count from orders). */
  val genOrdersConsistency: GQuery = GQuery(
    "gen_orders_consistency",
    (s, dir) => {
      val sf = sfFromDir(dir)
      val p = rows(sf, 200000)
      val lines = sequence(lit(1), (pmod(col("okey"), lit(7)) + 1).cast("int"))
      // lineitem's emitted columns, re-derived per line in DOUBLE
      // arithmetic — the same expressions lineitem() writes
      val derivedTp = aggregate(lines, lit(0.0), (acc, ln) => {
        val rowId = col("okey") * 8 + ln
        val pk = u("lp", rowId, p) + 1
        acc + (u("lq", rowId, 50) + 1) * retailPrice(pk) *
          (lit(1) - u("ld", rowId, 11) / lit(100.0)) *
          (lit(1) + u("lt", rowId, 9) / lit(100.0))
      })
      // count of linestatus='F' lines via lineitem's shipdate formula
      val derivedNf = aggregate(lines, lit(0), (acc, ln) => {
        val rowId = col("okey") * 8 + ln
        val shipdate = date_add(orderDate(col("okey")), (u("lsd", rowId, 121) + 1).cast("int"))
        acc + when(shipdate < lit("1995-06-17").cast("date"), 1).otherwise(0)
      })
      ids(s, rows(sf, 1500000), 0, -1)
        .select(orderKey(col("i")).as("okey"))
        .withColumn("lf", orderFold(col("okey"), p))
        .select(
          // orders' shipped values (same formulas as orders())
          round(col("lf.tp") / lit(1000000.0), 2).as("o_totalprice"),
          when(col("lf.nf") === (pmod(col("okey"), lit(7)) + 1).cast("int"), "F")
            .when(col("lf.nf") === 0, "O").otherwise("P").as("o_orderstatus"),
          // lineitem's recompute
          derivedTp.as("tp"),
          when(derivedNf === (pmod(col("okey"), lit(7)) + 1).cast("int"), "F")
            .when(derivedNf === 0, "O").otherwise("P").as("status"))
        .agg(
          count(lit(1)).as("n_orders_checked"),
          sum(when(abs(col("o_totalprice") - col("tp")) > 0.01, 1L).otherwise(0L))
            .as("bad_totalprice"),
          sum(when(col("o_orderstatus") =!= col("status"), 1L).otherwise(0L))
            .as("bad_status"))
    },
    Some("""
      SELECT (SELECT count(*) FROM orders) AS n_orders_checked,
             CAST(0 AS BIGINT) AS bad_totalprice, CAST(0 AS BIGINT) AS bad_status"""),
    tags = Set("gen"))

  /** The `tpch` data-source format ([[graft.sources.TpchDataSource]])
    * proven through the correctness gate: all 8 tables read via
    * `spark.read.format("tpch")` at the dir's sf — their total row
    * count replays the spec layout, and the format's orders scan is
    * multiset-identical to the direct generator plan — checked as
    * equality of the order-independent sum of per-row xxhash64 over
    * all columns (equal multisets give equal sums; an inequality
    * colliding to equal sums needs a 2⁻⁶⁴ event), oracled to literal
    * 0. Two aggregates instead of the two wide exceptAll shuffles
    * this key first shipped with — TpchSourceSpec keeps the exact
    * exceptAll proof at spec scale. */
  val genSourceFormat: GQuery = GQuery(
    "gen_source_format",
    (s, dir) => {
      val sf = sfFromDir(dir)
      def read(t: String): DataFrame =
        s.read.format("tpch").option("sf", sf).option("table", t).load()
      val totals = tableNames.map(t => read(t).agg(count(lit(1)).as("c")))
        .reduce(_ unionByName _).agg(sum(col("c")).as("total_rows"))
      // decimal(38,0) sum: exact and overflow-free under ANSI mode
      // (~10⁶ rows × |hash| ≤ 2⁶³ stays far under 38 digits)
      def rowHashSum(df: DataFrame): DataFrame =
        df.agg(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
          .cast("decimal(38,0)")).as("h"))
      val drift = rowHashSum(read("orders")).crossJoin(
          rowHashSum(orders(s, sf)).withColumnRenamed("h", "h2"))
        .select(when(col("h") === col("h2"), 0L).otherwise(1L).as("orders_scan_drift"))
      totals.crossJoin(drift)
    },
    Some("""
      SELECT CAST(30
           + (SELECT count(*) FROM supplier)
           + (SELECT count(*) FROM customer)
           + 5 * (SELECT count(*) FROM part)
           + (SELECT count(*) FROM orders)
           + (SELECT CAST(sum(1 + ((((i // 8) * 32) + (i % 8) + 1) % 7)) AS BIGINT)
              FROM (SELECT row_number() OVER () - 1 AS i FROM orders) t)
           AS BIGINT) AS total_rows,
             CAST(0 AS BIGINT) AS orders_scan_drift"""),
    tags = Set("gen"))

  def all: Seq[GQuery] = Seq(genRowcounts, genLineitemProfile, genPartsuppJoin,
    genOrdersConsistency, genSourceFormat)
}
