package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** §2.6 write/read helpers — the persistence surface (≙ the
  * reference's COPY-to-parquet examples, examples/parquet.rs).
  *
  * None of these coalesce: output file count follows the task count,
  * which is what a 1000-executor write needs (the Verify harness's
  * single-file dump is a dev-only exception, not this API).
  */
object Sinks {

  /** Partitioned parquet write. `partitionBy` columns become
    * directory partitions, so downstream reads with a filter on them
    * prune whole directories before any IO (dynamic partition
    * pruning at scale). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      mode: String = "overwrite"): Unit = {
    val w = df.write.mode(mode)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucketed (and bucket-sorted) parquet table: rows are hash-split
    * into `nBuckets` files per partition by `bucketCol`, recorded in
    * the catalog, so every LATER join or aggregation keyed on
    * `bucketCol` between co-bucketed tables reads pre-partitioned
    * data and plans with NO shuffle exchange — the pay-the-shuffle-
    * once pattern for a 100 TB fact table that is joined on the same
    * key query after query (SinksSpec pins the exchange-free plan).
    * Registered as an external table at `path` (the catalog holds
    * only metadata; DROP TABLE leaves the files). */
  def writeBucketed(df: DataFrame, table: String, path: String, bucketCol: String,
      nBuckets: Int, mode: String = "overwrite"): Unit = {
    // repartition on the bucket column first: bucketBy alone writes one
    // file per (write task, bucket) — a 32-task writer × 32 buckets is
    // 1024 fragment files whose concatenation is NOT sorted, so every
    // later merge join re-sorts and the scan pays small-file overhead.
    // repartition uses the same murmur3 hash as the bucket id, so each
    // task holds exactly one bucket → ONE sorted file per bucket, and
    // the scan reports its sort order (merge joins skip the Sort).
    import org.apache.spark.sql.functions.col
    df.repartition(nBuckets, col(bucketCol)).write.mode(mode)
      .option("path", path)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Registry key driving [[writeBucketed]] end-to-end — the
    * pay-the-shuffle-once layout pattern, driver-checked (before this
    * key the exchange-free property lived only in SinksSpec). The
    * build bucketizes lineitem and orders on the join key into 16
    * co-bucketed catalog tables (scratch path memoized per (context
    * incarnation, corpus) like [[compactScratch]] so repeated bench
    * runs don't accumulate copies in /tmp — every call still pays BOTH
    * full overwrite writes; the write IS part of the operator and of
    * its timed cost), then runs
    * the fact-fact join with a merge hint: co-bucketed scans feed the
    * sort-merge join with ZERO shuffle exchange (the spec pins the
    * plan), which at 100 TB is the difference between shuffling the
    * fact table on every query and shuffling it once at layout time.
    * The oracle replays the same join+rollup over the raw tables —
    * bucketing must not change a single row. */
  val bucketedJoin: graft.GQuery = graft.GQuery(
    "op_bucketed_join",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val wh = compactScratch(s, s"$dir#bkt")(
        java.nio.file.Files.createTempDirectory("graft_buckets").toString)
      writeBucketed(Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_quantity")),
        "graft_bkt_lineitem", s"$wh/li", "l_orderkey", 16)
      writeBucketed(Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderpriority")),
        "graft_bkt_orders", s"$wh/or", "o_orderkey", 16)
      s.table("graft_bkt_orders").hint("merge")
        .join(s.table("graft_bkt_lineitem"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("qty_cents"))
    },
    Some("""
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY 1"""),
    // duckNotComparable: the Spark side rewrites BOTH fact tables into
    // bucketed layouts before joining (the write is the operator); the
    // oracle runs a plain join — a ratio over this pair prices layout
    // construction against a query (r14 verdict)
    tags = Set("sinks", "duckNotComparable"))

  /** One bucketized (lineitem, orders) layout per (context incarnation,
    * full-TPC-H corpus root): the layout is CORPUS state, written once
    * and reused by every later call — the same pay-once contract as
    * [[graft.tpch.FullTpch.ensurePersisted]] itself. Values are the
    * registered catalog table names. */
  private val factLayouts = new graft.Sessions.ContextMemo[Seq[String]]
  private val layoutSeq = new java.util.concurrent.atomic.AtomicInteger()

  /** Memoized writer behind the layout family: one bucketized table
    * pair per (context incarnation, corpus root, layout tag), each
    * source file projected to its column list and bucket-sorted on its
    * key. Bucket count bounds the exchange-free scan's parallelism
    * (one task per bucket): 32 = this box's core count; a cluster
    * deployment sizes it to executor-cores × executors. */
  private def factLayout(s: SparkSession, root: String, tag: String,
      tables: Seq[(String, Seq[String], String)]): Seq[String] = {
    import org.apache.spark.sql.functions.col
    factLayouts(s, s"$root#$tag") {
      // table-name suffix: a monotone counter claimed INSIDE the
      // mapping function, never map size — two roots whose sanitized
      // tails collide (sf0.1 vs sf0_1) and first-build concurrently
      // would otherwise mint identical catalog names and silently
      // repoint one layout at the other corpus's data
      val suffix = root.replaceAll("[^A-Za-z0-9]", "_").takeRight(24) +
        s"_${layoutSeq.getAndIncrement()}"
      val wh = java.nio.file.Files.createTempDirectory("graft_fact_layout").toString
      def write(spec: (String, Seq[String], String)): String = {
        val (file, cols, bucketCol) = spec
        // full file name, not a prefix: "partsupp"/"part" share any
        // short prefix, and a collision silently repoints one catalog
        // table at the other's data
        val table = s"graft_bktfact_${tag}_$file$suffix"
        writeBucketed(Tables.load(s, root, file).select(cols.map(col): _*),
          table, s"$wh/$file", bucketCol, 32)
        table
      }
      tables.map(write)
    }
  }

  /** The shared orderkey-bucketed fact layout: lineitem + orders
    * bucket-sorted on the orderkey, projected to the union of the
    * columns the serving query family (q21/q18/q5/q4/q12/q7
    * `_full_bucketed`) reads — at 100 TB this is "store the fact
    * tables bucketed on their join key"; parquet column pruning keeps
    * each query's scan as narrow as its own column set. Written once
    * per corpus (see [[factLayouts]]); every key that reads it shares
    * the one write. Returns the registered (lineitem, orders) catalog
    * table names. */
  private def orderkeyLayout(s: SparkSession, root: String): (String, String) =
    pair(factLayout(s, root, "ok", Seq(
      // column set = union of what the serving family reads; widening
      // it costs only layout-write bytes — every query's scan stays as
      // narrow as its own projection (parquet column pruning)
      ("lineitem", Seq("l_orderkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount",
        "l_receiptdate", "l_commitdate", "l_shipdate", "l_shipmode"),
        "l_orderkey"),
      ("orders", Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"),
        "o_orderkey"))))

  private def pair(ts: Seq[String]): (String, String) = (ts.head, ts(1))

  /** Build every shared pay-once layout for `dir`'s corpus up front and
    * return the wall-seconds the writes took. Bench calls this BEFORE
    * its timed loop (when any `*_full_bucketed` key is selected) so the
    * consumer keys measure QUERIES while the write-once cost stays
    * priced in its own `layout_build` field — previously whichever
    * bucketed key ran first in a fresh JVM absorbed the whole shared
    * write (r15: q21_full_bucketed 13.4 s in-suite vs 0.77 s settled).
    * Idempotent per (context, corpus): later calls are memo lookups. */
  def prebuildLayouts(s: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    val root = graft.tpch.FullTpch.rootFor(s, dir)
    orderkeyLayout(s, root)
    partkeyLayout(s, root)
    custkeyLayout(s, root)
    (System.nanoTime() - t0) / 1e9
  }

  /** The PARTKEY sibling of [[orderkeyLayout]]: lineitem + part
    * bucket-sorted on the part key, serving the lineitem⋈part query
    * family (`q17_full_bucketed`). Separate layout, same contract —
    * a real deployment keeps one clustered copy of the fact table per
    * high-traffic join key and routes each query to the copy whose
    * bucketing its joins consume. */
  private def partkeyLayout(s: SparkSession, root: String): (String, String) =
    pair(factLayout(s, root, "pk", Seq(
      ("lineitem", Seq("l_partkey", "l_quantity", "l_extendedprice"), "l_partkey"),
      ("part", Seq("p_partkey", "p_brand", "p_container"), "p_partkey"))))

  /** Sub-session for reading the bucketed layout (shares the catalog,
    * so it sees the layout tables; own conf, so nothing leaks into the
    * caller's session): bucket-sorted scans only report their sort
    * order under `spark.sql.legacy.bucketedTableScan.outputOrdering` —
    * off by default since Spark 3.0 because it forces one-file-per-
    * bucket read granularity, which is exactly what [[writeBucketed]]'s
    * repartition guarantees — and without it every merge join re-sorts
    * the already-sorted bucket files. The caller's join-strategy tuning
    * is carried over so planner A/Bs see the layout keys. The child is
    * CACHED and shared by every layout key, so a key must never
    * `conf.set` on the session it gets back — the setting would leak
    * into every other key's plans (SinksSpec pins this). */
  private def sortedScanSession(s: SparkSession): SparkSession =
    // cached per conf set (r16 advice — see Sessions.childWith); the
    // caller's join-strategy tuning rides the cache key, so planner
    // A/Bs with different thresholds get distinct children
    graft.Sessions.childWith(s, Seq(
      "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" ->
        s.conf.get("spark.sql.autoBroadcastJoinThreshold")))

  /** Registry key measuring what the bucketed layout BUYS: textbook
    * TPC-H Q21 (the suite's worst measured sf10 spark/duck ratio — its
    * plan over raw parquet is three hash-partition exchanges of
    * lineitem projections for the EXISTS / NOT EXISTS self-joins plus
    * an orders exchange, dev/BENCH_NOTES.md round 14) rewritten over
    * lineitem + orders bucketed on the orderkey. All four fact
    * exchanges vanish: the co-bucketed scans feed the self-semi, the
    * self-anti, and the orders join directly, supplier and nation are
    * broadcast, and the only shuffle left in the whole query is the
    * final ≤|supplier|-row count-by-s_name (the spec pins exactly one
    * `Exchange hashpartitioning`). The layout is the shared
    * [[orderkeyLayout]], written once per corpus and reused by every
    * key it serves — at 100 TB this is "store the fact table bucketed
    * on its join key", the difference between re-shuffling lineitem on
    * every query and never shuffling it at all. Companion
    * of `op_bucketed_join`, which prices the layout write itself (its
    * every run pays the bucketize); this key prices the queries the
    * paid-for layout serves. The oracle is BYTE-IDENTICAL to
    * `q21_full_waiting_suppliers`' (the spec text over the raw
    * persisted tables): relayout must not change a single row. */
  val q21Bucketed: graft.GQuery = graft.GQuery(
    "q21_full_bucketed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = graft.tpch.FullTpch.rootFor(s, dir)
      val (liTable, orTable) = orderkeyLayout(s, root)
      val ss = sortedScanSession(s)
      val li = ss.table(liTable)
        .select(col("l_orderkey"), col("l_suppkey"),
          col("l_receiptdate"), col("l_commitdate"))
      val late = li.where(col("l_receiptdate") > col("l_commitdate"))
      // EXISTS: another supplier's line on the same order
      val multiSupplier = late.as("l1").join(li.as("l2"),
        col("l1.l_orderkey") === col("l2.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l2.l_suppkey"), "left_semi")
      // NOT EXISTS: no OTHER supplier was also late on that order
      val soleLate = multiSupplier.as("l1").join(late.as("l3"),
        col("l1.l_orderkey") === col("l3.l_orderkey") &&
          col("l1.l_suppkey") =!= col("l3.l_suppkey"), "left_anti")
      val fOrders = ss.table(orTable).where(col("o_orderstatus") === "F")
      val supp = Tables.load(ss, root, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_nationkey"))
      val saudi = Tables.load(ss, root, "nation")
        .where(col("n_name") === "SAUDI ARABIA").select(col("n_nationkey"))
      soleLate
        .join(fOrders, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(saudi), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc("numwait"), col("s_name"))
        .limit(100)
    },
    graft.tpch.FullTpch.q21Full.oracle,
    tags = Set("sinks", "tpch_full"))

  /** Second consumer of the shared [[orderkeyLayout]]: textbook TPC-H
    * Q18 (large-volume customers), whose every fact-side operation is
    * keyed on the orderkey — the `HAVING sum(l_quantity) > 300`
    * aggregation, the IN semi-join, the orders⋈lineitem join, and the
    * per-order rollup. Over the layout ALL of them consume the bucket
    * partitioning, and the one non-orderkey step (the customer lookup)
    * joins customer against a BROADCAST of the ≤few-hundred-row
    * qualifying-orders frame, so the executed plan has ZERO
    * `Exchange hashpartitioning` — against raw parquet the same query
    * hash-partitions lineitem twice, orders once, and both sides of
    * the customer join. Two row-preserving rewrites, both documented
    * because the oracle replays the spec text: (a) `sum_qty` is
    * aggregated per order BEFORE the customer join — o_orderkey is
    * unique in orders and the semi-join/1:N join keep one group per
    * order, and c_name/c_custkey are functionally determined by
    * o_custkey, so the spec's post-join GROUP BY collapses nothing the
    * pre-join rollup didn't; (b) the broadcast side is the rolled-up
    * order frame, bounded by the HAVING filter to a fixed small
    * FRACTION of orders (~60 at sf1) — the explicit hint pins the
    * build side unconditionally, which is right for any scale this
    * suite runs; a deployment where the qualifying set itself outgrew
    * broadcast (sf ≳ 10⁴) would drop the hint and let the planner
    * shuffle the tiny side against customer instead. Oracle
    * BYTE-IDENTICAL to
    * `q18_full_large_orders`' spec text over the raw tables. */
  val q18Bucketed: graft.GQuery = graft.GQuery(
    "q18_full_bucketed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = graft.tpch.FullTpch.rootFor(s, dir)
      val (liTable, orTable) = orderkeyLayout(s, root)
      val ss = sortedScanSession(s)
      val li = ss.table(liTable).select(col("l_orderkey"), col("l_quantity"))
      // HAVING sum(l_quantity) > 300 — exchange-free: grouping key IS
      // the bucket key
      val bigOrderKeys = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_quantity")).as("qty_sum"))
        .where(col("qty_sum") > 300).select(col("l_orderkey"))
      val ord = ss.table(orTable).select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderdate"))
      // IN (subquery) ⇒ left-semi; both sides bucket-partitioned on the
      // orderkey ⇒ no exchange
      val bigOrders = ord.join(bigOrderKeys,
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      // per-order rollup before the customer join (rewrite (a) above);
      // partitioning on o_orderkey satisfies the wider grouping set
      val perOrder = li.join(bigOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderdate"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
      val cust = Tables.load(ss, root, "customer")
        .select(col("c_custkey"), col("c_name"))
      cust.join(broadcast(perOrder), col("c_custkey") === col("o_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
        .orderBy(desc("o_totalprice"), col("o_orderdate"), col("o_orderkey"))
        .limit(100)
    },
    graft.tpch.FullTpch.q18Full.oracle,
    tags = Set("sinks", "tpch_full"))

  /** Third consumer of the shared [[orderkeyLayout]]: textbook TPC-H Q5
    * (local-supplier revenue), the worst quiet-settle sf10 ratio family
    * of round 15 (15-18× raw — dev/BENCH_NOTES.md): over raw parquet
    * its fact chain hash-partitions AND sorts customer, orders, and the
    * full 60M-row lineitem for two sort-merge joins. Over the layout
    * the orders⋈lineitem join streams the co-bucketed scans
    * exchange-free, and the joins are reordered (inner equi-joins
    * commute) so supplier and the ASIA-filtered nation list ride
    * broadcasts over the pre-reduced fact, and the customer join —
    * c_custkey = o_custkey AND c_nationkey = s_nationkey — SHUFFLES
    * the reduced fact (year- and region-filtered, three narrow
    * columns) against customer. Customer is deliberately NOT
    * broadcast: the three-arm interleaved A/B at sf10
    * (dev/BENCH_NOTES.md round 15) measured the
    * 1.5M-row broadcast BUILD costing more than the shuffle it saves
    * (bcast [3.62,3.98,...] vs shuffle [2.38,2.69,...] vs raw
    * [5.26,6.78,...]) — and unlike q18's few-hundred-row rollup
    * broadcast, a full-dimension broadcast also grows linearly with
    * sf, so the shuffle arm is BOTH the measured and the 100 TB-safe
    * choice. What the layout erases vs raw: the full-lineitem and
    * orders hash exchanges + sorts; what remains moves only the
    * reduced fact and customer (spec pins ≤3 hash exchanges — those
    * two plus the 25-group n_name rollup). Oracle BYTE-IDENTICAL to
    * `q5_full_local_supplier`'s spec text: relayout + reorder must not
    * change a single row. */
  val q5Bucketed: graft.GQuery = graft.GQuery(
    "q5_full_bucketed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = graft.tpch.FullTpch.rootFor(s, dir)
      val (liTable, orTable) = orderkeyLayout(s, root)
      val ss = sortedScanSession(s)
      val li = ss.table(liTable).select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
      val ord = ss.table(orTable)
        .where(col("o_orderdate") >= lit("1994-01-01").cast("date") &&
          col("o_orderdate") < lit("1995-01-01").cast("date"))
        .select(col("o_orderkey"), col("o_custkey"))
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
        .cast("long")
      // bucket-aligned fact join (zero exchange), reduced to the three
      // columns the dimension joins need
      val fact = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_suppkey"), cents.as("cents"))
      val supp = Tables.load(ss, root, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val asiaNations = Tables.load(ss, root, "nation")
        .join(broadcast(Tables.load(ss, root, "region")
          .where(col("r_name") === "ASIA").select(col("r_regionkey"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = Tables.load(ss, root, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      fact.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(asiaNations), col("s_nationkey") === col("n_nationkey"))
        .join(cust, col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg((sum(col("cents")).cast("double") / 100.0).as("revenue"))
        .orderBy(desc("revenue"))
    },
    graft.tpch.FullTpch.q5Full.oracle,
    tags = Set("sinks", "tpch_full"))

  /** Sole consumer of the [[partkeyLayout]]: textbook TPC-H Q17
    * (small-quantity revenue), round 15's second-worst non-correlated
    * sf10 residue (11.7× raw). Its cost over raw parquet is lineitem
    * paid TWICE on the partkey — once hash-partitioned + sorted for
    * the brand/container join, once for the correlated
    * 20%-of-avg-quantity rollup (Catalyst rewrites the subquery to an
    * aggregate + equi-join, so the raw plan is two full lineitem
    * exchanges + two sorts). Over the layout BOTH rides are free: the
    * per-partkey avg aggregates bucket-partitioned data with no
    * exchange, and the three-way join (lineitem ⋈ filtered part ⋈
    * avg frame) is bucket-aligned end to end — the executed plan's
    * only data movement is the single-row global aggregate's
    * `Exchange SinglePartition`, and its only Sort is the bucket-LOCAL
    * re-sort of the avg frame (one row per part — the hash aggregate
    * discards the scan's order before the merge join; never a
    * fact-side sort). Spec pins zero hash exchanges and exactly that
    * one sort. Oracle BYTE-IDENTICAL to
    * `q17_full_small_qty_revenue`'s spec text. */
  val q17Bucketed: graft.GQuery = graft.GQuery(
    "q17_full_bucketed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = graft.tpch.FullTpch.rootFor(s, dir)
      val (liTable, ptTable) = partkeyLayout(s, root)
      val ss = sortedScanSession(s)
      val li = ss.table(liTable)
        .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
      // the correlated subquery's avg is over ALL lines of the part
      // (no brand filter — it correlates only on the partkey);
      // grouping key = bucket key ⇒ exchange-free
      val qtyLim = li.groupBy(col("l_partkey"))
        .agg((avg(col("l_quantity")) * 0.2).as("qty_lim"))
        .withColumnRenamed("l_partkey", "lim_partkey")
      val pt = ss.table(ptTable)
        .where(col("p_brand") === "Brand#23" && col("p_container") === "MED BOX")
        .select(col("p_partkey"))
      li.join(pt, col("l_partkey") === col("p_partkey"))
        .join(qtyLim, col("l_partkey") === col("lim_partkey"))
        .where(col("l_quantity") < col("qty_lim"))
        .agg(round(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .cast("double") / 100.0 / 7.0, 2).as("avg_yearly"))
    },
    graft.tpch.FullTpch.q17Full.oracle,
    tags = Set("sinks", "tpch_full"))

  /** The CUSTKEY layout: orders + customer bucket-sorted on the
    * customer key, serving the custkey-joined family (`q13_full_
    * bucketed`). Orders carries its comment column here — q13's NOT
    * LIKE lives inside the outer-join condition, so the raw plan
    * shuffles 15M rows WITH the ~50-byte comment attached; the layout
    * pays that width once at write time and never moves it again. */
  private def custkeyLayout(s: SparkSession, root: String): (String, String) =
    pair(factLayout(s, root, "ck", Seq(
      ("orders", Seq("o_custkey", "o_orderkey", "o_comment"), "o_custkey"),
      ("customer", Seq("c_custkey"), "c_custkey"))))

  /** Fourth consumer of the shared [[orderkeyLayout]]: textbook TPC-H Q4
    * (order priority), 7.09× raw at the sf10 settle — raw answers the
    * EXISTS with a left-semi SMJ that hash-partitions the quarter of
    * orders AND the late half of lineitem. Over the layout BOTH sides
    * arrive bucket-partitioned and bucket-sorted, so the semi join is
    * exchange-free and sort-free; the only movement left is the 5-group
    * priority rollup (spec pins exactly one hash exchange).
    *
    * MEASURED VERDICT (round 16, interleaved same-JVM sf10 A/B, 5
    * rounds): raw [1.178,1.340,1.366,1.366,1.387] vs bucketed
    * [0.883,0.943,1.191,1.237,1.303] — a 1.33× win at the min (erased
    * fact sorts, not just exchanges — the sort work is real CPU on any
    * topology). Oracle BYTE-IDENTICAL to `q4_full_order_priority`'s
    * spec text. */
  val q4Bucketed: graft.GQuery = graft.GQuery(
    "q4_full_bucketed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = graft.tpch.FullTpch.rootFor(s, dir)
      val (liTable, orTable) = orderkeyLayout(s, root)
      val ss = sortedScanSession(s)
      val ord = ss.table(orTable)
        .where(col("o_orderdate") >= lit("1993-07-01").cast("date") &&
          col("o_orderdate") < lit("1993-10-01").cast("date"))
        .select(col("o_orderkey"), col("o_orderpriority"))
      val late = ss.table(liTable)
        .where(col("l_commitdate") < col("l_receiptdate"))
        .select(col("l_orderkey"))
      ord.join(late, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
    graft.tpch.FullTpch.q4Full.oracle,
    tags = Set("sinks", "tpch_full"))

  /** Fifth consumer of the shared [[orderkeyLayout]]: textbook TPC-H
    * Q12 (priority class), 6.25× raw at the sf10 settle — the
    * shipmode/date filters keep only ~4% of lineitem, but orders is
    * UNFILTERED, so the raw join hash-partitions all 15M orders rows
    * (too big to broadcast, too big to skip). Over the layout the join
    * streams both bucket-sorted scans exchange-free; the only movement
    * is the 2-group shipmode rollup (spec pins exactly one hash
    * exchange).
    *
    * MEASURED VERDICT (round 16, interleaved same-JVM sf10 A/B, 5
    * rounds): raw [1.200,1.209,1.261,1.285,1.403] vs bucketed
    * [1.002,1.094,1.147,1.253,1.413] — a 1.2× win at the min (the
    * erased 15M-row orders exchange + sort). Oracle BYTE-IDENTICAL to
    * `q12_full_priority_class`'s spec text. */
  val q12Bucketed: graft.GQuery = graft.GQuery(
    "q12_full_bucketed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = graft.tpch.FullTpch.rootFor(s, dir)
      val (liTable, orTable) = orderkeyLayout(s, root)
      val ss = sortedScanSession(s)
      val li = ss.table(liTable)
        .where(col("l_shipmode").isin("MAIL", "SHIP") &&
          col("l_commitdate") < col("l_receiptdate") &&
          col("l_shipdate") < col("l_commitdate") &&
          col("l_receiptdate") >= lit("1994-01-01").cast("date") &&
          col("l_receiptdate") < lit("1995-01-01").cast("date"))
        .select(col("l_orderkey"), col("l_shipmode"))
      val ord = ss.table(orTable).select(col("o_orderkey"), col("o_orderpriority"))
      val high = col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH"
      ord.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("l_shipmode"))
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy(col("l_shipmode"))
    },
    graft.tpch.FullTpch.q12Full.oracle,
    tags = Set("sinks", "tpch_full"))

  /** Sixth consumer of the shared [[orderkeyLayout]]: textbook TPC-H
    * Q7 (volume shipping) — the same plan family as q5 (round 15's
    * 1.7× layout win): raw hash-partitions AND sorts the 2-year slice
    * of lineitem (~17M rows at sf10) and all of orders for the fact
    * join, then exchanges again toward customer. Over the layout the
    * fact join is exchange-free; supplier (narrow, nation-pair-
    * filtered) rides a broadcast over the reduced fact exactly as in
    * q5, the customer join SHUFFLES the pair-reduced fact (never a
    * full-dimension broadcast — the q5 routing rule), and both nation
    * lookups are pre-filtered to the FRANCE/GERMANY pair (a legal
    * pushdown: every disjunct of the pair predicate requires both
    * nations in the pair) with the exact pair filter applied after the
    * joins.
    *
    * MEASURED VERDICT (round 16, two interleaved same-JVM sf10 A/Bs of
    * 5 rounds): bucketed wins in both windows — mins 2.049 vs raw
    * 2.536, and in the quieter re-run a tight [2.490,2.493,2.496] vs
    * raw [2.752,2.837,3.377] — a consistent 1.1-1.25× win (the erased
    * 17M-row fact exchange + sorts). Oracle BYTE-IDENTICAL to
    * `q7_full_volume_shipping`'s spec text. */
  val q7Bucketed: graft.GQuery = graft.GQuery(
    "q7_full_bucketed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = graft.tpch.FullTpch.rootFor(s, dir)
      val (liTable, orTable) = orderkeyLayout(s, root)
      val ss = sortedScanSession(s)
      val pairNations = Tables.load(ss, root, "nation")
        .where(col("n_name").isin("FRANCE", "GERMANY"))
        .select(col("n_nationkey"), col("n_name"))
      val li = ss.table(liTable)
        .where(col("l_shipdate").between(
          lit("1995-01-01").cast("date"), lit("1996-12-31").cast("date")))
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
            .cast("long").as("volume_cents"))
      val ord = ss.table(orTable).select(col("o_orderkey"), col("o_custkey"))
      val fact = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val supp = Tables.load(ss, root, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
        .join(broadcast(pairNations), col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      val cust = Tables.load(ss, root, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
        .join(broadcast(pairNations), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name").as("cust_nation"))
      fact.join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .where((col("supp_nation") === "FRANCE" && col("cust_nation") === "GERMANY") ||
          (col("supp_nation") === "GERMANY" && col("cust_nation") === "FRANCE"))
        .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
        .agg((sum(col("volume_cents")).cast("double") / 100.0).as("revenue"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
    graft.tpch.FullTpch.q7Full.oracle,
    tags = Set("sinks", "tpch_full"))

  /** Sole consumer of the [[custkeyLayout]]: textbook TPC-H Q13
    * (customer distribution), 6.13× raw at the sf10 settle — the raw
    * plan's dominant movement is the outer join's orders exchange,
    * which carries the ~50-byte o_comment on every one of 15M rows
    * because the spec's NOT LIKE lives INSIDE the join condition. Over
    * the custkey layout the left-outer join (comment predicate and
    * all) streams the co-bucketed scans exchange-free, and the
    * per-customer count aggregates the bucket key exchange-free too;
    * what remains is the ≤|distinct c_count|-row distribution rollup
    * (spec pins exactly one hash exchange).
    *
    * MEASURED VERDICT: round 16's 5-round sf10 A/B on local[32] read
    * parity (raw [1.580,1.593,1.596,1.597,1.656] vs bucketed
    * [1.511,1.556,1.626,1.636,1.744]); the 10-pair `AbMain` run at sf1
    * on 4 cores is a clear win — 10/10 pairs, median 1.241 s vs raw
    * 1.833 s, raw IQR 0.244 s. With fewer cores the erased
    * comment-carrying exchange is a larger share of the wall. Oracle
    * BYTE-IDENTICAL to `q13_full_customer_distribution`'s spec text. */
  val q13Bucketed: graft.GQuery = graft.GQuery(
    "q13_full_bucketed",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = graft.tpch.FullTpch.rootFor(s, dir)
      val (orTable, cuTable) = custkeyLayout(s, root)
      val ss = sortedScanSession(s)
      val cust = ss.table(cuTable)
      val ord = ss.table(orTable)
      cust.join(ord,
        col("c_custkey") === col("o_custkey") &&
          !col("o_comment").like("%special%requests%"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },
    graft.tpch.FullTpch.q13Full.oracle,
    tags = Set("sinks", "tpch_full"))

  /** Compact a parquet directory's files to ~`targetBytes` outputs and
    * return the output path. THE at-scale table-maintenance operator:
    * streaming ingest and fine-grained partitioning leave a 100 TB
    * table as millions of KB-scale files, and every later scan then
    * pays per-file open/footer/schedule cost that dwarfs the IO —
    * compaction rewrites the data into size-targeted files in one
    * round-robin shuffle. Sizing comes from the Hadoop FS listing (not
    * `java.io` — the same code runs against HDFS/S3), output count =
    * ⌈bytes / targetBytes⌉, and round-robin repartitioning (no key)
    * gives evenly-sized files with zero skew by construction. Content
    * is preserved row-for-row — the registry key's oracle hash-checks
    * exactly that. */
  def compactParquet(spark: SparkSession, path: String, targetBytes: Long,
      out: Option[String] = None): String = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recursive listing: fine-grained directory partitioning is the
    // main producer of the small-file problem, so the data files
    // usually live in partition subdirectories, not at the root
    val it = fs.listFiles(hPath, true)
    var bytes = 0L
    while (it.hasNext) {
      val st = it.next()
      if (st.getPath.getName.endsWith(".parquet")) bytes += st.getLen
    }
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val outPath = out.getOrElse(path.stripSuffix("/") + "_compacted")
    // NOTE: directory-partition columns are read back as data columns
    // and the output is unpartitioned — compacting a partitioned table
    // while KEEPING its layout means calling this once per partition
    // directory (each call is one bounded round-robin shuffle).
    spark.read.parquet(path).repartition(nOut)
      .write.mode("overwrite").parquet(outPath)
    outPath
  }

  /** Partition-PRESERVING compaction: rewrite a directory-partitioned
    * parquet table so each `partitionCol=value` directory holds
    * ⌈its bytes / targetBytes⌉ files, keeping the partition layout
    * (unlike [[compactParquet]], which flattens it). One Spark job for
    * the whole table: per-partition sizes come from ONE recursive FS
    * listing (a per-directory listing loop is minutes of serial driver
    * wall-clock on an object store with ~100k partitions; one
    * recursive pass returns the same information), a broadcast
    * value→splits map salts each row into its target file slot, and a
    * single `repartition(partitionCol, salt)` + `partitionBy` write
    * lands every partition's rows in co-located tasks — skew-aware by
    * construction, because a 10 TB partition gets 10 TB/target salts
    * while a 1 MB partition gets one, so no task ever owns more than
    * ~targetBytes of one partition. Salt collisions can merge two
    * slots of the same value in one task, so per-partition file counts
    * are ≤ the computed split count (exact when the count is 1 — the
    * common compaction case).
    *
    * Determinism contract: the salt is a hash of ROW CONTENT
    * (`saltCols`, defaulting to every data column), never of task or
    * row position — so two compactions of the same table land every
    * row in the same file slot (file-level diff/retry audits stay
    * quiet), and a stage recompute after a fetch failure re-routes
    * each row to the same reducer (a positional salt such as
    * `monotonically_increasing_id` can silently drop/duplicate rows in
    * exactly that window). Callers with a known row key pass it as
    * `saltCols` to skip hashing wide payload columns.
    *
    * Duplicate-mass caveat (the flip side of content hashing): rows
    * whose `saltCols` values are IDENTICAL co-route to one slot by
    * construction, so a partition dominated by byte-identical
    * duplicates can emit one file well over `targetBytes` — the skew
    * guarantee above holds per DISTINCT content, not per row. Callers
    * compacting a corpus with planted duplicate mass should pass a
    * near-unique `saltCols` (a row id); determinism then still holds
    * because the id is row content. A positional disambiguator would
    * restore the size bound but break the recompute-safety contract,
    * which this operator ranks higher — a 2× oversized file is a
    * nuisance, a dropped row under a fetch-failure recompute is
    * corruption.
    *
    * Partition-name decoding: Spark ESCAPES partition values in
    * directory names (URL-style for chars like `:` or space, and the
    * `__HIVE_DEFAULT_PARTITION__` sentinel for null) while
    * `col(partitionCol)` reads back the unescaped value — the splits
    * map is therefore keyed on the UNESCAPED value, and the null
    * sentinel gets its own `isNull` routing arm (a missed decode would
    * coalesce a huge partition to one slot and silently emit one
    * oversized file, defeating the skew guarantee). */
  def compactParquetPartitioned(spark: SparkSession, path: String,
      partitionCol: String, targetBytes: Long, out: Option[String] = None,
      saltCols: Seq[String] = Nil): String = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val qRoot = fs.makeQualified(hPath)
    // one recursive listing; each data file is attributed to the
    // top-level partition directory it sits under
    val bytesByDir = scala.collection.mutable.Map.empty[String, Long]
    val it = fs.listFiles(qRoot, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        var d = f.getPath.getParent
        while (d != null && d.getParent != null && d.getParent != qRoot) d = d.getParent
        if (d != null && d.getName.startsWith(s"$partitionCol="))
          bytesByDir.updateWith(d.getName.substring(partitionCol.length + 1)) {
            prev => Some(prev.getOrElse(0L) + f.getLen)
          }
      }
    }
    def toSplits(bytes: Long): Int =
      math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val nullSplits = bytesByDir.get(ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map(toSplits)
    val splits: Map[String, Int] = bytesByDir.iterator
      .filter(_._1 != ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      .map { case (escaped, bytes) =>
        ExternalCatalogUtils.unescapePathName(escaped) -> toSplits(bytes)
      }.toMap
    require(splits.nonEmpty || nullSplits.nonEmpty,
      s"$path has no $partitionCol=<value> partition directories")
    val outPath = out.getOrElse(path.stripSuffix("/") + "_compacted")
    val mapped =
      if (splits.isEmpty) lit(null).cast("int")
      else element_at(typedLit(splits), col(partitionCol).cast("string"))
    val routed = nullSplits match {
      case Some(n) => when(col(partitionCol).isNull, lit(n)).otherwise(mapped)
      case None => mapped
    }
    val nSlots = greatest(coalesce(routed, lit(1)), lit(1))
    // explicit partition count: an unpinned repartition lets AQE
    // re-coalesce the salted slots toward its 64 MB advisory size,
    // silently merging them whenever targetBytes is smaller — the salt
    // map IS the partition sizing here, so the exchange is pinned to
    // ~one task per output file (×4 headroom against (value, slot)
    // hash collisions, which would merge two slots into one oversized
    // file)
    val allSplits = splits.values.map(_.toLong).sum + nullSplits.getOrElse(0)
    val totalSlots = math.max(1, allSplits.min(64 << 10).toInt) * 4
    val df = spark.read.parquet(path)
    val saltCandidates =
      if (saltCols.nonEmpty) saltCols
      else df.columns.toSeq.filterNot(_ == partitionCol)
    // a partition-col-only table has nothing to salt on: route every
    // row to slot 0 (one file per partition — the only correct answer
    // for zero data columns) instead of letting hash() with no args
    // fail analysis with an opaque error
    val salt =
      if (saltCandidates.isEmpty) lit(0)
      else hash(saltCandidates.map(col): _*)
    df.withColumn("__slot", pmod(salt, nSlots))
      .repartition(totalSlots, col(partitionCol), col("__slot"))
      .drop("__slot")
      .write.partitionBy(partitionCol).mode("overwrite").parquet(outPath)
    outPath
  }

  /** One scratch directory per (context incarnation, corpus dir, use)
    * for the keys that stage their own input layouts ([[bucketedJoin]],
    * [[compactSmallFiles]], [[compactPartitioned]], [[partitionPrune]]):
    * every build still pays its full write passes (mode=overwrite,
    * nothing is cached) — reusing the path only stops repeated bench
    * runs from accumulating copies in /tmp. */
  private val compactScratch = new graft.Sessions.ContextMemo[String]

  /** Registry key driving [[compactParquet]] end-to-end: fragments the
    * `documents` table into 64 shard files (the shape a per-batch
    * streaming sink leaves behind), compacts them to size-targeted
    * files, and returns the compacted content — the oracle replays
    * (doc_id, md5(text), source) over the raw table, so the driver
    * hash-check proves compaction moved every row and corrupted none.
    * The file-count collapse itself is pinned by SinksSpec (64 → the
    * computed target count). */
  val compactSmallFiles: graft.GQuery = graft.GQuery(
    "op_compact_small_files",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val scratch = compactScratch(s, dir)(
        java.nio.file.Files.createTempDirectory("graft_frag").toString)
      val frag = s"$scratch/docs"
      docs.repartition(64).write.mode("overwrite").parquet(frag)
      val outPath = compactParquet(s, frag, targetBytes = 8L << 20)
      s.read.parquet(outPath)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("source"))
    },
    // duckNotComparable: Spark fragments + rewrites the whole table
    // twice; the oracle is a single projection over the raw table
    Some("SELECT doc_id, md5(text) AS text_md5, source FROM documents"),
    tags = Set("sinks", "duckNotComparable"))

  /** Registry key driving [[compactParquetPartitioned]] end-to-end:
    * fragments `documents` into a lang-partitioned table with ~16
    * files per partition (each write task leaves one file in every
    * partition it touches — the exact mess a parallel writer makes),
    * compacts partition-preserving, and returns the compacted content;
    * the oracle replays (doc_id, md5(text), lang) over the raw table.
    * SinksSpec pins the layout survival and the per-partition
    * file-count collapse. */
  val compactPartitioned: graft.GQuery = graft.GQuery(
    "op_compact_partitioned",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"))
      val scratch = compactScratch(s, s"$dir#part")(
        java.nio.file.Files.createTempDirectory("graft_fragp").toString)
      val frag = s"$scratch/docs_by_lang"
      docs.repartition(16).write.partitionBy("lang").mode("overwrite").parquet(frag)
      // doc_id is the table's stable row key — salting on it (not the
      // wide text payload) keeps the deterministic-layout contract cheap
      val outPath = compactParquetPartitioned(s, frag, "lang",
        targetBytes = 8L << 20, saltCols = Seq("doc_id"))
      s.read.parquet(outPath)
        .select(col("doc_id"), md5(col("text")).as("text_md5"), col("lang"))
    },
    // duckNotComparable: same asymmetry as op_compact_small_files
    Some("SELECT doc_id, md5(text) AS text_md5, lang FROM documents"),
    tags = Set("sinks", "duckNotComparable"))

  /** Registry key demonstrating DYNAMIC partition pruning — the single
    * most common scan-pruning path on a real cluster: a fact table
    * directory-partitioned on a date key, joined to a small dimension
    * whose FILTER is on a non-partition attribute (year/quarter), so
    * no static rule can prune the fact scan; Spark's DPP instead
    * evaluates the dim side first (reusing its broadcast) and injects
    * the surviving month keys as a runtime `dynamicpruning` partition
    * filter — the fact scan OPENS only the matching month directories.
    * At 100 TB this is the difference between scanning a decade of a
    * date-partitioned fact table and reading the three months a
    * quarter report asks for. The layout (orders partitioned by ship
    * month + a month dimension carrying year/quarter) is written once
    * per corpus — the pay-once contract of the layout family; the
    * timed query is the pruned join. ExplainSpec pins the
    * `dynamicpruning` expression in the executed fact scan; the oracle
    * replays the same quarter rollup over the RAW orders table, so the
    * hash check proves pruning dropped no row and kept no extra. */
  val partitionPrune: graft.GQuery = graft.GQuery(
    "op_partition_prune",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = compactScratch(s, s"$dir#dpp") {
        val base = java.nio.file.Files.createTempDirectory("graft_dpp").toString
        val ord = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"),
            date_format(col("o_orderdate"), "yyyy-MM").as("o_month"))
        ord.write.partitionBy("o_month").mode("overwrite").parquet(s"$base/fact")
        Tables.orders(s, dir)
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("month_key"),
            year(col("o_orderdate")).as("y"), quarter(col("o_orderdate")).as("q"))
          .distinct()
          .write.mode("overwrite").parquet(s"$base/dim_month")
        base
      }
      val fact = s.read.parquet(s"$root/fact")
      val dim = s.read.parquet(s"$root/dim_month")
        .where(col("y") === 1995 && col("q") === 2)
      fact.join(dim, col("o_month") === col("month_key"))
        .groupBy(col("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("total_cents"))
    },
    Some("""
      SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
      FROM orders
      WHERE year(o_orderdate) = 1995 AND quarter(o_orderdate) = 2
      GROUP BY 1"""),
    // duckNotComparable: the dim is DERIVED from orders, so the oracle
    // collapses the star join into a one-table WHERE over the raw file
    // — no dim scan, no join, no partitioned layout, no runtime
    // subquery; at bench sf the ratio prices partition-granular read
    // overhead against a 12 ms flat scan, not engine against engine
    tags = Set("sinks", "duckNotComparable"))

  /** Registry key demonstrating RUNTIME BLOOM-FILTER pushdown — the
    * scan-reduction sibling of [[partitionPrune]] for tables with NO
    * partition layout: a large fact shuffle-joined to a selectively-
    * filtered dimension gets a `bloom_filter_agg` built on the dim's
    * join keys at runtime and a `might_contain` probe INJECTED into
    * the fact side's scan filter (Catalyst's InjectRuntimeFilter), so
    * non-matching fact rows die at the scan — BEFORE the exchange —
    * at the join's selectivity. At 100 TB this is the difference
    * between shuffling the whole fact table and shuffling the ~1%
    * that can possibly join, with zero layout preparation. The
    * sub-session pins the thresholds the feature gates on (the
    * 10 GB application-side default exists because the filter only
    * pays on big scans — exactly the 100 TB case; bench scale needs
    * it lowered to demonstrate the plan) and disables auto-broadcast
    * (a broadcast join already prunes at the probe; the bloom filter
    * is the SHUFFLE join's equivalent). SinksSpec pins the
    * `might_contain` probe in the executed fact scan; the oracle
    * replays the same join+rollup in DuckDB — the filter must drop no
    * row and keep no extra. */
  val bloomFilterJoin: graft.GQuery = graft.GQuery(
    "op_bloom_filter_join",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val ss = graft.Sessions.childWith(s, Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1"))
      val ord = Tables.orders(ss, dir)
        .where(col("o_orderdate") >= lit("1995-01-01").cast("date") &&
          col("o_orderdate") < lit("1995-02-01").cast("date") &&
          col("o_totalprice") > 150000.0)
        .select(col("o_orderkey"))
      val li = Tables.lineitem(ss, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_quantity") * 100 + 0.5).cast("long")).as("qty_cents"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long")).as("price_cents"))
    },
    Some("""
      SELECT CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS price_cents
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= DATE '1995-01-01'
        AND o_orderdate < DATE '1995-02-01'
        AND o_totalprice > 150000.0"""),
    tags = Set("sinks"))

  /** Registry key demonstrating FILE-LEVEL STATS SKIPPING — the
    * manifest pattern behind Delta/Iceberg data skipping, built from
    * parts Spark already has: (1) at write time, range-cluster the
    * fact on the skip column (`repartitionByRange` + sort — the 1-D
    * little sibling of [[graft.operators.Relational.zorderCluster]])
    * so each file covers a narrow `ts` span, and record a MANIFEST of
    * per-file min/max/rowcount (`_metadata.file_path` + one tiny
    * aggregate — exactly what a table format's commit protocol stores);
    * (2) at query time, plan the read from the manifest: only files
    * whose [min,max] intersects the predicate window are opened, the
    * exact predicate still applies to the survivors, so the answer is
    * independent of how well the skip worked. The selected-path list
    * is driver-side by design — one row per FILE, the same metadata
    * a FileIndex already holds (at 100 TB with 10^6 files this is
    * megabytes, and a real table format pages it; it is never
    * O(rows)). Clustering is what makes the stats tight: without it
    * every file spans the whole month and nothing skips (SinksSpec
    * asserts >half the files are skipped AND the pruned result equals
    * the unpruned one). The oracle collapses the whole apparatus to a
    * flat WHERE over raw events — the skip must not change a row. */
  /** Clustered-fact + manifest build for [[statsSkipping]], memoized
    * per (context incarnation, corpus) like every layout. */
  private[graft] def skipRoot(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions._
    compactScratch(s, s"$dir#skip") {
      val base = java.nio.file.Files.createTempDirectory("graft_skip").toString
      Tables.events(s, dir)
        .repartitionByRange(16, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(s"$base/fact")
      s.read.parquet(s"$base/fact")
        .groupBy(col("_metadata.file_path").as("path"))
        .agg(min(col("ts")).as("ts_min"), max(col("ts")).as("ts_max"),
          count(lit(1)).as("n_rows"))
        .write.mode("overwrite").parquet(s"$base/manifest")
      base
    }
  }

  /** Manifest-side planning for [[statsSkipping]]: (surviving file
    * paths, total file count). Driver-side by design — one row per
    * file, the same metadata a FileIndex holds. */
  private[graft] def skipSelect(s: SparkSession, root: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column): (Array[String], Long) = {
    import org.apache.spark.sql.functions.col
    val manifest = s.read.parquet(s"$root/manifest")
    val keep = manifest.filter(col("ts_max") >= lo && col("ts_min") < hi)
      .select(col("path")).collect().map(_.getString(0)).sorted
    (keep, manifest.count())
  }

  val statsSkipping: graft.GQuery = graft.GQuery(
    "op_stats_skipping",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = skipRoot(s, dir)
      val lo = lit("2024-01-10 00:00:00").cast("timestamp")
      val hi = lit("2024-01-15 00:00:00").cast("timestamp")
      val (keep, _) = skipSelect(s, root, lo, hi)
      s.read.parquet(keep: _*)
        .filter(col("ts") >= lo && col("ts") < hi)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("value_cents"))
    },
    Some("""
      SELECT event_type, count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS value_cents
      FROM events
      WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        AND ts <  TIMESTAMP '2024-01-15 00:00:00'
      GROUP BY 1"""),
    // duckNotComparable: the Spark side pays the clustered rewrite +
    // manifest build inside the key (the write IS the operator); the
    // oracle is a flat scan with a WHERE — the ratio prices layout
    // construction, not engine against engine
    tags = Set("sinks", "duckNotComparable"))

  /** CSV with header. An explicit schema on read avoids the
    * inference pass (a full extra scan at 100 TB — never rely on it
    * in production paths). */
  def writeCsv(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema).csv(path)

  /** JSON lines. Same schema-on-read discipline as CSV. */
  def writeJson(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)
}
