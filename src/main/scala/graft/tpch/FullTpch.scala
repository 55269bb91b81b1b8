package graft.tpch

import graft.GQuery
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** §2.2b — the UNADAPTED textbook TPC-H suite over [[TpchGen]]-persisted
  * parquet.
  *
  * A user of the reference (clflushopt/datafusion-tpch) generates the 8
  * full-schema tables and runs *literal* TPC-H SQL over them (its tests
  * persist `tpchgen` output and query it, src/lib.rs:335-344). The 22
  * adapted queries in [[TpchQueries]] exercise the same plan shapes over
  * the driver's reduced-schema testdata; this module closes the remaining
  * parity gap: ALL 22 queries run here UNADAPTED — the query text is the
  * TPC-H spec text (validation parameters; a substitution is moved only
  * where the generator's word domain requires a different *legal* pick,
  * noted per query), and the SAME text is the DuckDB oracle (prefixed
  * only with CTEs binding the table names to the persisted parquet
  * files). Queries with a LIMIT append a group-key tiebreak to the spec
  * ORDER BY so the cutoff row set is deterministic — under ties the
  * spec's own cutoff is ambiguous, and both engines run the same text.
  *
  * One engine-parity spelling, shared by the whole suite (see
  * [[TpchQueries]] scaladoc): money sums are discretized to exact BIGINT
  * cents (`floor(x*100 + 0.5)`) IDENTICALLY in both engines, because a
  * raw double sum is association-order-dependent and Spark's
  * partial+final aggregation does not sum in DuckDB's sequential order.
  * Only Q11 aggregates money here; every other query is the spec text
  * verbatim. Integer-count sums carry a `CAST(... AS BIGINT)` so
  * DuckDB's HUGEINT sum type matches Spark's int64 — a cast, not a
  * semantic change.
  *
  * Execution: both engines read the SAME parquet bytes (persisted once
  * per sf under [[Root]]), so raw-column values are bit-identical by
  * construction. The Spark side registers the files as temp views in an
  * isolated `newSession()` (no leakage into the shared Verify session)
  * and runs the literal text through `spark.sql` — this is deliberately
  * the SQL front door, proving the Catalyst SQL surface end-to-end
  * (EXISTS → semi join, NOT IN → null-aware anti join, correlated scalar
  * subqueries) rather than re-spelling the queries in the DataFrame API.
  */
object FullTpch {

  /** Persist root for the generated full-schema corpus: `dev/tpch_full`
    * under the working directory, made absolute because the DuckDB
    * process that runs the oracle text has no notion of the Spark
    * session's cwd. */
  private[graft] val Root = new java.io.File("dev/tpch_full").getAbsolutePath

  /** Bumped whenever [[TpchGen]]'s emitted bytes change, so a stale
    * persisted corpus from an earlier build is regenerated, not reused. */
  private val GenVersion = "gen-v3-q13-comments"

  /** Correctness runs at sf0.01 (driver contract) — the oracle CTEs
    * bind to that corpus; at other sfs (bench) the oracle is unused. */
  private val OracleRoot = s"$Root/sf0.01"

  private[graft] def fmt(sf: Double): String =
    if (sf == sf.toLong) sf.toLong.toString else sf.toString

  /** Generate-and-persist all 8 tables at `sf` once per corpus version;
    * subsequent calls are a marker-file read. Synchronized: Verify and
    * Bench run keys sequentially, but two q*_full keys in one JVM must
    * not race the persist. */
  private[graft] def ensurePersisted(spark: SparkSession, sf: Double): String = synchronized {
    val root = s"$Root/sf${fmt(sf)}"
    val marker = java.nio.file.Paths.get(root, "_GEN_VERSION")
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker),
        java.nio.charset.StandardCharsets.UTF_8).trim == GenVersion
    if (!fresh) {
      TpchGen.persistAll(spark, sf, root)
      java.nio.file.Files.write(marker,
        GenVersion.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    root
  }

  // The oracle WITH-prelude binds exactly the referenced table names to
  // the persisted files (only the referenced ones — an unused CTE would
  // still be bound by the engine and fail on a missing file).

  /** `ctes` carries a query's own WITH clauses (Q15's `revenue` view):
    * they are prefixed onto the body for Spark and merged into the
    * oracle's table-binding WITH list for DuckDB (a second WITH after
    * the prelude would be invalid SQL — one merged clause list is the
    * only spelling that works verbatim in both engines). */
  /** Every base key's (tables, body, ctes), recorded at construction so
    * [[all]] can derive the `_v2` alternate-parameter sibling without
    * duplicating 600 lines of spec text. */
  private val specs =
    scala.collection.mutable.LinkedHashMap.empty[(String, Seq[String]), (String, Seq[(String, String)])]

  private def key(name: String, tables: Seq[String], body: String,
                  ctes: Seq[(String, String)] = Nil): GQuery = {
    specs((name, tables)) = (body, ctes)
    mk(name, tables, body, ctes)
  }

  /** One view-registered child session (see [[graft.Sessions.child]])
    * per (context incarnation, corpus root, conf set): the 8 temp-view
    * registrations (schema reads over 8×32 parquet footers) are
    * CATALOG state — a deployment pays them once per session, then
    * runs many queries. Before this memo every q*_full bench line
    * re-paid newSession + registration per timed run, and an sf1 probe
    * (dev/BENCH_NOTES.md round 14) measured that setup at 0.7-1.7 s of
    * each 0.9-2.9 s line — the bench was timing catalog bootstrap, not
    * the query. Parse + analysis + planning + execution still run per
    * call (`ss.sql` below); only the session and its view definitions
    * are reused. */
  private val sessions = new graft.Sessions.ContextMemo[SparkSession]
  private[graft] def sessionFor(s: SparkSession, root: String,
      confs: Seq[(String, String)] = Nil): SparkSession =
    sessions(s, s"$root#${graft.Sessions.confTag(confs)}") {
      val ss = graft.Sessions.child(s, confs)
      Tables.registerAll(ss, root, TpchGen.tableNames)
      ss
    }

  /** The persisted full-schema corpus for a testdata dir: generated
    * once at the dir's scale factor ([[TpchGen.sfFromDir]]), its root
    * returned. */
  private[graft] def rootFor(s: SparkSession, dir: String): String =
    ensurePersisted(s, TpchGen.sfFromDir(dir))

  /** Per-KEY session-conf overrides, routed through [[sessionFor]]'s
    * conf tag so a single key can run under a different physical-
    * strategy preference without touching the session default.
    *
    * CURRENTLY EMPTY, and deliberately so — the one candidate family
    * was measured away (dev/BENCH_NOTES.md round 15). Round 14's
    * non-interleaved A/B read "SHJ cuts q11 0.78→0.51 and q14
    * 1.81→0.51 at sf10"; round 15 re-ran it ARMS-INTERLEAVED in one
    * JVM on the same memoized catalog and found wall-clock PARITY
    * (q11 smj [0.735..] vs shj [0.771..]; q14 smj [0.757..] vs shj
    * [0.728..]) — the r14 deltas were host drift landing on the
    * default arm. The plan audit explains why: at sf10 q11's six
    * joins are ALL AQE-broadcast already (the projected build sides
    * sit far under the 10 MB threshold — `preferSortMergeJoin` is a
    * no-op on its plan), and q14's flip to sort-free SHJ is real
    * (2 SMJ + 4 Sort → 2 SHJ + 0 Sort) but buys nothing measurable,
    * so the spill-safe SMJ default wins on robustness at any larger
    * scale. Any future entry here must carry an interleaved
    * same-JVM A/B in BENCH_NOTES — FullTpchConfSpec pins the empty
    * state and proves the routing mechanism live. */
  private[graft] val confOverrides: Map[String, Seq[(String, String)]] =
    Map.empty

  /** name → the exact SQL text the Spark side runs (spec text, CTEs
    * prefixed). The registry's layout keys (`*_full_bucketed`,
    * `graft.sources.Sinks.layoutKeys`) run this text over a catalog
    * whose fact tables are bucketed copies, and the measurement probes
    * (FullTpchProbeMain) read it too, so every arm runs the SAME text
    * over differently-prepared catalogs. */
  private[graft] val sparkSqlOf =
    scala.collection.mutable.LinkedHashMap.empty[String, String]

  private def mk(name: String, tables: Seq[String], body: String,
                 ctes: Seq[(String, String)] = Nil): GQuery = {
    val cteSql = ctes.map { case (n, q) => s"$n AS ($q)" }
    val sparkSql =
      if (ctes.isEmpty) body
      else cteSql.mkString("WITH ", ",\n     ", "\n") + body
    sparkSqlOf(name) = sparkSql
    val oracleSql =
      (tables.map(t =>
        s"$t AS (SELECT * FROM read_parquet('${Tables.path(OracleRoot, t)}/*.parquet'))") ++ cteSql)
        .mkString("WITH ", ",\n     ", "\n") + body
    GQuery(
      name,
      (s, dir) => {
        sessionFor(s, rootFor(s, dir), confOverrides.getOrElse(name, Nil)).sql(sparkSql)
      },
      Some(oracleSql),
      tags = Set("tpch_full"))
  }

  // -------------------------------------------------------------- Q1
  /** TPC-H Q1, spec text (delta=90 → shipdate ≤ 1998-09-02). Money and
    * average columns carry the suite's exact-cents / 10⁻⁴ discretization
    * (see module doc) — the only non-verbatim spelling. */
  val q1Full: GQuery = key(
    "q1_full_pricing_summary",
    Seq("lineitem"),
    """
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(floor((l_quantity) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
             CAST(sum(CAST(floor((l_extendedprice) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base_price,
             CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_disc_price,
             CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_charge,
             round(CAST(sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 / count(*), 4) AS avg_qty,
             round(CAST(sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 / count(*), 4) AS avg_price,
             round(CAST(sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000.0 / count(*), 6) AS avg_disc,
             count(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= DATE '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")

  // -------------------------------------------------------------- Q2
  /** TPC-H Q2, spec text (params: size=15, type=%BRASS, region=EUROPE).
    * Plan: partsupp⋈part⋈supplier⋈nation⋈region + correlated min-cost
    * scalar subquery over the same join — the query the adapted
    * `q2_min_cost_supplier` could only approximate without partsupp. */
  val q2Full: GQuery = key(
    "q2_full_min_cost_supplier",
    Seq("part", "supplier", "partsupp", "nation", "region"),
    """
      SELECT s_acctbal, s_name, n_name, p_partkey, p_mfgr, s_address, s_phone, s_comment
      FROM part, supplier, partsupp, nation, region
      WHERE p_partkey = ps_partkey
        AND s_suppkey = ps_suppkey
        AND p_size = 15
        AND p_type LIKE '%BRASS'
        AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey
        AND r_name = 'EUROPE'
        AND ps_supplycost = (
          SELECT min(ps_supplycost)
          FROM partsupp, supplier, nation, region
          WHERE p_partkey = ps_partkey
            AND s_suppkey = ps_suppkey
            AND s_nationkey = n_nationkey
            AND n_regionkey = r_regionkey
            AND r_name = 'EUROPE')
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100""")

  // -------------------------------------------------------------- Q3
  /** TPC-H Q3, spec text (segment=BUILDING, date=1995-03-15). Spec
    * ordering is (revenue DESC, o_orderdate); `l_orderkey` — already a
    * group key — is appended as a tiebreak so the LIMIT-10 row SET is
    * deterministic in both engines (under revenue ties the spec's
    * cutoff is ambiguous; any consistent total order is a legal
    * answer, and both engines get the same one). */
  val q3Full: GQuery = key(
    "q3_full_shipping_priority",
    Seq("customer", "orders", "lineitem"),
    """
      SELECT l_orderkey,
             CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
             o_orderdate, o_shippriority
      FROM customer, orders, lineitem
      WHERE c_mktsegment = 'BUILDING'
        AND c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate < DATE '1995-03-15'
        AND l_shipdate > DATE '1995-03-15'
      GROUP BY l_orderkey, o_orderdate, o_shippriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""")

  // -------------------------------------------------------------- Q4
  /** TPC-H Q4, spec text (window 1993-07-01 +3mo): the real
    * l_commitdate < l_receiptdate lateness predicate the adapted q4 had
    * to re-express via shipdate. EXISTS → left-semi join. */
  val q4Full: GQuery = key(
    "q4_full_order_priority",
    Seq("orders", "lineitem"),
    """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= DATE '1993-07-01'
        AND o_orderdate < DATE '1993-10-01'
        AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_commitdate < l_receiptdate)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")

  // -------------------------------------------------------------- Q5
  /** TPC-H Q5, spec text (region=ASIA, year 1994): the local-supplier
    * revenue rollup with the c_nationkey = s_nationkey co-location
    * predicate. */
  val q5Full: GQuery = key(
    "q5_full_local_supplier",
    Seq("customer", "orders", "lineitem", "supplier", "nation", "region"),
    """
      SELECT n_name,
             CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      FROM customer, orders, lineitem, supplier, nation, region
      WHERE c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey
        AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey
        AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= DATE '1994-01-01'
        AND o_orderdate < DATE '1995-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC""")

  // -------------------------------------------------------------- Q6
  /** TPC-H Q6, spec text (1994, discount 0.06±0.01, quantity<24): pure
    * scan+filter+agg; the full predicate reaches the parquet reader. */
  val q6Full: GQuery = key(
    "q6_full_forecast_revenue",
    Seq("lineitem"),
    """
      SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1994-01-01'
        AND l_shipdate < DATE '1995-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""")

  // -------------------------------------------------------------- Q7
  /** TPC-H Q7, spec text (FRANCE↔GERMANY, ship years 1995-1996): the
    * nation-pair disjunction over the volume-shipping derived table. */
  val q7Full: GQuery = key(
    "q7_full_volume_shipping",
    Seq("supplier", "lineitem", "orders", "customer", "nation"),
    """
      SELECT supp_nation, cust_nation, l_year,
             CAST(sum(CAST(floor(volume * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   l_extendedprice * (1 - l_discount) AS volume
            FROM supplier, lineitem, orders, customer, nation n1, nation n2
            WHERE s_suppkey = l_suppkey
              AND o_orderkey = l_orderkey
              AND c_custkey = o_custkey
              AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey
              AND ((n1.n_name = 'FRANCE' AND n2.n_name = 'GERMANY')
                OR (n1.n_name = 'GERMANY' AND n2.n_name = 'FRANCE'))
              AND l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31') shipping
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year""")

  // -------------------------------------------------------------- Q8
  /** TPC-H Q8, spec text (nation=BRAZIL, region=AMERICA,
    * type=ECONOMY ANODIZED STEEL): market-share ratio of two money sums,
    * both cents-discretized before the division (module doc). */
  val q8Full: GQuery = key(
    "q8_full_market_share",
    Seq("part", "supplier", "lineitem", "orders", "customer", "nation", "region"),
    """
      SELECT o_year,
             round(CAST(sum(CASE WHEN nation = 'BRAZIL' THEN volume_cents ELSE 0 END) AS DOUBLE)
                   / CAST(sum(volume_cents) AS DOUBLE), 6) AS mkt_share
      FROM (SELECT year(o_orderdate) AS o_year,
                   CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS volume_cents,
                   n2.n_name AS nation
            FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
            WHERE p_partkey = l_partkey
              AND s_suppkey = l_suppkey
              AND l_orderkey = o_orderkey
              AND o_custkey = c_custkey
              AND c_nationkey = n1.n_nationkey
              AND n1.n_regionkey = r_regionkey
              AND r_name = 'AMERICA'
              AND s_nationkey = n2.n_nationkey
              AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
              AND p_type = 'ECONOMY ANODIZED STEEL') all_nations
      GROUP BY o_year
      ORDER BY o_year""")

  // -------------------------------------------------------------- Q9
  /** TPC-H Q9, spec text (COLOR=forest): per-nation-per-year profit with
    * the real `ps_supplycost` from partsupp. `forest` is a legal COLOR
    * substitution drawn from the generator's p_name word domain (the
    * spec's validation pick `green` is outside the 30-word prefix the
    * generator uses, so it would select zero parts — a parameter choice,
    * not a text change). */
  val q9Full: GQuery = key(
    "q9_full_profit",
    Seq("part", "supplier", "lineitem", "partsupp", "orders", "nation"),
    """
      SELECT nation, o_year,
             CAST(sum(amount_cents) AS DOUBLE) / 100.0 AS sum_profit
      FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
                   CAST(floor((l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity) * 100 + 0.5) AS BIGINT) AS amount_cents
            FROM part, supplier, lineitem, partsupp, orders, nation
            WHERE s_suppkey = l_suppkey
              AND ps_suppkey = l_suppkey
              AND ps_partkey = l_partkey
              AND p_partkey = l_partkey
              AND o_orderkey = l_orderkey
              AND s_nationkey = n_nationkey
              AND p_name LIKE '%forest%') profit
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC""")

  // -------------------------------------------------------------- Q10
  /** TPC-H Q10, spec text (1993-10-01 +3mo, returnflag R). Spec ordering
    * is (revenue DESC); `c_custkey` — a group key — is appended as the
    * deterministic LIMIT-20 tiebreak (see q3Full). */
  val q10Full: GQuery = key(
    "q10_full_returned_items",
    Seq("customer", "orders", "lineitem", "nation"),
    """
      SELECT c_custkey, c_name,
             CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
             c_acctbal, n_name, c_address, c_phone, c_comment
      FROM customer, orders, lineitem, nation
      WHERE c_custkey = o_custkey
        AND l_orderkey = o_orderkey
        AND o_orderdate >= DATE '1993-10-01'
        AND o_orderdate < DATE '1994-01-01'
        AND l_returnflag = 'R'
        AND c_nationkey = n_nationkey
      GROUP BY c_custkey, c_name, c_acctbal, c_phone, n_name, c_address, c_comment
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")

  // -------------------------------------------------------------- Q11
  /** TPC-H Q11, spec text (nation=GERMANY, fraction=0.0001) with the
    * suite's money-cents discretization on BOTH engines (the only
    * non-verbatim spelling here — a raw double sum is association-
    * order-dependent; see module doc). */
  val q11Full: GQuery = key(
    "q11_full_important_stock",
    Seq("partsupp", "supplier", "nation"),
    """
      SELECT ps_partkey,
             CAST(sum(CAST(floor(ps_supplycost * ps_availqty * 100 + 0.5) AS BIGINT)) AS DOUBLE)
               / CAST(100 AS DOUBLE) AS value
      FROM partsupp, supplier, nation
      WHERE ps_suppkey = s_suppkey
        AND s_nationkey = n_nationkey
        AND n_name = 'GERMANY'
      GROUP BY ps_partkey
      HAVING CAST(sum(CAST(floor(ps_supplycost * ps_availqty * 100 + 0.5) AS BIGINT)) AS DOUBLE) >
        (SELECT CAST(sum(CAST(floor(ps_supplycost * ps_availqty * 100 + 0.5) AS BIGINT)) AS DOUBLE) * 0.0001
         FROM partsupp, supplier, nation
         WHERE ps_suppkey = s_suppkey
           AND s_nationkey = n_nationkey
           AND n_name = 'GERMANY')
      ORDER BY value DESC""")

  // -------------------------------------------------------------- Q12
  /** TPC-H Q12, spec text (modes MAIL+SHIP, year 1994): the real
    * shipmode/commitdate/receiptdate predicates over the generator's
    * spec-domain columns. BIGINT casts only (DuckDB sums to HUGEINT). */
  val q12Full: GQuery = key(
    "q12_full_priority_class",
    Seq("orders", "lineitem"),
    """
      SELECT l_shipmode,
             CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH'
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority <> '1-URGENT' AND o_orderpriority <> '2-HIGH'
                           THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      FROM orders, lineitem
      WHERE o_orderkey = l_orderkey
        AND l_shipmode IN ('MAIL', 'SHIP')
        AND l_commitdate < l_receiptdate
        AND l_shipdate < l_commitdate
        AND l_receiptdate >= DATE '1994-01-01'
        AND l_receiptdate < DATE '1995-01-01'
      GROUP BY l_shipmode
      ORDER BY l_shipmode""")

  // -------------------------------------------------------------- Q13
  /** TPC-H Q13, spec text (words special/requests): customer order-count
    * distribution via left outer join with the NOT LIKE inside the join
    * condition. The generator plants the spec's comment pattern on ~1%
    * of orders (TpchGen.orders), so the filter excludes a real slice —
    * the key exercises live NOT-LIKE-inside-outer-join semantics, not
    * just the plan shape. */
  val q13Full: GQuery = key(
    "q13_full_customer_distribution",
    Seq("customer", "orders"),
    """
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey
              AND o_comment NOT LIKE '%special%requests%'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")

  // -------------------------------------------------------------- Q14
  /** TPC-H Q14, spec text (1995-09): promo revenue share. The generated
    * p_type is the spec's full three-word domain, so the spec's
    * `LIKE 'PROMO%'` prefix match is live. round(…,6) is the suite's
    * engine-parity spelling for the ratio (module doc). */
  val q14Full: GQuery = key(
    "q14_full_promo_revenue",
    Seq("lineitem", "part"),
    """
      SELECT round(100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                                    THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                                    ELSE 0 END) AS DOUBLE)
                   / CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE), 6) AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= DATE '1995-09-01'
        AND l_shipdate < DATE '1995-10-01'""")

  // -------------------------------------------------------------- Q15
  /** TPC-H Q15, spec text (1996-01-01 quarter): the revenue view is the
    * spec's CREATE VIEW, carried as a WITH clause shared verbatim by
    * both engines (the `ctes` mechanism); max-revenue selection is the
    * spec's scalar subquery over the same view. */
  val q15Full: GQuery = key(
    "q15_full_top_supplier",
    Seq("supplier", "lineitem"),
    """
      SELECT s_suppkey, s_name, s_address, s_phone, total_revenue
      FROM supplier, revenue
      WHERE s_suppkey = supplier_no
        AND total_revenue = (SELECT max(total_revenue) FROM revenue)
      ORDER BY s_suppkey""",
    ctes = Seq("revenue" ->
      """SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey"""))

  // -------------------------------------------------------------- Q16
  /** TPC-H Q16, spec text (brand 45, MEDIUM POLISHED, 8 sizes):
    * distinct-supplier counts per part attribute over partsupp, with
    * the spec's NOT IN anti-subquery (null-aware anti join in Spark). */
  val q16Full: GQuery = key(
    "q16_full_parts_supplier_cnt",
    Seq("partsupp", "part", "supplier"),
    """
      SELECT p_brand, p_type, p_size,
             count(DISTINCT ps_suppkey) AS supplier_cnt
      FROM partsupp, part
      WHERE p_partkey = ps_partkey
        AND p_brand <> 'Brand#45'
        AND p_type NOT LIKE 'MEDIUM POLISHED%'
        AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        AND ps_suppkey NOT IN (
          SELECT s_suppkey FROM supplier
          WHERE s_comment LIKE '%Customer%Complaints%')
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")

  // -------------------------------------------------------------- Q17
  /** TPC-H Q17, spec text (Brand#23, MED BOX): small-quantity revenue
    * with the correlated 20%-of-average-quantity scalar subquery
    * (Catalyst rewrites it to an aggregate + equi-join on l_partkey).
    * l_quantity is integer-valued so the inner avg is exact in both
    * engines; the outer money sum is cents-discretized as everywhere. */
  val q17Full: GQuery = key(
    "q17_full_small_qty_revenue",
    Seq("lineitem", "part"),
    """
      SELECT round(CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / 7.0, 2) AS avg_yearly
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND p_brand = 'Brand#23'
        AND p_container = 'MED BOX'
        AND l_quantity < (
          SELECT 0.2 * avg(l_quantity)
          FROM lineitem
          WHERE l_partkey = p_partkey)""")

  // -------------------------------------------------------------- Q18
  /** TPC-H Q18, spec text (quantity > 300, the validation parameter):
    * large-volume customers via IN over a HAVING subquery (left-semi in
    * Spark). `sum(l_quantity)` is exact (integer-valued doubles), so no
    * discretization is needed. At sf0.01 the threshold keeps ~0-2 orders
    * (max 7 lines × qty ≤ 50 ⇒ Σ ≤ 350) — both engines agree on the
    * same near-empty set; `o_orderkey` is appended to the spec ordering
    * as the deterministic LIMIT-100 tiebreak (see q3Full). */
  val q18Full: GQuery = key(
    "q18_full_large_orders",
    Seq("customer", "orders", "lineitem"),
    """
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             sum(l_quantity) AS sum_qty
      FROM customer, orders, lineitem
      WHERE o_orderkey IN (
          SELECT l_orderkey
          FROM lineitem
          GROUP BY l_orderkey
          HAVING sum(l_quantity) > 300)
        AND c_custkey = o_custkey
        AND o_orderkey = l_orderkey
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
      LIMIT 100""")

  // -------------------------------------------------------------- Q19
  /** TPC-H Q19, spec text (Brands 12/23/34, the three container/quantity
    * bands): disjunctive predicate join. Two normalizations, both
    * applied identically in the two engines: (a) the p_partkey =
    * l_partkey equality and the shipmode/shipinstruct terms — repeated
    * in every OR arm by the spec — are hoisted out, so Catalyst sees the
    * equi-join key instead of planning a nested-loop join (algebraically
    * identical); (b) the spec's mode pair ('AIR', 'AIR REG') names a
    * value outside its own l_shipmode domain ('REG AIR' per the public
    * dists); the domain spelling keeps the second arm live. */
  val q19Full: GQuery = key(
    "q19_full_discounted_revenue",
    Seq("lineitem", "part"),
    """
      SELECT CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
      FROM lineitem, part
      WHERE p_partkey = l_partkey
        AND l_shipmode IN ('AIR', 'REG AIR')
        AND l_shipinstruct = 'DELIVER IN PERSON'
        AND ((p_brand = 'Brand#12'
              AND p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
              AND l_quantity >= 1 AND l_quantity <= 11
              AND p_size BETWEEN 1 AND 5)
          OR (p_brand = 'Brand#23'
              AND p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
              AND l_quantity >= 10 AND l_quantity <= 20
              AND p_size BETWEEN 1 AND 10)
          OR (p_brand = 'Brand#34'
              AND p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
              AND l_quantity >= 20 AND l_quantity <= 30
              AND p_size BETWEEN 1 AND 15))""")

  // -------------------------------------------------------------- Q20
  /** TPC-H Q20, spec text (forest%, 1994, CANADA): the nested
    * IN-chain over partsupp with the correlated half-of-shipped-
    * quantity availability threshold the adapted q20 had to fake from
    * lineitem share. */
  val q20Full: GQuery = key(
    "q20_full_excess_suppliers",
    Seq("supplier", "nation", "partsupp", "part", "lineitem"),
    """
      SELECT s_name, s_address
      FROM supplier, nation
      WHERE s_suppkey IN (
          SELECT ps_suppkey
          FROM partsupp
          WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'forest%')
            AND ps_availqty > (
              SELECT 0.5 * sum(l_quantity)
              FROM lineitem
              WHERE l_partkey = ps_partkey
                AND l_suppkey = ps_suppkey
                AND l_shipdate >= DATE '1994-01-01'
                AND l_shipdate < DATE '1995-01-01'))
        AND s_nationkey = n_nationkey
        AND n_name = 'CANADA'
      ORDER BY s_name""")

  // -------------------------------------------------------------- Q21
  /** TPC-H Q21, spec text (nation=SAUDI ARABIA): suppliers who were the
    * sole late supplier on a multi-supplier 'F' order — EXISTS with a
    * non-correlated inequality (left-semi) plus NOT EXISTS (null-safe
    * left-anti), both on the l_orderkey equi-key. Spec ordering
    * (numwait DESC, s_name) is already total: s_name is unique. */
  val q21Full: GQuery = key(
    "q21_full_waiting_suppliers",
    Seq("supplier", "lineitem", "orders", "nation"),
    """
      SELECT s_name, count(*) AS numwait
      FROM supplier, lineitem l1, orders, nation
      WHERE s_suppkey = l1.l_suppkey
        AND o_orderkey = l1.l_orderkey
        AND o_orderstatus = 'F'
        AND l1.l_receiptdate > l1.l_commitdate
        AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_receiptdate > l3.l_commitdate)
        AND s_nationkey = n_nationkey
        AND n_name = 'SAUDI ARABIA'
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100""")

  // -------------------------------------------------------------- Q22
  /** TPC-H Q22, spec text (codes 13/31/23/29/30/18/17): customers with
    * above-average balance and no orders, keyed on the real c_phone
    * country code (the generator's codes are nationkey+10 ∈ 10..34, so
    * every spec validation code is live; customers ≡ 0 (mod 3) have no
    * orders by the spec's sparse custkey layout, so the NOT EXISTS is
    * non-vacuous). The avg subquery is cents-discretized (module doc). */
  val q22Full: GQuery = key(
    "q22_full_global_sales",
    Seq("customer", "orders"),
    """
      SELECT cntrycode, count(*) AS numcust,
             CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS totacctbal
      FROM (SELECT substring(c_phone, 1, 2) AS cntrycode, c_acctbal, c_custkey
            FROM customer
            WHERE substring(c_phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17')
              AND c_acctbal > (
                SELECT CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 / count(*)
                FROM customer
                WHERE c_acctbal > 0.00
                  AND substring(c_phone, 1, 2) IN ('13', '31', '23', '29', '30', '18', '17'))
              AND NOT EXISTS (
                SELECT 1 FROM orders WHERE o_custkey = c_custkey)) custsale
      GROUP BY cntrycode
      ORDER BY cntrycode""")

  // ------------------------------------------- second validation set
  /** Alternate validation parameters, one set per query — every value a
    * second LEGAL pick from the spec's parameter range (TPC-H §2.4.x.3
    * substitution rules) and from the generator's live word domains, so
    * parity is checked at two points of each parameter space instead of
    * being overfit to one constant set (r12 directive #7). Substitutions
    * are literal text swaps applied to the SAME spec text as the base
    * key — both engines again run identical SQL. Domain re-picks where
    * the generator's word lists require them (same precedent as the
    * base suite's Q9 `forest`): Q13's planted comment pattern exists
    * only for special/requests, so its v2 rotates to a color-word pair
    * that occurs in the word-salad comments — the NOT LIKE stays live. */
  private val v2Subs: Map[String, Seq[(String, String)]] = Map(
    "q1_full_pricing_summary" -> Seq(
      "DATE '1998-09-02'" -> "DATE '1998-10-02'"), // delta 90 → 60
    "q2_full_min_cost_supplier" -> Seq(
      "p_size = 15" -> "p_size = 25",
      "LIKE '%BRASS'" -> "LIKE '%COPPER'",
      "r_name = 'EUROPE'" -> "r_name = 'ASIA'"),
    "q3_full_shipping_priority" -> Seq(
      "c_mktsegment = 'BUILDING'" -> "c_mktsegment = 'MACHINERY'",
      "DATE '1995-03-15'" -> "DATE '1995-03-07'"),
    "q4_full_order_priority" -> Seq(
      "DATE '1993-07-01'" -> "DATE '1995-04-01'",
      "DATE '1993-10-01'" -> "DATE '1995-07-01'"),
    "q5_full_local_supplier" -> Seq(
      "r_name = 'ASIA'" -> "r_name = 'AMERICA'",
      "o_orderdate >= DATE '1994-01-01'" -> "o_orderdate >= DATE '1996-01-01'",
      "o_orderdate < DATE '1995-01-01'" -> "o_orderdate < DATE '1997-01-01'"),
    "q6_full_forecast_revenue" -> Seq(
      "l_shipdate >= DATE '1994-01-01'" -> "l_shipdate >= DATE '1995-01-01'",
      "l_shipdate < DATE '1995-01-01'" -> "l_shipdate < DATE '1996-01-01'",
      "BETWEEN 0.05 AND 0.07" -> "BETWEEN 0.04 AND 0.06",
      "l_quantity < 24" -> "l_quantity < 25"),
    "q7_full_volume_shipping" -> Seq(
      "'FRANCE'" -> "'ARGENTINA'", "'GERMANY'" -> "'BRAZIL'"),
    "q8_full_market_share" -> Seq(
      "'BRAZIL'" -> "'INDIA'", "r_name = 'AMERICA'" -> "r_name = 'ASIA'",
      "'ECONOMY ANODIZED STEEL'" -> "'STANDARD POLISHED BRASS'"),
    "q9_full_profit" -> Seq("'%forest%'" -> "'%azure%'"),
    "q10_full_returned_items" -> Seq(
      "o_orderdate >= DATE '1993-10-01'" -> "o_orderdate >= DATE '1994-04-01'",
      "o_orderdate < DATE '1994-01-01'" -> "o_orderdate < DATE '1994-07-01'"),
    "q11_full_important_stock" -> Seq("n_name = 'GERMANY'" -> "n_name = 'FRANCE'"),
    "q12_full_priority_class" -> Seq(
      "IN ('MAIL', 'SHIP')" -> "IN ('RAIL', 'TRUCK')",
      "l_receiptdate >= DATE '1994-01-01'" -> "l_receiptdate >= DATE '1995-01-01'",
      "l_receiptdate < DATE '1995-01-01'" -> "l_receiptdate < DATE '1996-01-01'"),
    "q13_full_customer_distribution" -> Seq(
      "'%special%requests%'" -> "'%dark%drab%'"),
    "q14_full_promo_revenue" -> Seq(
      "l_shipdate >= DATE '1995-09-01'" -> "l_shipdate >= DATE '1994-06-01'",
      "l_shipdate < DATE '1995-10-01'" -> "l_shipdate < DATE '1994-07-01'"),
    "q15_full_top_supplier" -> Seq(
      "DATE '1996-01-01'" -> "DATE '1995-07-01'",
      "DATE '1996-04-01'" -> "DATE '1995-10-01'"),
    "q16_full_parts_supplier_cnt" -> Seq(
      "'Brand#45'" -> "'Brand#21'",
      "NOT LIKE 'MEDIUM POLISHED%'" -> "NOT LIKE 'LARGE BRUSHED%'",
      "IN (49, 14, 23, 45, 19, 3, 36, 9)" -> "IN (1, 7, 21, 14, 30, 42, 8, 17)"),
    "q17_full_small_qty_revenue" -> Seq(
      "'Brand#23'" -> "'Brand#15'", "'MED BOX'" -> "'LG CAN'"),
    "q18_full_large_orders" -> Seq(
      "sum(l_quantity) > 300" -> "sum(l_quantity) > 312"),
    "q19_full_discounted_revenue" -> Seq(
      "'Brand#12'" -> "'Brand#21'", "'Brand#23'" -> "'Brand#32'",
      "'Brand#34'" -> "'Brand#43'",
      "l_quantity >= 1 AND l_quantity <= 11" -> "l_quantity >= 5 AND l_quantity <= 15",
      "l_quantity >= 10 AND l_quantity <= 20" -> "l_quantity >= 12 AND l_quantity <= 22",
      "l_quantity >= 20 AND l_quantity <= 30" -> "l_quantity >= 22 AND l_quantity <= 32"),
    "q20_full_excess_suppliers" -> Seq(
      "LIKE 'forest%'" -> "LIKE 'antique%'",
      "l_shipdate >= DATE '1994-01-01'" -> "l_shipdate >= DATE '1995-01-01'",
      "l_shipdate < DATE '1995-01-01'" -> "l_shipdate < DATE '1996-01-01'",
      "n_name = 'CANADA'" -> "n_name = 'PERU'"),
    "q21_full_waiting_suppliers" -> Seq(
      "n_name = 'SAUDI ARABIA'" -> "n_name = 'UNITED STATES'"),
    "q22_full_global_sales" -> Seq(
      "('13', '31', '23', '29', '30', '18', '17')" ->
        "('10', '14', '19', '20', '21', '26', '34')"))

  /** The `_v2` sibling of every base key: same spec text, alternate
    * parameter set. Loud contract: every base key must have a v2 entry,
    * and every `from` literal must occur in the recorded text (a typo'd
    * substitution fails object init, not silently no-ops). */
  private def v2All: Seq[GQuery] = specs.toSeq.map { case ((name, tables), (body, ctes)) =>
    val subs = v2Subs.getOrElse(name, sys.error(s"no v2 parameter set for $name"))
    var texts = body +: ctes.map(_._2)
    for ((from, to) <- subs) {
      require(texts.exists(_.contains(from)), s"$name v2: '$from' not in spec text")
      texts = texts.map(_.replace(from, to))
    }
    mk(name + "_v2", tables, texts.head, ctes.map(_._1).zip(texts.tail))
  }

  def all: Seq[GQuery] = Seq(
    q1Full, q2Full, q3Full, q4Full, q5Full, q6Full, q7Full, q8Full, q9Full,
    q10Full, q11Full, q12Full, q13Full, q14Full, q15Full, q16Full, q17Full,
    q18Full, q19Full, q20Full, q21Full, q22Full) ++ v2All
}
