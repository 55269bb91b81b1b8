package graft.tpch

import graft.GQuery

/** The TPC-H query surface, adapted to the driver's reduced schema.
  *
  * The reference (clflushopt/datafusion-tpch, src/lib.rs:272-316) registers
  * the 8 TPC-H tables precisely so its users can run full SQL analytics over
  * them via DataFusion; the equivalent Spark-native surface is this module:
  * each of the 22 queries is ONE SQL text, run by `spark.sql` in the
  * caller's session and replayed verbatim by DuckDB as the oracle. The
  * corpus tables are bound to the text's table names by
  * [[graft.sources.Tables.sql]]'s `WITH` prelude, so the caller's confs
  * (time zone, AQE, join thresholds) apply and its catalog is neither
  * read nor changed.
  *
  * Schema adaptations (driver testdata vs TPC-H spec):
  *  - no `partsupp` table → part↔supplier relationships derived from
  *    lineitem (q2, q11, q16, q20), cost bases from p_retailprice (q9).
  *  - no l_shipmode/l_commitdate/l_receiptdate → lateness expressed via
  *    l_shipdate vs o_orderdate (q4, q12, q21 use returnflag semantics).
  *  - no c_phone/c_address/comments → q22 country code from c_custkey,
  *    q13/q16 "complaint" filters from priority/acctbal.
  *  - nations are NATION_0..NATION_24; regions keep spec names.
  *  - date domain is o_orderdate ∈ [1995-01-01, 2001-08-01] → spec date
  *    windows shifted into that range (q3 uses 1998-03-15, not the spec's
  *    1995-03-15, to sit mid-domain; noted per query).
  *
  * One spelling for both engines. These are the only rules by which a
  * text key ([[GQuery.sql]]: these 22 and the operator keys that are
  * their oracle) is respelled, and each leaves DuckDB's answer
  * unchanged:
  *  - money sums are discretized to exact BIGINT cents,
  *    `sum(CAST(floor(x * 100 + 0.5) AS BIGINT))`, using only IEEE-754
  *    double ops that are bit-identical across engines. A plain double
  *    sum is order-dependent (Spark's partial+final aggregation against
  *    DuckDB's sequential sum can flip a .005 rounding boundary), and
  *    even a double→DECIMAL cast differs between engines. Averages use
  *    the same discretization at scale 4 (q1) or as a cents sum over a
  *    count (q17, q22), so their cut-offs are engine-stable too.
  *  - a cents sum is divided by `CAST(100.0 AS DOUBLE)`: Spark types the
  *    bare literal `100.0` as DECIMAL where DuckDB's division returns
  *    DOUBLE, and the driver's hash compare tells the two apart.
  *  - an output ranking function is `CAST(rank() … AS BIGINT)` (also
  *    `dense_rank`, `row_number`, `ntile`): Spark types it INT, DuckDB
  *    BIGINT.
  *  - date windows are `DATE` literals. The date columns are
  *    TIMESTAMP_NTZ, compared with a date at midnight in both engines;
  *    a `TIMESTAMP` literal would be read in the session time zone.
  *  - casts name `STRING`, which Spark accepts and DuckDB reads as
  *    VARCHAR.
  *  - monetary outputs are rounded to 2dp on both sides; every LIMIT is
  *    preceded by a total (tie-broken) ORDER BY.
  *  - a FROM list names lineitem before the tables it joins: with no
  *    column statistics Spark joins in FROM order where a join condition
  *    allows, and a fact table listed after its dimensions was planned
  *    as the broadcast side (q3, q5, q10 at sf0.1). DuckDB reorders
  *    joins itself.
  */
object TpchQueries {

  // ---------------------------------------------------------------- Q1
  /** Q1 pricing summary: scan→filter→8-way aggregate. Full TPC-H shape
    * (all needed columns exist). */
  val q1: GQuery = GQuery.sql("q1_pricing_summary", "tpch", """
      SELECT l_returnflag, l_linestatus,
             sum(CAST(floor((l_quantity) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_qty,
             sum(CAST(floor((l_extendedprice) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_base_price,
             sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_disc_price,
             sum(CAST(floor((l_extendedprice * (1 - l_discount) * (1 + l_tax)) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_charge,
             round(sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) / CAST(10000.0 AS DOUBLE) / count(*), 4) AS avg_qty,
             round(sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) / CAST(10000.0 AS DOUBLE) / count(*), 4) AS avg_price,
             round(sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) / CAST(10000.0 AS DOUBLE) / count(*), 6) AS avg_disc,
             count(*)                                                            AS count_order
      FROM lineitem
      WHERE l_shipdate <= DATE '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")

  // ---------------------------------------------------------------- Q2
  /** Q2 min-cost supplier, adapted: no partsupp, so the supply relation is
    * derived from lineitem — unit cost per (part, supplier) is the minimum
    * observed l_extendedprice/l_quantity. For STANDARD parts of size ≤ 5
    * supplied from EUROPE, pick each part's cheapest supplier (a
    * per-part min window over the joined supply rows). */
  val q2: GQuery = GQuery.sql("q2_min_cost_supplier", "tpch", """
      WITH supply AS (
        SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
        FROM lineitem GROUP BY 1, 2
      ), joined AS (
        SELECT s_acctbal, s_name, n_name, p_partkey, unit_cost,
               min(unit_cost) OVER (PARTITION BY p_partkey) AS min_cost
        FROM supply, part, supplier, nation, region
        WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND p_type = 'STANDARD' AND p_size <= 5 AND r_name = 'EUROPE'
      )
      SELECT s_acctbal, s_name, n_name, p_partkey, round(unit_cost, 2) AS unit_cost
      FROM joined WHERE unit_cost = min_cost
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100""")

  // ---------------------------------------------------------------- Q3
  /** Q3 shipping priority: customer ⋈ orders ⋈ lineitem, agg on orderkey,
    * top-10. Adaptations: no o_shippriority column → omitted; cutoff date
    * 1998-03-15 (mid date-domain) instead of the spec's 1995-03-15.
    * Customer is fact-scale at the 100 TB posture, so the text carries
    * no broadcast hint; AQE picks broadcast at small sf. */
  val q3: GQuery = GQuery.sql("q3_shipping_priority", "tpch", """
      SELECT l_orderkey,
             sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS revenue,
             CAST(o_orderdate AS DATE) AS o_orderdate
      FROM lineitem, orders, customer
      WHERE c_mktsegment = 'BUILDING'
        AND c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND o_orderdate < DATE '1998-03-15'
        AND l_shipdate  > DATE '1998-03-15'
      GROUP BY l_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""")

  // ---------------------------------------------------------------- Q4
  /** Q4 order priority check, adapted: no l_commitdate/l_receiptdate, so
    * "late" means a lineitem shipped > 60 days after the order date.
    * Catalyst plans the EXISTS as a left-semi join on orderkey. */
  val q4: GQuery = GQuery.sql("q4_order_priority", "tpch", """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate <  DATE '1996-04-01'
        AND EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey
                      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")

  // ---------------------------------------------------------------- Q5
  /** Q5 local supplier volume: 6-way join, revenue per nation for ASIA,
    * order year 1996.
    * The c_nationkey = s_nationkey "local" constraint is the spec's. */
  val q5: GQuery = GQuery.sql("q5_local_supplier", "tpch", """
      SELECT n_name, sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS revenue
      FROM lineitem, orders, customer, supplier, nation, region
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        AND r_name = 'ASIA'
        AND o_orderdate >= DATE '1996-01-01'
        AND o_orderdate <  DATE '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""")

  // ---------------------------------------------------------------- Q6
  /** Q6 forecast revenue: pure scan+filter+agg; the whole predicate
    * reaches the parquet reader (PushedFilters asserted in spec). */
  val q6: GQuery = GQuery.sql("q6_forecast_revenue", "tpch", """
      SELECT sum(CAST(floor(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS revenue
      FROM lineitem
      WHERE l_shipdate >= DATE '1996-01-01'
        AND l_shipdate <  DATE '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24""")

  // ---------------------------------------------------------------- Q7
  /** Q7 volume shipping between NATION_1 and NATION_2 (either direction):
    * disjunctive nation-pair predicate, ship-year extract, 1996-1997. */
  val q7: GQuery = GQuery.sql("q7_volume_shipping", "tpch", """
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l_shipdate) AS l_year,
             sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS revenue
      FROM lineitem, orders, customer, supplier, nation n1, nation n2
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND l_suppkey = s_suppkey
        AND s_nationkey = n1.n_nationkey AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
             (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= DATE '1996-01-01'
        AND l_shipdate <  DATE '1998-01-01'
      GROUP BY 1, 2, 3
      ORDER BY 1, 2, 3""")

  // ---------------------------------------------------------------- Q8
  /** Q8 market share of NATION_3 suppliers in ASIA for ECONOMY parts,
    * order years 1995-1996: conditional agg sum(case)/sum over 7-way join. */
  val q8: GQuery = GQuery.sql("q8_market_share", "tpch", """
      SELECT year(o_orderdate) AS o_year,
             round(CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                            THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                            ELSE 0 END) AS DOUBLE)
                   / CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE), 6) AS mkt_share
      FROM lineitem, part, orders, customer, supplier, nation n1, nation n2, region
      WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey
        AND o_custkey = c_custkey AND l_suppkey = s_suppkey
        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        AND s_nationkey = n2.n_nationkey
        AND r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate BETWEEN DATE '1995-01-01'
                            AND DATE '1996-12-31'
      GROUP BY 1
      ORDER BY 1""")

  // ---------------------------------------------------------------- Q9
  /** Q9 product-type profit, adapted: no ps_supplycost → unit cost is
    * 10% of p_retailprice; parts matched on '%red%' ('green' absent from
    * this testdata's p_name domain). Profit per supplier-nation per
    * order-year. */
  val q9: GQuery = GQuery.sql("q9_profit", "tpch", """
      SELECT n_name AS nation, year(o_orderdate) AS o_year,
             sum(CAST(floor((l_extendedprice * (1 - l_discount) - p_retailprice * 0.1 * l_quantity) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_profit
      FROM lineitem, part, supplier, orders, nation
      WHERE l_partkey = p_partkey AND l_suppkey = s_suppkey
        AND l_orderkey = o_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%'
      GROUP BY 1, 2
      ORDER BY 1, 2 DESC""")

  // ---------------------------------------------------------------- Q10
  /** Q10 returned items: customers who returned goods ('R') for orders in
    * 1996Q1, revenue per customer, top 20. No c_address/phone/comment →
    * output keeps the columns the schema has. */
  val q10: GQuery = GQuery.sql("q10_returned_items", "tpch", """
      SELECT c_custkey, c_name, c_acctbal, n_name,
             sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS revenue
      FROM lineitem, orders, customer, nation
      WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        AND c_nationkey = n_nationkey AND l_returnflag = 'R'
        AND o_orderdate >= DATE '1996-01-01'
        AND o_orderdate <  DATE '1996-04-01'
      GROUP BY 1, 2, 3, 4
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""")

  // ---------------------------------------------------------------- Q11
  /** Q11 important stock, adapted: no partsupp → a part's "stock value"
    * for NATION_5's suppliers is the discounted revenue of their lineitems;
    * parts above a 0.001 share of the total are kept. The total is a
    * one-row aggregate joined to the per-part values, not the spec's
    * HAVING scalar subquery, which Spark ran 25 % slower at sf0.1
    * (dev/BENCH_NOTES.md). */
  val q11: GQuery = GQuery.sql("q11_important_stock", "tpch", """
      WITH stock AS (
        SELECT l_partkey,
               CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS cents
        FROM lineitem, supplier, nation
        WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
          AND n_name = 'NATION_5')
      SELECT l_partkey, part_cents / CAST(100.0 AS DOUBLE) AS value
      FROM (SELECT l_partkey, sum(cents) AS part_cents FROM stock GROUP BY l_partkey) part_value,
           (SELECT sum(cents) AS total_cents FROM stock) total
      WHERE CAST(part_cents AS DOUBLE) > CAST(total_cents AS DOUBLE) * 0.001
      ORDER BY value DESC, l_partkey""")

  // ---------------------------------------------------------------- Q12
  /** Q12 shipping class, adapted: no l_shipmode → quantity classes
    * (SMALL/MEDIUM/LARGE); counts of high- vs low-priority orders per
    * class for lineitems shipped in 1997. CASE-bucket conditional agg. */
  val q12: GQuery = GQuery.sql("q12_priority_class", "tpch", """
      SELECT CASE WHEN l_quantity < 10 THEN 'SMALL'
                  WHEN l_quantity < 30 THEN 'MEDIUM'
                  ELSE 'LARGE' END AS qty_class,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      FROM orders, lineitem
      WHERE o_orderkey = l_orderkey
        AND l_shipdate >= DATE '1997-01-01'
        AND l_shipdate <  DATE '1998-01-01'
      GROUP BY 1
      ORDER BY 1""")

  // ---------------------------------------------------------------- Q13
  /** Q13 customer order-count distribution: left outer join (orders
    * filtered to non-urgent — stands in for the spec's comment filter),
    * count per customer, then distribution of counts. Two shuffles by
    * construction (custkey, then count). */
  val q13: GQuery = GQuery.sql("q13_customer_distribution", "tpch", """
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey)
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""")

  // ---------------------------------------------------------------- Q14
  /** Q14 promo revenue share for 1997-09: conditional revenue share over
    * the part join (p_type = 'PROMO' — single-word type domain here). */
  val q14: GQuery = GQuery.sql("q14_promo_revenue", "tpch", """
      SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                    THEN CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)
                                    ELSE 0 END) AS DOUBLE)
                   / CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) AS DOUBLE), 6) AS promo_revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND l_shipdate >= DATE '1997-09-01'
        AND l_shipdate <  DATE '1997-10-01'""")

  // ---------------------------------------------------------------- Q15
  /** Q15 top supplier: revenue per supplier for 1996Q1 (the spec's CTE
    * view); the maximum is a one-row aggregate joined on equality, not
    * the spec's scalar subquery, which Spark ran slower at sf0.1 (as in
    * q11; dev/BENCH_NOTES.md). The cents sum BEFORE the max keeps the
    * argmax stable across engines. */
  val q15: GQuery = GQuery.sql("q15_top_supplier", "tpch", """
      WITH revenue AS (
        SELECT l_suppkey,
               sum(CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate <  DATE '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_revenue
      FROM revenue, (SELECT max(total_revenue) AS max_revenue FROM revenue) top, supplier
      WHERE total_revenue = max_revenue AND s_suppkey = l_suppkey
      ORDER BY s_suppkey""")

  // ---------------------------------------------------------------- Q16
  /** Q16 parts/supplier count, adapted: no partsupp → the part↔supplier
    * relation is distinct (l_partkey, l_suppkey); the spec's
    * "customer complaints" NOT IN filter becomes s_acctbal < 0. */
  val q16: GQuery = GQuery.sql("q16_parts_supplier_cnt", "tpch", """
      SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
      FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) link, part
      WHERE p_partkey = l_partkey
        AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        AND p_size IN (1, 9, 17, 25, 33, 41, 49)
        AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")

  // ---------------------------------------------------------------- Q17
  /** Q17 small-quantity revenue, adapted: no p_container → Brand#3 parts
    * of size ≤ 10. The correlated avg-per-part subquery is an aggregate
    * joined back on partkey, its average an exact cents sum over a count
    * so the cut-off is bit-identical across engines. */
  val q17: GQuery = GQuery.sql("q17_small_qty_revenue", "tpch", """
      SELECT round(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) / CAST(7.0 AS DOUBLE), 2) AS avg_yearly
      FROM lineitem, part,
           (SELECT l_partkey AS a_partkey,
                   sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) / count(*) * 0.2 AS qty_cut
            FROM lineitem GROUP BY l_partkey) a
      WHERE p_partkey = l_partkey AND a_partkey = l_partkey
        AND p_brand = 'Brand#3' AND p_size <= 10
        AND l_quantity < qty_cut""")

  // ---------------------------------------------------------------- Q18
  /** Q18 large orders: orders whose total quantity exceeds 250 (sized to
    * this data's per-order line distribution; spec uses 300), joined back
    * to customer, top 100 by o_totalprice. */
  val q18: GQuery = GQuery.sql("q18_large_orders", "tpch", """
      SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
             o_totalprice, round(sum_qty, 2) AS sum_qty
      FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big,
           orders, customer
      WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100""")

  // ---------------------------------------------------------------- Q19
  /** Q19 discounted revenue: OR-of-ANDs join predicate over brand/size/
    * quantity (no p_container in this schema). The equi-key (partkey)
    * stays conjunctive so the join is hash-based with the disjunction as
    * a residual filter — not a cartesian. */
  val q19: GQuery = GQuery.sql("q19_discounted_revenue", "tpch", """
      SELECT sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS revenue
      FROM lineitem, part
      WHERE l_partkey = p_partkey
        AND ((p_brand = 'Brand#2'  AND p_size BETWEEN 1  AND 15 AND l_quantity BETWEEN 1  AND 20)
          OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
          OR (p_brand = 'Brand#24' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40))""")

  // ---------------------------------------------------------------- Q20
  /** Q20 excess suppliers, adapted: no partsupp/availqty → a supplier
    * qualifies if, for some 'small%' part, they shipped more than half of
    * that part's total 1996 quantity. Nested aggregation under two IN
    * subqueries, which Catalyst plans as left-semi joins. */
  val q20: GQuery = GQuery.sql("q20_excess_suppliers", "tpch", """
      WITH pair_qty AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS pair_qty
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01'
          AND l_shipdate <  DATE '1997-01-01'
          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        GROUP BY 1, 2
      ), part_qty AS (
        SELECT l_partkey AS t_partkey, sum(pair_qty) AS part_qty FROM pair_qty GROUP BY 1
      )
      SELECT s_name, s_acctbal
      FROM supplier, nation
      WHERE s_nationkey = n_nationkey AND n_name = 'NATION_7'
        AND s_suppkey IN (SELECT l_suppkey FROM pair_qty, part_qty
                          WHERE l_partkey = t_partkey AND pair_qty > part_qty * 0.5)
      ORDER BY s_name""")

  // ---------------------------------------------------------------- Q21
  /** Q21 waiting suppliers, adapted: no l_receiptdate/l_commitdate → the
    * "failed to deliver" signal is l_returnflag = 'R'. For finalized ('F')
    * orders: suppliers in NATION_4 whose lineitem was returned, where the
    * order has another supplier's lineitem (EXISTS → left-semi) but no
    * OTHER supplier's returned lineitem (NOT EXISTS → left-anti). */
  val q21: GQuery = GQuery.sql("q21_waiting_suppliers", "tpch", """
      SELECT s_name, count(*) AS numwait
      FROM lineitem l1, orders, supplier, nation
      WHERE l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
        AND l1.l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_4' AND l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100""")

  // ---------------------------------------------------------------- Q22
  /** Q22 global sales opportunity, adapted: no c_phone → country code is
    * c_custkey % 7 (as text); "no orders" would be empty in this data (all
    * customers have orders) → "no orders since 1999-01-01" anti-join.
    * The average over positive balances is an exact cents sum over a
    * count as in q17, a one-row aggregate joined to the customers rather
    * than the spec's scalar subquery (as in q11 and q15). */
  val q22: GQuery = GQuery.sql("q22_global_sales", "tpch", """
      SELECT cntrycode, count(*) AS numcust, sum(CAST(floor((c_acctbal) * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS totacctbal
      FROM (SELECT CAST(c_custkey % 7 AS STRING) AS cntrycode, c_custkey, c_acctbal
            FROM customer
            WHERE CAST(c_custkey % 7 AS STRING) IN ('1','2','3','4','5')) c,
           (SELECT sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) / count(*) AS avg_bal
            FROM customer
            WHERE c_acctbal > 0
              AND CAST(c_custkey % 7 AS STRING) IN ('1','2','3','4','5')) a
      WHERE c_acctbal > avg_bal
        AND NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= DATE '1999-01-01')
      GROUP BY cntrycode
      ORDER BY cntrycode""")

  def all: Seq[GQuery] = Seq(q1, q2, q3, q4, q5, q6, q7, q8, q9, q10, q11,
    q12, q13, q14, q15, q16, q17, q18, q19, q20, q21, q22)
}
