package graft.tpch

import graft.GQuery
import graft.sources.Tables

/** Plan-REWRITE routing arms for textbook TPC-H keys whose measured
  * residue is a specific erasable plan defect rather than layout-
  * addressable shuffle volume (the bucketed family in
  * [[graft.sources.Sinks]] handles those). Same contract as that
  * family: the oracle is BYTE-IDENTICAL to the raw spec-text key's, so
  * the rewrite must not change a single row; each key's scaladoc
  * carries its interleaved same-JVM A/B verdict.
  */
object TpchRewrites {

  /** Textbook TPC-H Q22 rewritten around its measured bottleneck.
    *
    * The round-16 per-node breakdown (BreakdownMain at sf10,
    * dev/BENCH_NOTES.md) refuted the r15 "machinery floor" reading:
    * raw q22 plans the `NOT EXISTS (SELECT 1 FROM orders WHERE
    * o_custkey = c_custkey)` as a left-anti SORT-MERGE join that
    * hash-exchanges and sorts ALL of orders — 15M rows / 234 MB moved
    * and a 1 GB-peak sort to answer a membership probe against 191k
    * candidate customers. That exchange+sort is ~half the 1.5 s wall.
    *
    * The rewrite inverts the probe so orders is never shuffled:
    * 1. candidates = phone-code customers above the cents-discretized
    *    average balance (the scalar avg crossJoins back as a broadcast
    *    1-row aggregate, as everywhere in the suite);
    * 2. the candidate KEY SET (c_custkey only) broadcasts, and orders
    *    left-SEMI joins it MAP-ONLY — each orders partition streams
    *    once, emitting only candidate custkeys that have orders;
    * 3. a map-side-combined `distinct` collapses those to ≤|candidates|
    *    rows, which broadcast back for the final left-ANTI join —
    *    also map-only.
    * Orders' contribution drops from exchange+sort(15M) to one
    * streamed scan; the only exchanges left are the 1-row avg, the
    * combined distinct (≤191k ints), and the 7-group rollup.
    *
    * Scale contract: the broadcast side is the candidate fraction of
    * customer (~13% — linear in sf, ~26 MB of longs at sf100), so like
    * q18's rollup broadcast this is the measured bench arm with a
    * documented fallback: a deployment where the candidate set
    * outgrows broadcast shuffles the candidate keys against a
    * map-side-distinct'd orders projection — still never the raw
    * 15M-row exchange, because the distinct reduces orders to unique
    * custkeys BEFORE the wire.
    *
    * Oracle BYTE-IDENTICAL to `q22_full_global_sales`' spec text. */
  val q22Rewrite: GQuery = GQuery(
    "q22_full_anti_rewrite",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = FullTpch.rootFor(s, dir)
      val codes = Seq("13", "31", "23", "29", "30", "18", "17")
      val cust = Tables.load(s, root, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          substring(col("c_phone"), 1, 2).as("cntrycode"))
        .where(col("cntrycode").isin(codes: _*))
      val balCents = floor(col("c_acctbal") * 100 + 0.5).cast("long")
      // scalar avg over positive-balance code-matched customers,
      // cents-discretized exactly as the spec text both engines run
      val avgBal = cust.where(col("c_acctbal") > 0.0)
        .agg((sum(balCents).cast("double") / 100.0 / count(lit(1))).as("avg_bal"))
      val candidates = cust.crossJoin(broadcast(avgBal))
        .where(col("c_acctbal") > col("avg_bal"))
        .select(col("c_custkey"), col("c_acctbal"), col("cntrycode"))
      // orders probes the broadcast candidate key set MAP-ONLY (the
      // inversion that erases raw q22's 15M-row exchange + sort), and
      // the surviving keys collapse map-side before the wire
      val withOrders = Tables.load(s, root, "orders")
        .select(col("o_custkey"))
        .join(broadcast(candidates.select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_semi")
        .distinct()
      candidates
        .join(broadcast(withOrders), col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          (sum(balCents).cast("double") / 100.0).as("totacctbal"))
        .orderBy(col("cntrycode"))
    },
    FullTpch.q22Full.oracle,
    tags = Set("tpch_full"))

  /** Textbook TPC-H Q15 rewritten around its measured double scan.
    *
    * The spec defines the `revenue` view and then selects the supplier
    * whose total equals `(SELECT max(total_revenue) FROM revenue)` —
    * Catalyst evaluates the view TWICE (once for the FROM, once for
    * the scalar subquery), so raw q15 scans and aggregates the
    * 3-month slice of lineitem two full times (4.86× at the sf10
    * settle, the suite's worst duck ratio in the r16 canonical line's
    * duck column). This is the exact situation where the
    * derive-from-the-aggregate pattern PAYS (contrast the retired
    * q11_full_bucketed arm, where it lost 2× at sf10 because partsupp
    * is 100 MB — SURVEY §4): the per-supplier
    * revenue frame is computed ONCE, persisted (Caches-tracked,
    * released by the harness per run), and reused for both the scalar
    * max (a broadcast 1-row re-aggregate) and the winner selection —
    * halving the dominant lineitem scan+aggregate. The winner set
    * (suppliers at the max — ties legal per spec) broadcasts into a
    * map-only join against supplier. Exact-equality join on
    * total_revenue is sound: both sides are the SAME persisted frame's
    * cents-discretized doubles.
    *
    * MEASURED VERDICT (round 16, interleaved same-JVM sf10 A/B, 5
    * rounds): raw [1.057,1.063,1.088,1.189,1.352] vs rewrite
    * [0.804,0.828,0.846,0.853,1.130] — a consistent 1.31× win,
    * confirming the scale rule from the q11 negative: persist pays
    * when the saved recompute (a 60M-row lineitem scan + aggregate)
    * dwarfs the cache materialization (a ~100k-row frame). Oracle
    * BYTE-IDENTICAL to `q15_full_top_supplier`'s spec text (view as
    * CTE). */
  val q15Rewrite: GQuery = GQuery(
    "q15_full_view_reuse",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val root = FullTpch.rootFor(s, dir)
      val cents = floor(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100 + 0.5)
        .cast("long")
      val revenue = graft.Caches.persistTracked(
        Tables.load(s, root, "lineitem")
          .where(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
            col("l_shipdate") < lit("1996-04-01").cast("date"))
          .groupBy(col("l_suppkey"))
          .agg((sum(cents).cast("double") / 100.0).as("total_revenue"))
          .withColumnRenamed("l_suppkey", "supplier_no"))
      val maxRev = revenue.agg(max(col("total_revenue")).as("max_rev"))
      val winners = revenue.crossJoin(broadcast(maxRev))
        .where(col("total_revenue") === col("max_rev"))
        .select(col("supplier_no"), col("total_revenue"))
      Tables.load(s, root, "supplier")
        .select(col("s_suppkey"), col("s_name"), col("s_address"), col("s_phone"))
        .join(broadcast(winners), col("s_suppkey") === col("supplier_no"))
        .select(col("s_suppkey"), col("s_name"), col("s_address"),
          col("s_phone"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
    FullTpch.q15Full.oracle,
    tags = Set("tpch_full"))

  def all: Seq[GQuery] = Seq(q22Rewrite, q15Rewrite)
}
