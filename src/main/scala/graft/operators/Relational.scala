package graft.operators

import graft.GQuery
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.3 relational operator micro-suite: one oracle-checked entry per
  * engine capability the reference gets for free from DataFusion
  * (windows, grouping analytics, set ops, join variants, range/as-of
  * joins, sessionisation, sketches).
  *
  * A key whose DataFrame builder would only re-spell its oracle is the
  * oracle text itself ([[GQuery.sql]]): Spark runs it in the caller's
  * session and DuckDB replays it verbatim. The numeric and typing
  * rules of one spelling for both engines — exact integer cents for
  * every floating aggregate, DOUBLE divisions, BIGINT ranks, DATE
  * literals — are [[graft.tpch.TpchQueries]]'; the builders below
  * follow them too. A key keeps its builder where the builder is an
  * algorithm the oracle only specifies (salting, sketches, bounded
  * heaps, prefix filters, two-level scans).
  *
  * Scale notes (100 TB posture) are per-op scaladoc; the common rules:
  * window functions partition on a real key (never a global window on
  * fact data), range joins are bucketed (never BroadcastNestedLoop on
  * the raw inequality), as-of joins use the union+window plan (single
  * shuffle by key, no per-row subquery).
  */
object Relational {

  private def cents(c: Column): Column = floor(c * lit(100) + lit(0.5)).cast("long")

  // ------------------------------------------------------------ windows

  /** rank / dense_rank over value, row_number with a total tie-break.
    * Partitioned window → scales (shuffle by event_type; no global sort). */
  val windowRank: GQuery = GQuery.sql("op_window_rank", "relational", """
      SELECT * FROM (
        SELECT event_type, event_id, value,
               CAST(rank()       OVER (PARTITION BY event_type ORDER BY value DESC) AS BIGINT) AS rnk,
               CAST(dense_rank() OVER (PARTITION BY event_type ORDER BY value DESC) AS BIGINT) AS drnk,
               CAST(row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS BIGINT) AS rn
        FROM events)
      WHERE rn <= 5""")

  /** Running sum + moving average + lag/lead frames, partitioned by
    * user. Exact integer cents keep the running sums engine-stable. */
  val windowRunning: GQuery = GQuery.sql("op_window_running", "relational", """
      SELECT user_id, event_id, ts,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents,
             round(avg(CAST(floor(value * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS moving_avg_cents,
             lag(CAST(floor(value * 100 + 0.5) AS BIGINT), 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_cents,
             lead(CAST(floor(value * 100 + 0.5) AS BIGINT), 1)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_cents
      FROM events WHERE user_id < 10""")

  /** Top-k per group: the window+filter plan (rank pushes the k-limit
    * into each partition; no global sort of the fact table). */
  val topkPerGroup: GQuery = GQuery.sql("op_topk_per_group", "relational", """
      SELECT * FROM (
        SELECT event_type, event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
               CAST(row_number() OVER (PARTITION BY event_type
                                       ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT) DESC, event_id) AS BIGINT) AS rn
        FROM events)
      WHERE rn <= 3""")

  // ------------------------------------------ grouping analytics

  private def grouped(name: String, groupBy: String): GQuery = GQuery.sql(name, "relational", s"""
      SELECT l_returnflag, l_linestatus, count(*) AS cnt,
             sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) / CAST(100.0 AS DOUBLE) AS sum_price
      FROM lineitem
      GROUP BY $groupBy""")

  /** GROUP BY ROLLUP — partial+final agg over the expanded grouping-id,
    * single shuffle. */
  val rollup: GQuery = grouped("op_rollup", "ROLLUP (l_returnflag, l_linestatus)")

  /** GROUP BY CUBE. */
  val cube: GQuery = grouped("op_cube", "CUBE (l_returnflag, l_linestatus)")

  /** Explicit GROUPING SETS ((flag), (status), ()). */
  val groupingSets: GQuery =
    grouped("op_grouping_sets", "GROUPING SETS ((l_returnflag), (l_linestatus), ())")

  /** Pivot long→wide (oracle via CASE): per returnflag, a count column
    * per linestatus. Explicit value list → no extra distinct-values job. */
  val pivot: GQuery = GQuery(
    "op_pivot",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        // a (flag, status) combo absent from the data pivots to NULL;
        // the CASE-sum oracle yields 0 — make empty combos agree
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O")),
    Some("""
      SELECT l_returnflag,
             CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
             CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
      FROM lineitem GROUP BY l_returnflag"""),
    tags = Set("relational"))

  /** Unpivot wide→long over a per-flag aggregate. */
  val unpivot: GQuery = GQuery(
    "op_unpivot",
    (s, dir) => {
      val wide = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(sum(cents(col("l_quantity"))).as("qty_cents"),
          sum(cents(col("l_extendedprice"))).as("price_cents"))
      wide.unpivot(Array(col("l_returnflag")),
        Array(col("qty_cents"), col("price_cents")), "metric", "metric_value")
    },
    Some("""
      SELECT l_returnflag, 'qty_cents' AS metric,
             CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS metric_value
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag, 'price_cents' AS metric,
             CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS metric_value
      FROM lineitem GROUP BY l_returnflag"""),
    tags = Set("relational"))

  // ------------------------------------------------------- join variants

  /** Left-semi: customers with ≥1 urgent order. */
  val semiJoin: GQuery = GQuery.sql("op_semi_join", "relational", """
      SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""")

  /** Left-anti: customers with no order on/after 2000-01-01. */
  val antiJoin: GQuery = GQuery.sql("op_anti_join", "relational", """
      SELECT c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey
                          AND o_orderdate >= DATE '2000-01-01')""")

  /** Full outer with null-key handling: per-nation customer counts vs
    * rich-supplier counts (filter induces nations missing on one side). */
  val fullOuterJoin: GQuery = GQuery.sql("op_full_outer_join", "relational", """
      SELECT coalesce(c_nationkey, s_nationkey) AS nationkey, c_cnt, s_cnt
      FROM (SELECT c_nationkey, count(*) AS c_cnt FROM customer GROUP BY 1) c
      FULL OUTER JOIN
           (SELECT s_nationkey, count(*) AS s_cnt FROM supplier
            WHERE s_acctbal > 5000 GROUP BY 1) s
        ON c_nationkey = s_nationkey""")

  /** UNION / EXCEPT / INTERSECT (distinct semantics), tagged into one
    * result. A = building-segment customers, B = customers with an
    * urgent order. */
  val unionExceptIntersect: GQuery = GQuery.sql("op_union_except_intersect", "relational", """
      WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
           b AS (SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      SELECT 'union' AS tag, c_custkey FROM (SELECT c_custkey FROM a UNION SELECT c_custkey FROM b)
      UNION ALL
      SELECT 'except', c_custkey FROM (SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)
      UNION ALL
      SELECT 'intersect', c_custkey FROM (SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b)""")

  /** DISTINCT. */
  val distinctOp: GQuery =
    GQuery.sql("op_distinct", "relational", "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")

  // ------------------------------------------------- nested / aggregates

  /** Explode/unnest then re-aggregate: word counts over documents.
    * Generator-side explode stays in codegen; the re-agg is a normal
    * partial+final count. */
  val explodedAgg: GQuery = GQuery(
    "op_exploded_agg",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 50),
    Some("""
      SELECT word, count(*) AS cnt
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word HAVING count(*) >= 50"""),
    tags = Set("relational"))

  /** Exact interpolated percentiles + median per group. Exact
    * percentile needs a per-group sort — fine on grouped data; the
    * documented scale path for ungrouped fact columns is
    * approx_percentile (see op_approx_distinct for the sketch family). */
  val percentiles: GQuery = GQuery(
    "op_percentiles",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5D)"), 4).as("p50"),
          round(expr("percentile(value, 0.9D)"), 4).as("p90"),
          round(expr("percentile(value, 0.99D)"), 4).as("p99"),
          count(lit(1)).as("cnt")),
    Some("""
      SELECT event_type,
             round(quantile_cont(value, 0.5), 4)  AS p50,
             round(quantile_cont(value, 0.9), 4)  AS p90,
             round(quantile_cont(value, 0.99), 4) AS p99,
             count(*) AS cnt
      FROM events GROUP BY event_type"""),
    tags = Set("relational"))

  /** Tie-aware, null-aware rank contract over grouped rows carrying
    * `value` and the group's `ap50` estimate: the estimate's TIE
    * RANGE [count(<v), count(≤v)] must straddle the 50%±5% band over
    * NON-NULL values (the sketch ignores nulls; a point mass at the
    * median makes count(≤v) alone overshoot even when the sketch is
    * exactly right). Vacuously true for an all-NULL group — the
    * sketch has nothing to estimate there. Shared with the AnnSpec
    * point-mass regression test so the test guards the PRODUCTION
    * expression, not a copy. */
  private[graft] def medianRankOk: Column =
    (count(col("value")) === 0L) ||
      ((sum(when(col("value") < col("ap50"), 1L).otherwise(0L)).cast("double") /
        count(col("value")) <= 0.55) &&
        (sum(when(col("value") <= col("ap50"), 1L).otherwise(0L)).cast("double") /
          count(col("value")) >= 0.45))

  /** GK-sketch quantile: approx_percentile per group, emitted as a
    * RANK-ERROR contract the oracle can check exactly (the same
    * pattern as op_approx_distinct — sketch values aren't portable,
    * their guarantees are). The GK guarantee bounds rank error at
    * 1/accuracy = 1% regardless of partial-merge order, so the
    * estimated median's exact TIE RANGE [count(<v), count(≤v)] over
    * non-null values must straddle 50%±5% — computed by joining the
    * estimate back and counting strictly-below and at-or-below via
    * [[medianRankOk]]. The sketch itself is mergeable partial+final
    * with O(accuracy·log N) state; the exact-rank recount is the
    * verification harness, not the production shape. */
  val approxQuantile: GQuery = GQuery(
    "op_approx_quantile",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val ap = ev.groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, 0.5D, 100)").as("ap50"))
      ev.join(ap, "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"), medianRankOk.as("median_rank_ok"))
    },
    Some("""
      SELECT event_type, count(*) AS cnt, TRUE AS median_rank_ok
      FROM events GROUP BY 1"""),
    tags = Set("relational"))

  /** Filtered aggregates — FILTER (WHERE …) clauses. */
  val conditionalAgg: GQuery = GQuery.sql("op_conditional_agg", "relational", """
      SELECT event_type,
             count(*) FILTER (WHERE value > 100) AS cnt_big,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) FILTER (WHERE user_id % 2 = 0) AS BIGINT) AS sum_even_users,
             count(DISTINCT user_id) FILTER (WHERE value <= 100) AS users_small
      FROM events GROUP BY event_type""")

  // ------------------------------------------------- interval / temporal

  /** Range (interval) join: events × 60 deterministic 5-hour windows,
    * bucketed by day so the join is an equi-join on the bucket with the
    * range predicate as residual — never a BroadcastNestedLoopJoin over
    * the raw inequality. Windows spanning a day boundary are exploded
    * into both covering buckets (sequence→explode). Event times and
    * window bounds are wall-clock readings ([[Tables.wallClock]]), so
    * the session time zone moves no event across a bound. */
  val rangeJoin: GQuery = GQuery(
    "op_range_join",
    (s, dir) => {
      val wins = s.range(60).toDF("window_id")
        .withColumn("w_start", timestamp_seconds(
          unix_timestamp(Tables.wallClock(lit("2024-01-01 00:00:00").cast("timestamp_ntz")))
            + col("window_id") * 11 * 3600))
        .withColumn("w_end", timestamp_seconds(
          unix_timestamp(col("w_start")) + 5 * 3600))
      val winBuckets = wins.withColumn("bucket",
        explode(sequence(
          floor(unix_timestamp(col("w_start")) / 86400).cast("long"),
          floor((unix_timestamp(col("w_end")) - 1) / 86400).cast("long"))))
      val e = Tables.events(s, dir)
        .withColumn("wts", Tables.wallClock(col("ts")))
        .withColumn("bucket", floor(unix_timestamp(col("wts")) / 86400).cast("long"))
        .withColumn("v_cents", cents(col("value")))
      e.join(winBuckets, Seq("bucket"))
        .filter(col("wts") >= col("w_start") && col("wts") < col("w_end"))
        .groupBy(col("window_id"))
        .agg(count(lit(1)).as("cnt"), sum(col("v_cents")).as("sum_cents"))
    },
    Some("""
      WITH wins AS (
        SELECT CAST(i AS BIGINT) AS window_id,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * 39600) AS w_start,
               TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i * 39600 + 18000) AS w_end
        FROM range(60) t(i))
      SELECT window_id, count(*) AS cnt,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM events JOIN wins ON ts >= w_start AND ts < w_end
      GROUP BY window_id"""),
    tags = Set("relational"))

  /** As-of join: each purchase matched to the user's latest click at or
    * before it. Plan: tag+union both sides, one shuffle by user, one
    * window pass carrying the last click forward (clicks sort before
    * purchases on ts ties → '≤' semantics) — no per-row subquery, no
    * range join. Oracle is DuckDB's native ASOF LEFT JOIN. The
    * purchases' null `click_ts` is TIMESTAMP_NTZ like `ts`, so the
    * union reads no time in the session time zone. */
  val asofJoin: GQuery = GQuery(
    "op_asof_join",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), lit(0).as("is_p"),
          lit(null).cast("long").as("event_id"), col("ts").as("click_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(1).as("is_p"),
          col("event_id"), lit(null).cast("timestamp_ntz").as("click_ts"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("is_p"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("last_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
        .filter(col("is_p") === 1)
        .select(col("event_id"), col("user_id"), col("ts"), col("last_click_ts"))
    },
    Some("""
      SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON p.user_id = c.user_id AND p.ts >= c.ts"""),
    tags = Set("relational"))

  /** Gaps-and-islands sessionisation: a session breaks after 30 idle
    * minutes. lag → boundary flag → running sum (session id) → per-
    * session aggregate; one shuffle by user, two window passes. */
  val sessionize: GQuery = GQuery.sql("op_sessionize", "relational", """
      WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      ids AS (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM ids GROUP BY user_id, session_id""")

  /** HLL sketch: approx_count_distinct per group. The production
    * shape is the sketch ALONE — mergeable partial+final, fixed-size
    * state, no shuffle of raw user ids. Sketch estimates aren't
    * portable across engines, so THIS KEY also computes the exact
    * distinct count (which does shuffle raw ids — that cost is the
    * verification harness, not the operator) and emits the tolerance
    * CONTRACT: per group, the exact count plus a boolean asserting
    * the estimate landed within ±5% of it, which the DuckDB oracle
    * checks exactly (expected: every group true). The sketch runs at
    * rsd=0.01 so the ±5% contract sits 5 standard deviations out
    * (the DEFAULT rsd is 0.05 — the contract boundary itself — and
    * duly broke at sf0.1); cost is a ~12 KB register array per
    * group, still mergeable. AnnSpec measures the raw estimate. */
  val approxDistinct: GQuery = GQuery(
    "op_approx_distinct",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("cnt"),
          approx_count_distinct(col("user_id"), rsd = 0.01).cast("double")
            .between(countDistinct(col("user_id")) * 0.95,
              countDistinct(col("user_id")) * 1.05)
            .as("within_tol")),
    Some("""
      SELECT event_type, count(DISTINCT user_id) AS exact_users,
             count(*) AS cnt, TRUE AS within_tol
      FROM events GROUP BY 1"""),
    // duckNotComparable: the Spark side computes BOTH the exact count
    // and the HLL estimate (to emit the tolerance check); the oracle
    // literally selects TRUE — a wall-clock ratio over this pair
    // prices two different computations (r14 verdict: 247x noise in
    // the headline geomean)
    tags = Set("relational", "duckNotComparable"))

  /** The shard-sketch pattern [[approxDistinct]] only gestures at,
    * made explicit: per-(group, shard) Datasketches HLL sketches
    * (`hll_sketch_agg`, lgK=14 → ~0.8% rsd) built independently —
    * exactly what a 100 TB ingest persists NEXT TO each parquet
    * partition — then `hll_union_agg`-merged per group and estimated.
    * No raw id ever crosses shard boundaries in the sketch path; the
    * merge shuffles KB-sized registers. Like approxDistinct, the key
    * emits the cross-engine-checkable contract (exact count + a
    * boolean pinning the MERGED estimate within ±5%, ≈6σ at lgK=14)
    * rather than the estimate itself; the exact side is the
    * verification harness, not the operator. */
  val sketchMerge: GQuery = GQuery(
    "op_sketch_merge",
    (s, dir) => {
      val e = Tables.events(s, dir)
      val shardSketch = e
        .withColumn("shard", pmod(col("event_id"), lit(8L)))
        .groupBy(col("event_type"), col("shard"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"))
      val merged = shardSketch
        .groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      val exact = e.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.join(broadcast(merged), "event_type")
        .select(col("event_type"), col("exact_users"),
          col("est").cast("double")
            .between(col("exact_users") * 0.95, col("exact_users") * 1.05)
            .as("merge_within_tol"))
    },
    Some("""
      SELECT event_type, count(DISTINCT user_id) AS exact_users,
             TRUE AS merge_within_tol
      FROM events GROUP BY 1"""),
    tags = Set("relational"))

  /** TIME-based RANGE window frame — the sliding-hour metric every
    * ROWS frame gets subtly wrong on irregular streams (a ROWS-20
    * frame spans 2 minutes for a chatty user and 2 days for a quiet
    * one; RANGE pins the frame to the CLOCK). Ordered by exact epoch
    * milliseconds with `rangeBetween(-3600000, 0)`: every event sums
    * its user's trailing wall-clock hour. RANGE semantics make ties
    * deterministic by construction — all rows at the same order value
    * join the frame together, so no tie-break column is needed
    * (contrast every ROWS frame in this file). Same single keyed
    * shuffle as any partitioned window. */
  val rangeFrame: GQuery = GQuery(
    "op_range_frame",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_millis(Tables.wallClock(col("ts"))))
        .rangeBetween(-3600000L, 0L)
      Tables.events(s, dir)
        .withColumn("v_cents", cents(col("value")))
        .select(col("user_id"), col("event_id"), col("ts"),
          sum(col("v_cents")).over(w).as("hour_cents"),
          count(lit(1)).over(w).cast("long").as("hour_events"))
    },
    Some("""
      SELECT user_id, event_id, ts,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                     RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS hour_cents,
             CAST(count(*)
               OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                     RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS hour_events
      FROM events"""),
    tags = Set("relational"))

  /** [[Skew.saltedSum]] as a keyed operator: two-phase salted
    * aggregation over the events table, whose handful of event_type
    * values IS the aggregation-hot-key shape (5 keys over every
    * partition — at 100 TB one reduce task per key would absorb the
    * whole stream without the salt split). Values are summed as exact
    * integer cents, so the result is salt- and order-invariant and
    * the plain GROUP BY oracle matches bit-for-bit. */
  val saltedAgg: GQuery = GQuery(
    "op_salted_agg",
    (s, dir) =>
      Skew.saltedSum(
        Tables.events(s, dir)
          .withColumn("v_cents", floor(col("value") * lit(100) + lit(0.5)).cast("long"))
          .select(col("event_type"), col("v_cents")),
        "event_type", "v_cents"),
    Some("""
      SELECT event_type,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_v_cents,
             count(*) AS cnt
      FROM events GROUP BY 1"""),
    tags = Set("relational"))

  /** Distribution window functions: NTILE quartiles, percent_rank and
    * cume_dist per event_type ordered by value — the ranking trio the
    * §2.3 window keys didn't yet cover. Ties broken by event_id so the
    * bucket boundaries are deterministic; the ratios are exact integer
    * divisions rounded at 6 places, replayed identically by DuckDB's
    * standard-semantics implementations. One shuffle on event_type;
    * the partition count is bounded by the type cardinality — the skew
    * caveat is documented on [[saltedAgg]], not re-solved here. */
  val ntileOp: GQuery = GQuery.sql("op_ntile", "relational", """
      SELECT event_id, event_type,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             round(percent_rank() OVER w, 6) AS pct_rank,
             round(cume_dist() OVER w, 6) AS cume
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)""")

  /** [[Skew.saltedJoin]] as a keyed operator: the events fact joined
    * to its 5-row event_type dim with the big side salted 16 ways and
    * the dim replicated — the reduce-side JOIN-skew dual of
    * [[saltedAgg]] (5 join keys over the whole stream would otherwise
    * hash every row to 5 reducer lineages at 100 TB). Results are
    * salt-invariant by construction (SkewSpec pins equality with the
    * plain join); the oracle replays the equivalent unsalted join. */
  val saltedJoinOp: GQuery = GQuery(
    "op_salted_join",
    (s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_id"), col("event_type"))
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("tcode", length(col("event_type")).cast("long"))
      Skew.saltedJoin(ev, dim, "event_type")
        .select(col("event_id"), col("event_type"), col("tcode"))
    },
    Some("""
      WITH dim AS (SELECT DISTINCT event_type,
                          CAST(length(event_type) AS BIGINT) AS tcode
                   FROM events)
      SELECT e.event_id, e.event_type, d.tcode
      FROM events e JOIN dim d USING (event_type)"""),
    tags = Set("relational"))

  /** Correlated LATERAL derived table — the SQL front-door spelling of
    * top-k-per-group: for every nation, its top-2 customers by account
    * balance from a LATERAL subquery with ORDER BY + LIMIT. Catalyst
    * decorrelates the LIMIT via a partitioned rank filter, so the plan
    * is the same window + filter as [[topkPerGroup]] — one shuffle,
    * no per-row re-execution — while the query text stays the
    * SQL-standard lateral join a reference user writes. Spark and
    * DuckDB run the one text ([[Tables.sql]] binds the table names). */
  val lateralJoin: GQuery = GQuery.sql("op_lateral_join", "relational", """
      SELECT n.n_name, t.c_custkey, t.c_acctbal
      FROM nation n,
      LATERAL (SELECT c_custkey, c_acctbal FROM customer c
               WHERE c.c_nationkey = n.n_nationkey
               ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t""")

  /** Semi-structured extraction over the events `props` JSON column —
    * both production spellings: `from_json` with an explicit schema
    * (the vectorizable path — parse once in the scan projection, typed
    * struct out) and `get_json_object` path extraction (the ad-hoc
    * path), plus `to_json` re-serialization. At 100 TB the from_json
    * spelling is the one to ship: schema-on-read happens inside
    * whole-stage codegen with no shuffle, and the struct feeds
    * downstream pruning. The oracle replays extraction with DuckDB's
    * JSON functions; both serializers emit compact `{"key":value}`. */
  val jsonExtract: GQuery = GQuery(
    "op_json_extract",
    (s, dir) =>
      Tables.events(s, dir)
        .withColumn("j", from_json(col("props"),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))))
        .select(col("event_id"),
          col("j.k").as("k"),
          get_json_object(col("props"), "$.k").cast("long").as("k_path"),
          to_json(struct((col("j.k") * 2).as("k2"))).as("doubled")),
    Some("""
      SELECT event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_path,
             '{"k2":' || CAST(json_extract_string(props, '$.k') AS BIGINT) * 2 || '}' AS doubled
      FROM events"""),
    tags = Set("relational"))

  /** SCD2 (slowly-changing-dimension type 2) interval reconstruction
    * from the events change stream: per user, keep only rows where
    * `event_type` actually changed vs the previous event (change
    * capture via lag), then stamp each surviving version with
    * [valid_from, valid_to) from its own ts and the NEXT change's ts
    * (lead), `is_current` on the open interval — the standard
    * warehouse pattern for reconstructing a temporal dimension from a
    * log. Two window passes over one shuffle on user_id; ties broken
    * by event_id so both engines agree. */
  val scd2Intervals: GQuery = GQuery.sql("op_scd2_intervals", "relational", """
      WITH changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM (SELECT user_id, event_type, ts, event_id,
                     lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
              FROM events)
        WHERE prev_type IS NULL OR prev_type <> event_type)
      SELECT user_id, event_type, ts AS valid_from,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
             lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL AS is_current
      FROM changes""")

  /** Bits per Z-order dimension (8 → 256 buckets per dim, 16-bit key). */
  private[graft] val Z_BITS = 8

  /** Z-order (Morton) clustering key over events — the multi-dim data
    * LAYOUT operator: interleaving the bits of a user bucket and a day
    * bucket yields a single sort key under which rows close in EITHER
    * dimension sit close in the file order, so parquet min/max
    * row-group stats prune selective predicates on user AND on time
    * from one physical layout (a linear sort can only serve one).
    * This key computes the interleave itself (event_id, bx, by,
    * zkey) — pure integer DIV/mod arithmetic, codegen'd map-only, no
    * shuffle; the write-side pairing is
    * `repartitionByRange(col("zkey")).sortWithinPartitions("zkey")`
    * before a parquet write (same pattern as `Sinks.writeBucketed`),
    * and RelationalSpec asserts the locality property that makes the
    * layout worth paying for: consecutive zkey ranges bound both
    * dimensions. */
  val zorderCluster: GQuery = {
    def terms(bx: String, by: String, div: String): String =
      (0 until Z_BITS).map { i =>
        s"(($bx $div ${1L << i}) % 2) * ${1L << (2 * i + 1)} + (($by $div ${1L << i}) % 2) * ${1L << (2 * i)}"
      }.mkString(" + ")
    GQuery(
      "op_zorder_cluster",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("bx", pmod(col("user_id"), lit(1L << Z_BITS)))
          .withColumn("by",
            pmod(datediff(col("ts").cast("date"), lit("1970-01-01").cast("date")).cast("long"),
              lit(1L << Z_BITS)))
          .select(col("event_id"), col("bx"), col("by"),
            expr(terms("bx", "by", "DIV")).cast("long").as("zkey")),
      Some(s"""
        SELECT event_id, bx, by, CAST(${terms("bx", "by", "//")} AS BIGINT) AS zkey
        FROM (SELECT event_id,
                     user_id % ${1L << Z_BITS} AS bx,
                     CAST(ts::DATE - DATE '1970-01-01' AS BIGINT) % ${1L << Z_BITS} AS by
              FROM events)"""),
      tags = Set("relational"))
  }

  /** Time-series gap filling: build each user's complete day spine
    * (`sequence` between their first and last active day, exploded),
    * left-join the per-day aggregate back on, and forward-fill missing
    * days with `last(..., ignoreNulls)` over an ordered window — the
    * standard densify-then-ffill pattern behind daily metrics, feature
    * tables, and balance snapshots. The spine is generated FROM the
    * per-user min/max (one map-side-combined aggregate), never a
    * cross-join against a global calendar, so spine size is
    * Σ_user(span) and the fill window partitions by user_id — both
    * grow linearly with users, never with the calendar. Exact integer
    * cents keep the filled values engine-stable; the first spine day is
    * a real active day by construction, so the fill never sees a
    * leading null. */
  val gapFill: GQuery = GQuery(
    "op_gap_fill",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .withColumn("v_cents", cents(col("value")))
        .groupBy(col("user_id"), col("day"))
        .agg(sum(col("v_cents")).as("day_cents"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"), explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          col("day_cents").isNull.as("is_gap"),
          last(col("day_cents"), ignoreNulls = true).over(w).as("filled_cents"))
    },
    Some("""
      WITH daily AS (
        SELECT user_id, ts::DATE AS day,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS day_cents
        FROM events GROUP BY 1, 2),
      spine AS (
        SELECT user_id,
               CAST(unnest(generate_series(min(day)::TIMESTAMP, max(day)::TIMESTAMP,
                                           INTERVAL 1 DAY)) AS DATE) AS day
        FROM daily GROUP BY user_id),
      j AS (SELECT s.user_id, s.day, d.day_cents
            FROM spine s LEFT JOIN daily d USING (user_id, day))
      SELECT user_id, day, day_cents IS NULL AS is_gap,
             last_value(day_cents IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_cents
      FROM j"""),
    tags = Set("relational"))

  /** Ordered conversion funnel (view → click → purchase): stage k's
    * timestamp is the user's first qualifying event STRICTLY AFTER
    * stage k-1 — the sequential-constraint semantics product funnels
    * need (a click before the first view does not advance the
    * funnel). Each stage is one filtered min-aggregate on user_id
    * (map-side combined) plus an equi-join against the previous
    * stage's 1-row-per-user frame — three linear passes, no window
    * over the raw log and no per-user event sort. `stage` counts how
    * deep the user got (1 = viewed only … 3 = full conversion). */
  val funnel: GQuery = GQuery.sql("op_funnel", "relational", """
      WITH v AS (SELECT user_id, min(ts) AS t_view FROM events
                 WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN v USING (user_id)
            WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1),
      p AS (SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN c USING (user_id)
            WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1)
      SELECT user_id, t_view, t_click, t_purchase,
             CAST(1 + (t_click IS NOT NULL)::INT + (t_purchase IS NOT NULL)::INT AS BIGINT) AS stage
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""")

  /** Cohort retention: users are cohorted by first active day, then
    * every (cohort_day, day_offset) cell counts the cohort's users
    * active that many days later — the triangle matrix behind every
    * retention curve. `act` is the DISTINCT (user, day) activity set
    * (one dedup shuffle keyed by user — bounded by users × span, far
    * smaller than the raw log), cohorts are a map-side-combined min
    * per user, and the join attaches a 1-row frame on the unique
    * user_id, so nothing here fans out. The output is cohorts × spans
    * — tiny at any corpus size. */
  val retentionCohort: GQuery = GQuery.sql("op_retention_cohort", "relational", """
      WITH act AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events),
      cohort AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1)
      SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS day_offset,
             count(*) AS n_users
      FROM act JOIN cohort USING (user_id) GROUP BY 1, 2""")

  /** Equi-width histogram of order totals in pure integer bucket math:
    * bucket = min(cents DIV width, n_buckets-1) — one map-side-combined
    * aggregate over the scan, the profiling primitive behind every
    * numeric-distribution dashboard. The bucket id is computed in the
    * scan projection (codegen), so the shuffle carries at most
    * n_buckets × partitions rows. Top bucket is open-ended (clamped),
    * the standard histogram tail rule. */
  val histogram: GQuery = {
    val widthCents = 2500000L // $25k buckets
    val nBuckets = 20
    GQuery(
      "op_histogram",
      (s, dir) =>
        Tables.orders(s, dir)
          .withColumn("cents", cents(col("o_totalprice")))
          .withColumn("bucket",
            least(expr(s"cents DIV ${widthCents}L"), lit(nBuckets - 1L)).cast("long"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents")).as("sum_cents"))
          .withColumn("bucket_lo_cents", (col("bucket") * widthCents).cast("long")),
      Some(s"""
        SELECT bucket, count(*) AS n_orders,
               CAST(sum(cents) AS BIGINT) AS sum_cents,
               CAST(bucket * $widthCents AS BIGINT) AS bucket_lo_cents
        FROM (SELECT CAST(least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // $widthCents,
                                ${nBuckets - 1}) AS BIGINT) AS bucket,
                     CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
              FROM orders)
        GROUP BY bucket"""),
      tags = Set("relational"))
  }

  /** Arg-extremum aggregates (`min_by`/`max_by`): per event type, WHICH
    * event carried the smallest/largest value — one hash aggregate, no
    * window and no join-back (the two common slower spellings). The
    * ordering key is made unique by fusing cents with the unique
    * event_id into one 64-bit composite (cents ≤ ~10⁴ here, and the
    * 10⁷ stride keeps the fusion collision-free up to 10⁷ events per
    * value — beyond that widen the stride), so both engines' otherwise
    * tie-arbitrary arg-extremum picks the same row deterministically. */
  val minmaxBy: GQuery = GQuery(
    "op_minmax_by",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .withColumn("v_cents", cents(col("value")))
        .withColumn("key", col("v_cents") * lit(10000000L) + col("event_id"))
      e.groupBy(col("event_type"))
        .agg(max_by(col("event_id"), col("key")).as("max_event_id"),
          max(col("v_cents")).as("max_cents"),
          min_by(col("event_id"), col("key")).as("min_event_id"),
          min(col("v_cents")).as("min_cents"))
    },
    Some("""
      SELECT event_type,
             arg_max(event_id, key) AS max_event_id,
             CAST(max(v_cents) AS BIGINT) AS max_cents,
             arg_min(event_id, key) AS min_event_id,
             CAST(min(v_cents) AS BIGINT) AS min_cents
      FROM (SELECT event_type, event_id,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
                   CAST(floor(value * 100 + 0.5) AS BIGINT) * 10000000 + event_id AS key
            FROM events)
      GROUP BY event_type"""),
    tags = Set("relational"))

  /** Interval coalescing (merge overlapping intervals): each event
    * claims [ts, ts+30min); per user, runs of transitively-overlapping
    * intervals merge into one — the interval-union dual of
    * [[sessionize]] (which chains POINTS by gap; this one merges
    * SPANS, where an interval can bridge two others it doesn't touch
    * individually). The classic spelling: a new group starts exactly
    * when an interval's start clears the running max of all previous
    * ends (window max over unbounded-preceding-to-1-preceding), then a
    * running sum of those break flags labels the islands. Two window
    * passes over one shuffle on user_id; (s, event_id) ordering makes
    * tied starts deterministic in both engines. */
  val mergeIntervals: GQuery = GQuery.sql("op_merge_intervals", "relational", """
      WITH iv AS (SELECT user_id, ts AS s, ts + INTERVAL 30 MINUTE AS e, event_id
                  FROM events),
      m AS (SELECT user_id, s, e, event_id,
                   max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max_e
            FROM iv),
      b AS (SELECT user_id, s, e, event_id,
                   CASE WHEN prev_max_e IS NULL OR s > prev_max_e THEN 1 ELSE 0 END AS brk
            FROM m),
      g AS (SELECT user_id, s, e,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
            FROM b)
      SELECT user_id, CAST(grp AS BIGINT) AS grp, min(s) AS iv_start,
             max(e) AS iv_end, count(*) AS n_events
      FROM g GROUP BY 1, 2""")

  /** CDC materialization: collapse a change stream to current state —
    * per key (user), the LAST change wins (ts, then event_id), and a
    * terminal delete ('error' here) removes the key entirely. One
    * window rank per key + a filter; the warehouse pattern for
    * applying an upsert/delete log to a snapshot. Partitioned by the
    * key → single shuffle, no global sort; at 100 TB the same plan
    * runs per key-range and is exactly how MERGE INTO engines
    * sequence late changes. */
  val cdcApply: GQuery = GQuery.sql("op_cdc_apply", "relational", """
      WITH last AS (
        SELECT user_id, event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
               row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
      SELECT user_id, event_type AS last_type, v_cents
      FROM last WHERE rn = 1 AND event_type <> 'error'""")

  /** 2-D Pareto frontier (skyline): orders not strictly dominated in
    * (recency, price) — on the frontier iff no strictly-later order
    * has a strictly higher total. The sort-scan spelling: one range
    * window over day takes the max price among all STRICTLY later
    * days; survivors are where that max is null or not above them.
    * The scan runs in two levels: a keyed per-day max (full
    * parallelism over the fact table), then the suffix max over the
    * DISTINCT-day frame — ordered day-descending with a growing
    * rows-frame, which Spark evaluates in O(n) (the direct
    * `RANGE 1 FOLLOWING … UNBOUNDED FOLLOWING` spelling hits the
    * O(n²) unbounded-following frame: 79 s vs 0.5 s at sf0.1) — and a
    * broadcast join back. Only the tiny day frame is single-partition;
    * the 100 TB spelling is unchanged. Ties: same-day orders compare
    * only against LATER days, so co-maximal same-day orders all
    * survive (standard skyline semantics), deterministic in both
    * engines. */
  val skyline: GQuery = GQuery(
    "op_skyline",
    (s, dir) => {
      val pts = Tables.orders(s, dir).select(col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("day"),
        cents(col("o_totalprice")).as("cents"))
      val laterDesc = Window.orderBy(col("day").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val suffix = pts.groupBy(col("day")).agg(max(col("cents")).as("day_max"))
        .withColumn("later_max", max(col("day_max")).over(laterDesc))
        .select(col("day"), col("later_max"))
      pts.join(suffix, "day")
        .filter(col("later_max").isNull || col("cents") >= col("later_max"))
        .select(col("o_orderkey"), col("day"), col("cents"))
    },
    Some("""
      WITH pts AS (SELECT o_orderkey,
                          CAST(o_orderdate::DATE - DATE '1970-01-01' AS BIGINT) AS day,
                          CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                   FROM orders),
      sk AS (SELECT o_orderkey, day, cents,
                    max(cents) OVER (ORDER BY day
                                     RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS later_max
             FROM pts)
      SELECT o_orderkey, day, cents FROM sk
      WHERE later_max IS NULL OR cents >= later_max"""),
    tags = Set("relational"))

  /** Cumulative reach (cumulative distinct users by day): each user
    * counts once, on their FIRST active day — so the curve is a
    * running sum over per-day new-user counts, never a
    * count-distinct-over-growing-window (which would rescan the
    * prefix per day). Two keyed aggregates + an O(n) running frame
    * over the distinct-day frame (the only single-partition stage,
    * bounded by the calendar). */
  val cumulativeReach: GQuery = GQuery.sql("op_cumulative_reach", "relational", """
      WITH first AS (SELECT user_id, min(ts::DATE) AS d FROM events GROUP BY 1),
      daily AS (SELECT d, count(*) AS new_users FROM first GROUP BY 1)
      SELECT d AS day, new_users,
             CAST(sum(new_users) OVER (ORDER BY d
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_users
      FROM daily""")

  /** Trailing-window anomaly detection in pure integer arithmetic: an
    * event is flagged when its value exceeds 4× the trailing-20 mean,
    * tested as v·n > 4·Σ (cross-multiplied so no division, no floats —
    * bit-identical across engines). The baseline needs ≥8 trailing
    * events. One window pass per user (sum + count share the frame),
    * emitting only the anomalies — the output is the incident list,
    * not the annotated stream. */
  val anomalyTrailing: GQuery = GQuery.sql("op_anomaly_trailing", "relational", """
      WITH t AS (SELECT user_id, event_id, ts,
                        CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
                 FROM events),
      w AS (SELECT user_id, event_id, ts, v_cents,
                   sum(v_cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS trail_sum,
                   count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING) AS trail_n
            FROM t)
      SELECT user_id, event_id, ts, v_cents,
             CAST(trail_sum AS BIGINT) AS trail_sum_cents,
             CAST(trail_n AS BIGINT) AS trail_n
      FROM w WHERE trail_n >= 8 AND v_cents * trail_n > 4 * trail_sum""")

  /** Column profiler (the `DESCRIBE`/Deequ-profile scan an ingest
    * runs before anything else): per column — null count, distinct
    * count, min/max — in ONE pass over the table (every statistic is
    * a partial-aggregable expression). The plan is a UNION of four
    * per-column aggregates rather than one 4-distinct aggregate: a
    * multi-distinct agg plans an Expand (row-count × #distinct-aggs
    * before the shuffle — 4× the table, measured 3.8 s vs 0.6 s at
    * sf0.1), while each union branch is a column-PRUNED scan with a
    * single two-phase distinct — and pruned single-column scans are
    * exactly how a 100 TB profiler wants to read parquet anyway.
    * Min/max are emitted through CANONICAL string casts (integral
    * doubles → bigint, dates → 'YYYY-MM-DD') because raw
    * float/timestamp formatting is the one thing two engines never
    * agree on. Output: one row per profiled column. */
  val profileColumns: GQuery = GQuery(
    "op_profile_columns",
    (s, dir) => {
      val l = Tables.lineitem(s, dir)
      def prof(label: String, c: String, minMax: Column => Column) =
        l.agg(
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          minMax(min(col(c))).cast("string").as("min_val"),
          minMax(max(col(c))).cast("string").as("max_val"))
          .select(lit(label).as("column_name"), col("n_nulls"),
            col("n_distinct"), col("min_val"), col("max_val"))
      prof("l_quantity", "l_quantity", _.cast("long"))
        .unionByName(prof("l_returnflag", "l_returnflag", identity))
        .unionByName(prof("l_shipdate", "l_shipdate", _.cast("date")))
        .unionByName(prof("l_discount_permille", "l_discount",
          c => floor(c * 1000 + lit(0.5)).cast("long")))
    },
    Some("""
      WITH a AS (
        SELECT
          sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS qty_nulls,
          count(DISTINCT l_quantity) AS qty_distinct,
          CAST(min(CAST(l_quantity AS BIGINT)) AS VARCHAR) AS qty_min,
          CAST(max(CAST(l_quantity AS BIGINT)) AS VARCHAR) AS qty_max,
          sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS rf_nulls,
          count(DISTINCT l_returnflag) AS rf_distinct,
          min(l_returnflag) AS rf_min, max(l_returnflag) AS rf_max,
          sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS sd_nulls,
          count(DISTINCT l_shipdate) AS sd_distinct,
          CAST(min(l_shipdate::DATE) AS VARCHAR) AS sd_min,
          CAST(max(l_shipdate::DATE) AS VARCHAR) AS sd_max,
          sum(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS dc_nulls,
          count(DISTINCT l_discount) AS dc_distinct,
          CAST(min(CAST(floor(l_discount * 1000 + 0.5) AS BIGINT)) AS VARCHAR) AS dc_min,
          CAST(max(CAST(floor(l_discount * 1000 + 0.5) AS BIGINT)) AS VARCHAR) AS dc_max
        FROM lineitem)
      SELECT 'l_quantity' AS column_name, CAST(qty_nulls AS BIGINT) AS n_nulls,
             CAST(qty_distinct AS BIGINT) AS n_distinct, qty_min AS min_val, qty_max AS max_val FROM a
      UNION ALL SELECT 'l_returnflag', CAST(rf_nulls AS BIGINT), CAST(rf_distinct AS BIGINT), rf_min, rf_max FROM a
      UNION ALL SELECT 'l_shipdate', CAST(sd_nulls AS BIGINT), CAST(sd_distinct AS BIGINT), sd_min, sd_max FROM a
      UNION ALL SELECT 'l_discount_permille', CAST(dc_nulls AS BIGINT), CAST(dc_distinct AS BIGINT), dc_min, dc_max FROM a"""),
    tags = Set("relational"))

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands idiom on the CALENDAR axis (the id-axis variant
    * is [[scd2Intervals]]'s interval build): distinct active days,
    * island key = day_number − row_number (constant within a
    * consecutive run), one count per island, arg-max per user with a
    * deterministic earliest-start tie-break. Every stage is keyed on
    * user_id; the distinct bounds the window input at days, not
    * events. */
  val streaks: GQuery = GQuery.sql("op_streaks", "relational", """
      WITH days AS (
        SELECT DISTINCT user_id, ts::DATE AS d FROM events),
      isl AS (
        SELECT user_id,
               CAST(d - DATE '1970-01-01' AS BIGINT)
                 - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp,
               d
        FROM days),
      runs AS (
        SELECT user_id, grp, count(*) AS len, min(d) AS start
        FROM isl GROUP BY 1, 2),
      best AS (
        SELECT user_id, len, start,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY len DESC, start) AS rn
        FROM runs)
      SELECT user_id, len AS streak_days, start AS streak_start
      FROM best WHERE rn = 1""")

  /** Exact-cents proration by the largest-remainder method: allocate
    * each order's total across its lineitems proportionally to line
    * value so that the parts sum EXACTLY to the whole — the invoice/
    * ledger allocation every billing pipeline needs and floating
    * division can never provide. base_i = (T·w_i) DIV W (int64-safe:
    * T, w ≤ ~5e7 cents so the product is ≤ ~2.5e15), then the
    * leftover T − Σbase (< n_lines) goes one cent each to the lines
    * with the largest division remainder (ties: line number — a total
    * order, so both engines pick the same lines). Two windows over
    * the order partition (sum, rank) — one shuffle keyed on
    * l_orderkey. BehaviorSpec pins Σalloc == T per order. */
  val prorate: GQuery = GQuery(
    "op_prorate",
    (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).select(col("o_orderkey").as("l_orderkey"),
          cents(col("o_totalprice")).as("t")), "l_orderkey")
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("line"),
          cents(col("l_extendedprice")).as("w"), col("t"))
      val byOrder = Window.partitionBy(col("l_orderkey"))
      val rem = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("frac").desc, col("line"))
      l.withColumn("bigw", sum(col("w")).over(byOrder))
        .withColumn("base", expr("(t * w) DIV bigw"))
        .withColumn("frac", expr("(t * w) % bigw"))
        .withColumn("leftover", col("t") - sum(col("base")).over(byOrder))
        .withColumn("rk", row_number().over(rem).cast("long"))
        .withColumn("alloc_cents",
          col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
        .select(col("l_orderkey"), col("line"), col("alloc_cents"))
    },
    Some("""
      WITH l AS (
        SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS w,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS t
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey),
      d AS (
        SELECT l_orderkey, line, w, t,
               sum(w) OVER (PARTITION BY l_orderkey) AS bigw
        FROM l),
      b AS (
        SELECT l_orderkey, line, t,
               (t * w) // bigw AS base, (t * w) % bigw AS frac
        FROM d),
      r AS (
        SELECT l_orderkey, line, base,
               t - sum(base) OVER (PARTITION BY l_orderkey) AS leftover,
               CAST(row_number() OVER (PARTITION BY l_orderkey
                                       ORDER BY frac DESC, line) AS BIGINT) AS rk
        FROM b)
      SELECT l_orderkey, line,
             CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS alloc_cents
      FROM r"""),
    tags = Set("relational"))

  /** Incremental aggregate maintenance — the materialized-view merge
    * algebra: a STORED aggregate (history before a cutoff) merges
    * with the DELTA batch's aggregate by summing partials, and the
    * oracle recomputes the aggregate over ALL rows directly — the
    * hash match IS the proof that count/sum partials compose (the
    * algebra AQE and partial aggregation rely on, here surfaced as a
    * user-level incremental-refresh operator; avg derives from
    * sum/count at read time, never stored). The cutoff is a scalar
    * subquery (min(ts) + 15 days) so the split replays identically
    * in both engines at any corpus. */
  val incrementalAgg: GQuery = GQuery(
    "op_incremental_agg",
    (s, dir) => {
      val e = Tables.events(s, dir).withColumn("v_cents", cents(col("value")))
      val cutoff = e.agg(expr("min(ts) + INTERVAL 15 DAY").as("c"))
      val withCut = e.crossJoin(broadcast(cutoff))
      def partial(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("event_type"))
          .agg(count(lit(1)).as("cnt"), sum(col("v_cents")).as("sum_cents"))
      val stored = partial(withCut.filter(col("ts") < col("c")))
      val delta = partial(withCut.filter(col("ts") >= col("c")))
      stored.unionByName(delta)
        .groupBy(col("event_type"))
        .agg(sum(col("cnt")).cast("long").as("cnt"),
          sum(col("sum_cents")).as("sum_cents"))
    },
    Some("""
      SELECT event_type, count(*) AS cnt,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM events GROUP BY 1"""),
    tags = Set("relational"))

  /** EXACT heavy hitters with a bounded-shuffle candidate pass — the
    * two-pass sketch-then-verify pattern for top-k frequency over a
    * key space too large to hash-aggregate in full. Pass 1 counts
    * 2^14 HASH BUCKETS exactly (shuffle cardinality capped at 16384
    * keys regardless of how many distinct words exist — at 100 TB
    * this is the difference between shuffling every distinct token
    * and shuffling a fixed grid); any word with freq ≥ T forces its
    * bucket total ≥ T, so buckets below T are provably free of heavy
    * hitters and their rows never reach pass 2. Pass 2 broadcast-semi
    * filters tokens to surviving buckets and counts exactly, so the
    * output is EXACT (no CMS over-estimate ever surfaces): the bucket
    * screen admits false positives, the final `freq >= T` filter
    * removes them. T = max(2, total DIV 2000) — a relative support
    * threshold, scale-free across corpora. Top-50 under the total
    * order (freq desc, word asc). Oracle: the brute-force one-pass
    * group-by — bit-identical output proves the screen lossless. */
  val heavyHitters: GQuery = GQuery(
    "op_heavy_hitters",
    (s, dir) => {
      val B = 1 << 14
      val occ = Tables.documents(s, dir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .withColumn("b", pmod(xxhash64(col("w")), lit(B.toLong)))
      val grid = occ.groupBy(col("b")).agg(count(lit(1)).as("bn"))
      val tot = grid.agg(sum(col("bn")).as("total"))
      val cand = grid.crossJoin(broadcast(tot))
        .filter(col("bn") >= greatest(lit(2L), expr("total DIV 2000")))
        .select(col("b"))
      occ.join(broadcast(cand), "b")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .crossJoin(broadcast(tot))
        .filter(col("freq") >= greatest(lit(2L), expr("total DIV 2000")))
        .orderBy(col("freq").desc, col("w"))
        .limit(50)
        .select(col("w"), col("freq"))
    },
    Some("""
      WITH occ AS (SELECT t AS w
                   FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
                   WHERE length(t) > 0),
      tot AS (SELECT count(*) AS total FROM occ),
      f AS (SELECT w, count(*) AS freq FROM occ GROUP BY 1)
      SELECT w, freq FROM f, tot
      WHERE freq >= greatest(2, total // 2000)
      ORDER BY freq DESC, w LIMIT 50"""),
    tags = Set("relational"))

  /** ED-JOIN — EXACT edit-distance similarity self-join (entity
    * resolution's core primitive) with prefix-filtered q-gram blocking,
    * from the published ED-Join family (Xiao, Wang & Lin, VLDB'08 —
    * public literature). Candidate generation never goes all-pairs:
    * each 24-char key is decomposed into positional q-grams (q=2), a
    * global rarest-first total order over gram values is computed from
    * corpus document frequency, and only each string's first q·k+1
    * gram INSTANCES under that order (its "prefix") enter the join.
    * Theory: if ed(s,t) ≤ k the gram multisets share ≥ |G|−k·q
    * instances, so the (q·k+1)-prefixes under one total order must
    * intersect — the block is provably LOSSLESS, unlike the length/
    * first-char heuristics. Two further lossless filters cut
    * candidates: matched grams must sit within k positions (one edit
    * shifts positions by ≤ 1), and a length filter |len(s)−len(t)| ≤ k.
    * Survivors are verified with the real `levenshtein` in its
    * THRESHOLD form (banded DP, exact distance when ≤ k else -1 — same
    * kept rows, same dist values, ~(2k+1)/n of the DP work), so output
    * = brute force exactly (the oracle IS the brute-force cross join —
    * bit-equality proves losslessness; the spec re-proves it in-plan).
    * 100 TB: rarest-first prefixes are inherently skew-resistant (hot
    * grams rank last and rarely enter prefixes); the candidate join
    * shuffles on gram value — bounded fan-out per rare gram; the
    * verify is a hash join on doc_id. k=2 over the leading 24 chars.
    *
    * Two skew hatches closed (r16 verdict #5), both lossless:
    * EQUAL-KEY GROUPING — identical keys collapse to one
    * representative before the gram pipeline, so a flood of identical
    * keys (dedup-worthy corpora) costs its own output, not a
    * quadratic candidate join; HOT-GRAM SALTING — prefix grams above
    * [[FUZZY_DF_CAP]] occurrences spread over [[FUZZY_SALT]] reducers
    * (smaller side keyed by doc-hash, larger side replicated), so a
    * pathological near-identical-but-distinct corpus distributes its
    * inherent candidate mass instead of funneling df² pairs through
    * one reducer. Neither drops a candidate — the adversarial spec
    * pins bit-equality with brute force on a planted flood corpus
    * plus a candidate count bounded by distinct-keys², not docs². */
  /** Gram occurrence-count bound past which a gram key is "hot" in
    * [[fuzzyRepCandidates]]' prefix self-join and gets the salted
    * treatment (r16 verdict #5 — the df>64 bound the dedup_ngram
    * blocking family established). */
  private[graft] val FUZZY_DF_CAP = 64
  /** Salt fan-out for hot grams: one hot gram key spreads over this
    * many reducers instead of one reducer doing df² candidate work. */
  private[graft] val FUZZY_SALT = 8

  /** Lossless prefix-filtered candidate pairs over one-representative-
    * per-distinct-key frames — see [[fuzzyJoin]] for the theory.
    * Exposed for the adversarial spec to pin candidate-count bounds.
    * Hot grams (occurrence count > [[FUZZY_DF_CAP]]) are SALTED, not
    * dropped: the smaller-id side keys each occurrence by
    * hash(doc_id) mod [[FUZZY_SALT]], the larger-id side replicates
    * across all salts, so every pair still meets exactly once and no
    * single reducer owns a hot gram's full df² fan-out. Losslessness
    * is untouched — salting redistributes candidates, never drops. */
  private[graft] def fuzzyRepCandidates(docs: DataFrame, q: Int, k: Int): DataFrame =
    fuzzyRepCandidatesDup(docs, q, k).distinct()

  /** [[fuzzyRepCandidates]] WITHOUT the final distinct — a pair appears
    * once per shared prefix-gram instance PAIR: each of a's ≤ q·k+1
    * prefix instances can meet each of b's, so the per-pair
    * multiplicity bound is the SQUARE (q·k+1)² of the prefix width
    * (the bound AnalyticsSpec's flood pin asserts; r17 advice).
    * The verify path consumes this frame and distincts AFTER
    * the threshold-levenshtein filter, where the row set is output-
    * bounded, instead of hash-aggregating the multi-million-row
    * candidate frame (r17 A/B, dev/BENCH_NOTES.md). */
  private[graft] def fuzzyRepCandidatesDup(docs: DataFrame, q: Int, k: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id"), length(col("t")).as("len"),
        posexplode(expr(s"transform(sequence(1, length(t)-$q+1), i -> substring(t, i, $q))")))
      .withColumnRenamed("col", "g")
    // rarest-first global order on gram VALUES (df asc, gram asc);
    // gdf is tiny (distinct 2-grams of the corpus alphabet) → broadcast
    val gdf = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
    val prefix = grams.join(broadcast(gdf), "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("g"), col("pos"))))
      .filter(col("rk") <= k * q + 1)
      .select(col("g"), col("pos"), col("doc_id"), col("len"), col("df"))
    val hot = col("df") > FUZZY_DF_CAP
    val small = prefix.withColumn("salt",
      when(hot, pmod(hash(col("doc_id")), lit(FUZZY_SALT))).otherwise(lit(0)))
    val large = prefix.withColumn("salt", explode(
      when(hot, sequence(lit(0), lit(FUZZY_SALT - 1))).otherwise(array(lit(0)))))
    small.as("a").join(large.as("b"),
        col("a.g") === col("b.g") && col("a.salt") === col("b.salt") &&
          col("a.doc_id") < col("b.doc_id") &&
          abs(col("a.pos") - col("b.pos")) <= k &&
          abs(col("a.len") - col("b.len")) <= k)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
  }

  /** The full exact edit-distance self-join over a (doc_id, t) frame:
    * equal-key grouping → prefix-filtered candidates over the
    * representatives → levenshtein verify → expansion back to doc
    * pairs. Factored out of the registry key so the adversarial spec
    * can run it over a planted corpus. */
  private[graft] def fuzzyJoinOn(docsAll: DataFrame, q: Int, k: Int): DataFrame = {
    // EQUAL-KEY GROUPING (r16 verdict #5): identical keys never enter
    // the gram pipeline — one representative (min doc_id) per distinct
    // key. A planted flood of identical keys costs its own output
    // size (the pairs genuinely exist at distance 0), never a
    // quadratic candidate join through the gram index.
    val groups = docsAll.groupBy(col("t")).agg(min(col("doc_id")).as("rep"))
    val docs = groups.select(col("rep").as("doc_id"), col("t"))
    // LATE DISTINCT (r17 A/B): candidates keep their per-shared-gram
    // duplicates (multiplicity ≤ (q·k+1)², the square of the prefix
    // width — every a-prefix instance can meet every b-prefix) through the
    // cheap banded verify, and the distinct runs on the verified,
    // output-bounded pair set — erasing the two-phase hash aggregate
    // over the multi-million-row candidate frame that the breakdown
    // attributed the key's residue to (guide §2.3: aggregate the small
    // thing, not the big thing).
    val repPairs = fuzzyRepCandidatesDup(docs, q, k)
      .join(docs.select(col("doc_id").as("d1"), col("t").as("t1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("t").as("t2")), "d2")
      // threshold form: banded DP over a 2k+1 diagonal strip with early
      // abandon, O((2k+1)·n) per pair vs the full O(n²) table; returns
      // the exact distance when ≤ k and -1 otherwise, so `>= 0` keeps
      // precisely the `dist <= k` rows with identical dist values
      // (guide §1.2 step 2 — per-task work; the verify dominates this
      // operator's wall time and both filters are codegen built-ins)
      .withColumn("dist", levenshtein(col("t1"), col("t2"), k))
      .filter(col("dist") >= 0)
      .select(col("d1").as("r1"), col("d2").as("r2"), col("dist"))
      .distinct()
    // EXPANSION: levenshtein depends only on the texts, so every
    // member of r1's equal-key group pairs with every member of r2's
    // at the verified distance (equi-joins, output-bounded) …
    val members = docsAll.join(groups, "t").select(col("doc_id"), col("rep"))
    val cross = repPairs
      .join(members.as("ma"), col("ma.rep") === col("r1"))
      .join(members.as("mb"), col("mb.rep") === col("r2"))
      .select(least(col("ma.doc_id"), col("mb.doc_id")).as("d1"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("d2"), col("dist"))
    // … and identical texts pair at distance 0 by definition
    val intra = members.as("x").join(members.as("y"),
        col("x.rep") === col("y.rep") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        lit(0).as("dist"))
    cross.unionByName(intra).orderBy(col("d1"), col("d2"))
  }

  val fuzzyJoin: GQuery = GQuery(
    "op_fuzzy_join",
    (s, dir) => {
      val q = 2
      // Contract: join keys must be ≥ q chars (shorter keys have no
      // grams; a general caller routes them through a tiny short-key
      // bucket). This corpus floors at 44 chars, so the guard is free.
      val docsAll = Tables.documents(s, dir)
        .select(col("doc_id"), substring(col("text"), 1, 24).as("t"))
        .filter(length(col("t")) >= q)
      fuzzyJoinOn(docsAll, q, k = 2)
    },
    Some("""
      WITH t AS (SELECT doc_id, substr(text, 1, 24) AS t FROM documents)
      SELECT a.doc_id AS d1, b.doc_id AS d2, levenshtein(a.t, b.t) AS dist
      FROM t a JOIN t b ON a.doc_id < b.doc_id
      WHERE levenshtein(a.t, b.t) <= 2
      ORDER BY d1, d2"""),
    tags = Set("relational"))

  /** Grouped top-k via the native bounded-heap aggregate
    * [[graft.functions.TopKLong]] (`top_k_long`) — the plan
    * [[topkPerGroup]]'s window spelling can't reach: the window must
    * exchange and SORT every row of every group before row_number can
    * cut, while the typed aggregate's map-side combine holds ≤ k
    * pairs per (group, partition) and ships only those — top-k at
    * 100 TB costs a scan plus a k-row-per-group merge, not a
    * terasort. Output is exploded back to rows with a dense rnk so
    * the frame is oracle-comparable against the window spelling —
    * agreement IS the aggregate's correctness proof (both total
    * orders: score DESC, key ASC). */
  val topkAgg: GQuery = GQuery(
    "op_topk_agg",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      Tables.orders(s, dir)
        .select(col("o_orderpriority"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"),
          col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(expr("top_k_long(cents, o_orderkey, 5)").as("tk"))
        .select(col("o_orderpriority"), posexplode(col("tk")).as(Seq("i", "e")))
        .select(col("o_orderpriority"), (col("i") + 1).cast("long").as("rnk"),
          col("e.score").as("cents"), col("e.payload").as("o_orderkey"))
    },
    Some("""
      SELECT o_orderpriority, rnk, cents, o_orderkey FROM (
        SELECT o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               o_orderkey,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                 ORDER BY floor(o_totalprice * 100 + 0.5) DESC, o_orderkey) AS BIGINT) AS rnk
        FROM orders) WHERE rnk <= 5"""),
    tags = Set("relational"))

  /** The WINDOW spelling of grouped top-k, auto-routed to the
    * bounded-heap aggregate by the Catalyst optimizer rule
    * [[graft.plans.TopKRewrite]], which every session built with
    * `GraftExtensions` runs. The USER writes
    * `row_number().over(...) <= k`; the OPTIMIZER proves the pattern safe (single row_number, non-nullable long
    * (DESC, ASC) order, no rider columns, literal k within the heap
    * contract) and substitutes [[topkAgg]]'s plan — top-k without a
    * per-group sort, from unchanged user code. The oracle is the
    * window semantics itself, so a misfiring rewrite fails
    * correctness, not just a spec; TopKRewriteSpec additionally pins
    * the aggregate in the optimized plan, result-equality with the
    * rule off, and a no-misfire case with a rider column. */
  val topkRewrite: GQuery = GQuery(
    "op_topk_rewrite",
    (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("cents").desc, col("okey"))
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"),
          coalesce(floor(col("l_extendedprice") * 100 + 0.5).cast("long"), lit(0L))
            .as("cents"),
          coalesce(col("l_orderkey"), lit(0L)).as("okey"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 7)
    },
    Some("""
      SELECT l_returnflag, cents, okey, rnk FROM (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               l_orderkey AS okey,
               CAST(row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY floor(l_extendedprice * 100 + 0.5) DESC, l_orderkey) AS INT) AS rnk
        FROM lineitem) WHERE rnk <= 7"""),
    tags = Set("relational"))

  def all: Seq[GQuery] = Seq(
    windowRank, windowRunning, topkPerGroup, rollup, cube, groupingSets,
    pivot, unpivot, semiJoin, antiJoin, fullOuterJoin, unionExceptIntersect,
    distinctOp, explodedAgg, percentiles, approxQuantile, conditionalAgg,
    rangeJoin, asofJoin, sessionize, approxDistinct, saltedAgg, zorderCluster,
    ntileOp, saltedJoinOp, lateralJoin, jsonExtract, scd2Intervals,
    gapFill, funnel, retentionCohort, histogram, minmaxBy,
    mergeIntervals, cdcApply, skyline, cumulativeReach, anomalyTrailing,
    profileColumns, streaks, sketchMerge, prorate, incrementalAgg, rangeFrame,
    heavyHitters, fuzzyJoin, topkAgg, topkRewrite)
}
