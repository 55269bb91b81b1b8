package graft.operators

import graft.GQuery
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.3b behavioral / quality analytics: event-sequence modeling
  * (Markov transitions), audience overlap, RFM segmentation, and a
  * Deequ-style data-quality constraint audit. The reference engine
  * (DataFusion) expresses all of these as plain SQL over its
  * registered tables; here each is the scale-shaped Spark plan with a
  * literal-SQL DuckDB oracle, or, where a builder would only re-spell
  * that SQL (`op_rfm`), the oracle text itself
  * ([[GQuery.sql]]).
  *
  * Numeric rules are [[graft.tpch.TpchQueries]]' (as in [[Relational]]):
  * money in exact integer cents, rates in integer permille
  * (`x * 1000 DIV total`) — never a float division that could drift
  * between engines.
  */
object Behavior {

  private def cents(c: Column): Column = floor(c * lit(100) + lit(0.5)).cast("long")

  /** First-order Markov transition matrix over each user's event
    * stream: `lead(event_type)` per user (one shuffle keyed on
    * user_id — the same partitioned-window shape as
    * [[Relational.windowRunning]]), then a tiny |types|² count
    * aggregate. The row-conditional probability is integer permille
    * over the from-state total (window over the matrix frame, ~25
    * rows). 100 TB posture: the only fact-sized stage is the keyed
    * window; the matrix itself is O(|types|²) regardless of corpus
    * size. */
  val markovTransitions: GQuery = GQuery(
    "op_markov_transitions",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val steps = Tables.events(s, dir)
        .select(col("user_id"), col("event_type").as("from_type"),
          lead(col("event_type"), 1).over(w).as("to_type"))
        .filter(col("to_type").isNotNull)
      val matrix = steps.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val fromTotal = Window.partitionBy(col("from_type"))
      matrix
        .withColumn("tot", sum(col("n")).over(fromTotal))
        .withColumn("permille", expr("(n * 1000) DIV tot"))
        .select(col("from_type"), col("to_type"), col("n"), col("permille"))
    },
    Some("""
      WITH steps AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events),
      matrix AS (
        SELECT from_type, to_type, count(*) AS n
        FROM steps WHERE to_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
             (n * 1000) // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS permille
      FROM matrix"""),
    tags = Set("behavior"))

  /** Audience overlap: for every unordered pair of event types, how
    * many users did BOTH (plus each side's audience size and the
    * integer-permille Jaccard). The plan distincts (user, type) FIRST
    * — the self-join then fans out at most C(|types|, 2) rows per
    * user, never per event. Per-type audience sizes are a tiny frame
    * broadcast onto the pair matrix. */
  val segmentOverlap: GQuery = GQuery(
    "op_segment_overlap",
    (s, dir) => {
      val ut = Tables.events(s, dir).select(col("user_id"), col("event_type")).distinct()
      val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("sz"))
      val pairs = ut.as("x")
        .join(ut.as("y"), "user_id")
        .filter(col("x.event_type") < col("y.event_type"))
        .groupBy(col("x.event_type").as("seg_a"), col("y.event_type").as("seg_b"))
        .agg(count(lit(1)).as("n_both"))
      pairs
        .join(broadcast(sizes.select(col("event_type").as("seg_a"), col("sz").as("n_a"))), "seg_a")
        .join(broadcast(sizes.select(col("event_type").as("seg_b"), col("sz").as("n_b"))), "seg_b")
        .withColumn("jaccard_permille",
          expr("(n_both * 1000) DIV (n_a + n_b - n_both)"))
        .select(col("seg_a"), col("seg_b"), col("n_a"), col("n_b"),
          col("n_both"), col("jaccard_permille"))
    },
    Some("""
      WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      sizes AS (SELECT event_type, count(*) AS sz FROM ut GROUP BY 1),
      pairs AS (
        SELECT x.event_type AS seg_a, y.event_type AS seg_b, count(*) AS n_both
        FROM ut x JOIN ut y ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2)
      SELECT seg_a, seg_b, sa.sz AS n_a, sb.sz AS n_b, n_both,
             (n_both * 1000) // (sa.sz + sb.sz - n_both) AS jaccard_permille
      FROM pairs
      JOIN sizes sa ON sa.event_type = seg_a
      JOIN sizes sb ON sb.event_type = seg_b"""),
    tags = Set("behavior"))

  /** RFM segmentation: per-customer recency (last order day),
    * frequency (order count), monetary (cents sum), each cut into
    * quintiles by `ntile(5)` with a full deterministic order
    * (metric, then custkey — ntile is position-based, so the
    * tie-break is load-bearing for engine parity). Output is the
    * 125-cell segment summary, not the per-customer labels.
    *
    * Scale note: the three global ntile windows sort the CUSTOMER
    * aggregate (|orders|/10 rows), not the fact table — at 100 TB
    * the production spelling swaps exact ntile for fixed thresholds
    * from `approx_percentile` (one pass, no global sort), exactly as
    * [[Relational.approxQuantile]] demonstrates; the exact spelling
    * here is what the oracle can replay bit-for-bit. */
  val rfmSegments: GQuery = GQuery.sql("op_rfm", "behavior", """
      WITH cust AS (
        SELECT o_custkey, max(o_orderdate::DATE) AS last_day, count(*) AS freq,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS monetary_cents
        FROM orders GROUP BY 1),
      scored AS (
        SELECT CAST(ntile(5) OVER (ORDER BY last_day DESC, o_custkey) AS BIGINT) AS r_q,
               CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_q,
               CAST(ntile(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS BIGINT) AS m_q,
               monetary_cents
        FROM cust)
      SELECT r_q, f_q, m_q, count(*) AS n_customers,
             CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
      FROM scored GROUP BY 1, 2, 3""")

  /** Data-quality constraint audit (Deequ-shaped): N declarative
    * rules over lineitem evaluated in ONE conditional-aggregate scan
    * (each rule a `sum(CASE WHEN violated)` — map-side combined, no
    * per-rule pass), plus one FK-orphan rule as a left-anti join
    * count, emitted as a per-rule (rule, violations, checked) report.
    * This is the audit an ingest pipeline runs on every 100 TB batch
    * before admitting it; thresholds are deliberately tighter than
    * the generator's domains so some rules FIRE (a report of
    * all-zeros would prove nothing about the counting).
    *
    * Builder, not text: the oracle text scans lineitem three times
    * (the rule scan and two scalar subqueries) and lost to this
    * builder by `AbMain`'s 9-of-10 + IQR rule at sf0.1, 10 interleaved
    * pairs — 0.596 s [0.549, 0.603] against 0.810 s [0.738, 0.934],
    * 10 / 0 (dev/BENCH_NOTES.md). */
  val dqAudit: GQuery = GQuery(
    "op_dq_audit",
    (s, dir) => {
      val l = Tables.lineitem(s, dir)
      def viol(c: Column): Column = sum(when(c, 1L).otherwise(0L))
      val scanRules = l.agg(
        viol(col("l_quantity").isNull || col("l_quantity") < 1 || col("l_quantity") > 50)
          .as("quantity_domain"),
        viol(col("l_discount") < 0 || col("l_discount") > 0.06).as("discount_cap"),
        viol(col("l_extendedprice") <= 0).as("price_positive"),
        viol(!col("l_returnflag").isin("A", "N", "R")).as("returnflag_domain"),
        viol(col("l_shipdate").isNull ||
          col("l_shipdate") < lit("1992-01-01").cast("timestamp_ntz") ||
          col("l_shipdate") >= lit("1999-01-01").cast("timestamp_ntz")).as("shipdate_range"),
        count(lit(1)).as("checked"))
      val unpivoted = scanRules.selectExpr(
        """stack(5,
             'quantity_domain', quantity_domain,
             'discount_cap', discount_cap,
             'price_positive', price_positive,
             'returnflag_domain', returnflag_domain,
             'shipdate_range', shipdate_range) AS (rule, violations)""",
        "checked")
      val orphans = l.join(
          Tables.orders(s, dir).select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("violations"))
        .select(lit("orderkey_fk").as("rule"), col("violations"))
        .crossJoin(broadcast(l.agg(count(lit(1)).as("checked"))))
        .select(col("rule"), col("violations"), col("checked"))
      unpivoted.select(col("rule"), col("violations"), col("checked"))
        .unionByName(orphans)
    },
    Some("""
      WITH scan AS (
        SELECT
          sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50
              THEN 1 ELSE 0 END) AS quantity_domain,
          sum(CASE WHEN l_discount < 0 OR l_discount > 0.06 THEN 1 ELSE 0 END) AS discount_cap,
          sum(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS price_positive,
          sum(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS returnflag_domain,
          sum(CASE WHEN l_shipdate IS NULL OR l_shipdate < DATE '1992-01-01'
              OR l_shipdate >= DATE '1999-01-01' THEN 1 ELSE 0 END) AS shipdate_range,
          count(*) AS checked
        FROM lineitem),
      rules AS (
        SELECT 'quantity_domain' AS rule, CAST(quantity_domain AS BIGINT) AS violations, checked FROM scan
        UNION ALL SELECT 'discount_cap', CAST(discount_cap AS BIGINT), checked FROM scan
        UNION ALL SELECT 'price_positive', CAST(price_positive AS BIGINT), checked FROM scan
        UNION ALL SELECT 'returnflag_domain', CAST(returnflag_domain AS BIGINT), checked FROM scan
        UNION ALL SELECT 'shipdate_range', CAST(shipdate_range AS BIGINT), checked FROM scan
        UNION ALL
        SELECT 'orderkey_fk',
               (SELECT count(*) FROM lineitem l LEFT JOIN orders o
                 ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL),
               (SELECT count(*) FROM lineitem))
      SELECT rule, violations, CAST(checked AS BIGINT) AS checked FROM rules"""),
    tags = Set("behavior"))

  /** Robust outlier detection via median/MAD — the heavy-tail-safe
    * complement of [[graft.operators.Relational.anomalyTrailing]]'s
    * mean rule (one inlier-corrupting whale moves a mean; it barely
    * moves a median). Two grouped EXACT percentile passes (median of
    * cents, then median absolute deviation around it — `percentile`
    * interpolates the even-count midpoint as x.5, exactly
    * representable in a double, so both engines compare bit-equal)
    * joined back scan-side, flagging |x − med| > 5·MAD. Emits the
    * per-group robust profile + outlier census. 100 TB note: exact
    * grouped percentiles sort within each group partition; the
    * approx-threshold swap is the same trade [[rfmSegments]]
    * documents. */
  val madOutliers: GQuery = GQuery(
    "op_mad_outliers",
    (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("prio"), cents(col("o_totalprice")).as("v"))
      val med = o.groupBy(col("prio"))
        .agg(expr("percentile(v, 0.5)").as("med_cents"))
      val mad = o.join(broadcast(med), "prio")
        .groupBy(col("prio"))
        .agg(expr("percentile(abs(v - med_cents), 0.5)").as("mad_cents"))
      o.join(broadcast(med), "prio").join(broadcast(mad), "prio")
        .groupBy(col("prio"), col("med_cents"), col("mad_cents"))
        .agg(
          sum(when(abs(col("v") - col("med_cents")) > col("mad_cents") * 5, 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n_orders"))
        .select(col("prio"), col("med_cents"), col("mad_cents"),
          col("n_outliers"), col("n_orders"))
    },
    Some("""
      WITH o AS (SELECT o_orderpriority AS prio,
                        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS v
                 FROM orders),
      med AS (SELECT prio, quantile_cont(v, 0.5) AS med_cents FROM o GROUP BY 1),
      mad AS (SELECT o.prio, quantile_cont(abs(v - med_cents), 0.5) AS mad_cents
              FROM o JOIN med ON med.prio = o.prio GROUP BY 1)
      SELECT o.prio, med_cents, mad_cents,
             CAST(sum(CASE WHEN abs(v - med_cents) > mad_cents * 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
             count(*) AS n_orders
      FROM o JOIN med ON med.prio = o.prio JOIN mad ON mad.prio = o.prio
      GROUP BY 1, 2, 3"""),
    tags = Set("behavior"))

  /** Time-weighted average — the metering/billing integral over an
    * irregularly-sampled step signal: each reading holds until the
    * next one, so its weight is its holding DURATION, not its count
    * (a plain avg over-weights bursts). One `lead` window per user
    * (same single keyed shuffle as [[markovTransitions]]); the last
    * reading of a user has no duration and drops out, exactly as in a
    * metering close. Durations are exact integer MILLISECONDS
    * (`unix_millis` ↔ DuckDB `epoch_ms` — whole-second truncation
    * diverged between engines on sub-second timestamps; ms keeps the
    * cents·ms products inside int64 where µs would overflow the
    * per-user sum). Emitted as exact integer numerator (cents·ms) and
    * denominator (ms) plus their integer-division quotient — the
    * division happens once at read time, never inside the aggregate,
    * so partial sums stay order-independent. */
  val timeWeightedAvg: GQuery = GQuery(
    "op_time_weighted_avg",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("v_cents", cents(col("value")))
        .withColumn("dur_ms",
          unix_millis(Tables.wallClock(lead(col("ts"), 1).over(w)))
            - unix_millis(Tables.wallClock(col("ts"))))
        .filter(col("dur_ms").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(col("dur_ms") * col("v_cents")).as("num_cents_ms"),
          sum(col("dur_ms")).as("den_ms"))
        .withColumn("twap_cents", expr("num_cents_ms DIV den_ms"))
    },
    Some("""
      WITH t AS (
        SELECT user_id,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents,
               epoch_ms(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                 - epoch_ms(ts) AS dur_ms
        FROM events)
      SELECT user_id,
             CAST(sum(dur_ms * v_cents) AS BIGINT) AS num_cents_ms,
             CAST(sum(dur_ms) AS BIGINT) AS den_ms,
             CAST(sum(dur_ms * v_cents) AS BIGINT) // CAST(sum(dur_ms) AS BIGINT) AS twap_cents
      FROM t WHERE dur_ms IS NOT NULL
      GROUP BY 1"""),
    tags = Set("behavior"))

  /** Recency-weighted engagement score with INTEGER exponential decay:
    * half-life = one week, implemented as a right shift by the event's
    * age in weeks (v DIV 2^w — exact, monotone, engine-identical; a
    * float pow() would drift). The reference day is the corpus max —
    * a 1-row broadcast scalar, the same spelling as
    * [[graft.operators.Relational.incrementalAgg]]'s cutoff. One
    * map-side projection + one keyed aggregate; the decay weighting
    * adds zero shuffle. */
  val decayScore: GQuery = GQuery(
    "op_decay_score",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d"), cents(col("value")).as("v_cents"))
      val ref = e.agg(max(col("d")).as("ref_d"))
      e.crossJoin(broadcast(ref))
        .withColumn("age_w",
          least(expr("datediff(ref_d, d) DIV 7"), lit(62L)).cast("int"))
        .withColumn("decayed", expr("shiftright(v_cents, age_w)"))
        .groupBy(col("user_id"))
        .agg(sum(col("decayed")).as("decayed_cents"),
          count(lit(1)).as("n_events"))
    },
    Some("""
      WITH e AS (
        SELECT user_id, ts::DATE AS d,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
        FROM events),
      r AS (SELECT max(d) AS ref_d FROM e)
      SELECT user_id,
             CAST(sum(v_cents >> least((ref_d - d) // 7, 62)) AS BIGINT) AS decayed_cents,
             count(*) AS n_events
      FROM e, r
      GROUP BY 1"""),
    tags = Set("behavior"))

  /** Last-touch attribution: every purchase is credited to the user's
    * most recent PRECEDING non-purchase event. Spelled as a running
    * max over a packed (ms-timestamp, event_id) key — touches pack to
    * `ts_ms · 2²² + event_id` (fits int64 while event_id < 4.2 M;
    * sf1's corpus peaks at ~1 M — and the contract is ENFORCED, not
    * hoped: an event_id ≥ 2²² hits a `raise_error` branch, so a
    * scale-up past sf≈4.2 fails the job loudly instead of silently
    * decoding a corrupted touch_event_id), purchases read the frame
    * max and decode the id back out. ONE keyed window pass — no purchases⋈touches
    * self-join, so the plan cost is the event stream, not
    * purchases × touches. Purchases with no preceding touch drop out
    * (standard attribution semantics). */
  val attribution: GQuery = GQuery(
    "op_attribution",
    (s, dir) => {
      val PACK = 1L << 22
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .withColumn("touch_key",
          when(col("event_id") >= PACK,
            raise_error(concat(lit("op_attribution: event_id "), col("event_id"),
              lit(" overflows the 2^22 pack width — widen the pack"))).cast("long"))
          .when(col("event_type") =!= "purchase",
            unix_millis(Tables.wallClock(col("ts"))) * PACK + col("event_id")))
        .withColumn("last_touch", max(col("touch_key")).over(w))
        .filter(col("event_type") === "purchase" && col("last_touch").isNotNull)
        .select(col("user_id"), col("event_id").as("purchase_id"),
          pmod(col("last_touch"), lit(PACK)).as("touch_event_id"))
    },
    Some("""
      WITH t AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN event_type <> 'purchase'
                    THEN epoch_ms(ts) * 4194304 + event_id END AS touch_key
        FROM events),
      w AS (
        SELECT user_id, event_id, event_type,
               max(touch_key) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS last_touch
        FROM t)
      SELECT user_id, event_id AS purchase_id,
             last_touch % 4194304 AS touch_event_id
      FROM w WHERE event_type = 'purchase' AND last_touch IS NOT NULL"""),
    tags = Set("behavior"))

  /** Per-event-type ordinary-least-squares trend (slope + Pearson
    * correlation of value vs day): ONE pass computing the six exact
    * BIGINT sufficient statistics `(n, Σx, Σy, Σx², Σy², Σxy)` with
    * map-side combine, then the closed-form slope/corr derived from
    * those integers on the ~|types|-row aggregate frame — the
    * textbook "never collect the points, ship the moments" shape that
    * is the same ONE shuffle at 100 TB. x is the day offset from the
    * corpus min day (a 1-row broadcast scalar, the
    * [[decayScore]]/[[Relational.incrementalAgg]] spelling) of the
    * wall-clock day ([[Tables.wallClock]]), y is
    * exact integer cents, so every sum is accumulation-order
    * independent. The quadratic forms `n·Σxy − Σx·Σy` etc. are
    * computed over DECIMAL(19,0)-widened terms, whose products ride
    * Spark's multiply promotion to DECIMAL(38,0) (HUGEINT in the
    * oracle), and only the final slope/corr divide runs in double on
    * those identical exact inputs, rounded to 6 dp (the
    * [[graft.similarity.Ann]] determinism discipline).
    *
    * Exactness bound (r16 advice — this is NOT "exact at any sf"):
    * the six moment sums are BIGINT, so exactness holds while
    * `n·max(x²)`, `n·max(y²)` and `n·max|xy|` stay under 2⁶³ ≈
    * 9.2e18 — with day offsets ≤ 10⁴ and cents ≤ 10⁷ that is ~10⁴
    * daily-granularity years of data per event type at 10⁹ rows, far
    * past any graded corpus, but a BIGINT sum wraps SILENTLY beyond
    * it; the subsequent 38-digit products overflow to NULL (non-ANSI)
    * two decades later still. A corpus near the bound needs the
    * centered-sums spelling (subtract per-group means first) to
    * shrink magnitudes; not shipped because the raw-moment columns
    * `(sxx, syy, sxy)` are part of this key's output contract. */
  val regressionStats: GQuery = GQuery(
    "op_regression_stats",
    (s, dir) => {
      val e = Tables.events(s, dir)
        .select(col("event_type"),
          unix_micros(Tables.wallClock(col("ts"))).as("us"),
          cents(col("value")).as("y"))
        .withColumn("d", expr("us div 86400000000"))
      val base = e.agg(min(col("d")).as("d0"))
      def wide(c: Column): Column = c.cast("decimal(19,0)")
      val m = e.crossJoin(broadcast(base))
        .withColumn("x", col("d") - col("d0"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
      m.withColumn("cov_n",
          (wide(col("n")) * wide(col("sxy")) - wide(col("sx")) * wide(col("sy")))
            .cast("double"))
        .withColumn("varx_n",
          (wide(col("n")) * wide(col("sxx")) - wide(col("sx")) * wide(col("sx")))
            .cast("double"))
        .withColumn("vary_n",
          (wide(col("n")) * wide(col("syy")) - wide(col("sy")) * wide(col("sy")))
            .cast("double"))
        .select(col("event_type"), col("n"), col("sx"), col("sy"),
          col("sxx"), col("syy"), col("sxy"),
          round(col("cov_n") / col("varx_n"), 6).as("slope6"),
          round(col("cov_n") / (sqrt(col("varx_n")) * sqrt(col("vary_n"))), 6)
            .as("corr6"))
    },
    Some("""
      WITH base AS (SELECT min(epoch_us(ts) // 86400000000) AS d0 FROM events),
      xy AS (SELECT event_type,
                    (epoch_us(ts) // 86400000000) - d0 AS x,
                    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
             FROM events, base),
      m AS (SELECT event_type, count(*)::BIGINT AS n,
                   sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                   sum(x*x)::BIGINT AS sxx, sum(y*y)::BIGINT AS syy,
                   sum(x*y)::BIGINT AS sxy
            FROM xy GROUP BY 1),
      d AS (SELECT *,
              CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE) AS cov_n,
              CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx AS DOUBLE) AS varx_n,
              CAST(CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy AS DOUBLE) AS vary_n
            FROM m)
      SELECT event_type, n, sx, sy, sxx, syy, sxy,
             round(cov_n / varx_n, 6) AS slope6,
             round(cov_n / (sqrt(varx_n) * sqrt(vary_n)), 6) AS corr6
      FROM d"""),
    tags = Set("behavior"))

  /** MATCH_RECOGNIZE-lite ordered-subsequence detection: count, per
    * user, every `purchase` preceded (anywhere earlier in the stream)
    * by a `click` that itself was preceded by a `view` — the
    * view→click→purchase pattern counted PER INSTANCE, not the
    * earliest-completion funnel [[Relational.funnel]] computes with a
    * 3-join min-ts chain. Spelled as two stacked conditional running
    * maxes over ONE (user, ts, event_id) window — the second max's
    * predicate reads the first's output, so both Window operators
    * share a single exchange + sort and the whole match is one keyed
    * pass with zero joins (the plan a streaming-state engine would
    * run; at 100 TB the cost is the one user_id shuffle). Timestamps
    * stay in exact µs of their wall-clock reading ([[Tables.wallClock]])
    * so window order and values are engine- and time-zone-identical. */
  val sequenceMatch: GQuery = GQuery(
    "op_sequence_match",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_micros(Tables.wallClock(col("ts"))).as("us"), col("event_id"))
        .withColumn("v_us",
          max(when(col("event_type") === "view", col("us"))).over(w))
        .withColumn("vc_us",
          max(when(col("event_type") === "click" && col("v_us").isNotNull,
            col("us"))).over(w))
        .filter(col("event_type") === "purchase" && col("vc_us").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"),
          min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    },
    Some("""
      WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id
                 FROM events),
      w1 AS (SELECT *, max(CASE WHEN event_type='view' THEN us END) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS v_us FROM e),
      w2 AS (SELECT *, max(CASE WHEN event_type='click' AND v_us IS NOT NULL
                                THEN us END) OVER
               (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS vc_us FROM w1)
      SELECT user_id, count(*)::BIGINT AS n_matches,
             min(us)::BIGINT AS first_us, max(us)::BIGINT AS last_us
      FROM w2 WHERE event_type='purchase' AND vc_us IS NOT NULL
      GROUP BY 1"""),
    tags = Set("behavior"))

  /** Pathological-cart guard for [[marketBasket]]: pair generation is
    * O(m²) per basket, so a basket wider than BASKET_CAP is a LOUD
    * `raise_error` naming the order, its width, and the fix (r16
    * advice — the former silent slice-to-cap made support counts
    * diverge unobservably from the stated semantics on >cap baskets;
    * a support-counting operator must refuse, not undercount). TPC-H
    * orders hold ≤ 7 lineitems, so the guard never fires on the
    * graded corpora (the oracle's plain self-join has none — hash
    * equality proves it idle); at 100 TB it bounds accepted work at
    * 32640 pairs per cart and turns the pathological cart into a
    * diagnosable job failure instead of a wrong answer. */
  private[operators] val BASKET_CAP = 256

  /** Market-basket co-purchase mining (the a-priori support-count
    * core): pairs of parts bought together in the same order, with
    * support ≥ 2. NOT the naive fact-fact self-join on orderkey (at
    * 100 TB that join re-shuffles lineitem twice and its output is the
    * quadratic blow-up BEFORE any filter): group to per-order sorted
    * distinct baskets (shuffle 1, map-side combined), generate each
    * basket's (a < b) pairs MAP-ONLY with a nested transform/slice
    * lambda — m·(m−1)/2 pairs from a basket of m, guarded loud by
    * [[BASKET_CAP]] — then one keyed count with map-side combine
    * (shuffle 2, carrying pairs not baskets). Zero joins anywhere;
    * support-1 pairs (the overwhelming tail) die in the final filter
    * after the combine has already collapsed them to one row per
    * (pair, partition). Oracle is the textbook distinct self-join —
    * bit-equality proves the lambda's pair generation exact. */
  val marketBasket: GQuery = GQuery(
    "op_market_basket",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_partkey"))
        .groupBy(col("l_orderkey"))
        .agg(array_sort(collect_set(col("l_partkey"))).as("parts0"))
        // LOUD cap (r16 advice): the former silent slice-to-cap made
        // support counts diverge unobservably on >cap baskets; a
        // support-counting operator must refuse rather than silently
        // undercount — the error names the basket, the cap, and the fix
        .select(when(size(col("parts0")) > BASKET_CAP,
            raise_error(format_string(
              s"op_market_basket: basket l_orderkey=%s has %s distinct parts" +
                s" > BASKET_CAP=$BASKET_CAP — support counts would be silently" +
                " wrong; raise the cap or pre-filter wide carts",
              col("l_orderkey"), size(col("parts0")))))
          .otherwise(col("parts0")).as("parts"))
        .select(explode(expr(
          """flatten(transform(parts, (a, i) ->
            |  transform(slice(parts, i + 2, size(parts)),
            |    b -> struct(a AS pa, b AS pb))))""".stripMargin)).as("p"))
        .select(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .groupBy(col("pa"), col("pb"))
        .agg(count(lit(1)).as("support"))
        .filter(col("support") >= 2),
    Some("""
      WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS support
      FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2"""),
    tags = Set("behavior"))

  def all: Seq[GQuery] =
    Seq(markovTransitions, segmentOverlap, rfmSegments, dqAudit, madOutliers,
      timeWeightedAvg, decayScore, attribution, regressionStats, sequenceMatch,
      marketBasket)
}
