package graft

import org.apache.spark.sql.functions._

/** Semantics of the behavior/quality family (§2.3b): conservation
  * laws the oracle's hash check can't state directly — transition
  * mass, overlap bounds, quintile partitioning, audit coverage. */
class BehaviorSpec extends SparkSpecBase {

  test("markov transition mass equals events minus stream starts") {
    val m = SparkEntry.queries("op_markov_transitions")(spark, sfDir).cache()
    try {
      val events = sources.Tables.events(spark, sfDir)
      val total = events.count()
      val users = events.select(col("user_id")).distinct().count()
      val mass = m.agg(sum(col("n"))).head().getLong(0)
      assert(mass == total - users,
        s"each user contributes (events-1) transitions: $mass != ${total - users}")
      // permille is a row-conditional probability: within [0, 1000],
      // and each from-row sums to 1000 minus integer-division dust
      assert(m.filter(col("permille") < 0 || col("permille") > 1000).isEmpty)
      val rowSums = m.groupBy(col("from_type")).agg(
        sum(col("permille")).as("p"), count(lit(1)).as("k"))
      assert(rowSums.filter(col("p") > 1000 || col("p") <= lit(1000) - col("k")).isEmpty,
        "integer-division dust bound violated")
    } finally m.unpersist()
  }

  test("segment overlap is bounded by its audiences") {
    val o = SparkEntry.queries("op_segment_overlap")(spark, sfDir).cache()
    try {
      assert(o.count() > 0)
      assert(o.filter(col("n_both") > least(col("n_a"), col("n_b"))).isEmpty)
      assert(o.filter(col("jaccard_permille") > 1000).isEmpty)
      assert(o.filter(col("seg_a") >= col("seg_b")).isEmpty, "pairs are ordered seg_a < seg_b")
    } finally o.unpersist()
  }

  test("rfm segments partition the customer base into valid quintiles") {
    val seg = SparkEntry.queries("op_rfm")(spark, sfDir).cache()
    try {
      val customers = sources.Tables.orders(spark, sfDir)
        .select(col("o_custkey")).distinct().count()
      assert(seg.agg(sum(col("n_customers"))).head().getLong(0) == customers)
      for (c <- Seq("r_q", "f_q", "m_q"))
        assert(seg.filter(col(c) < 1 || col(c) > 5).isEmpty, s"$c out of quintile range")
      val cents = sources.Tables.orders(spark, sfDir)
        .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long"))).head().getLong(0)
      assert(seg.agg(sum(col("segment_cents"))).head().getLong(0) == cents,
        "segment cents must conserve total monetary value")
    } finally seg.unpersist()
  }

  test("dq audit covers every row once and its planted rules fire") {
    val audit = SparkEntry.queries("op_dq_audit")(spark, sfDir).cache()
    try {
      val n = sources.Tables.lineitem(spark, sfDir).count()
      assert(audit.filter(col("checked") =!= n).isEmpty, "every rule audits the full table")
      assert(audit.filter(col("violations") < 0 || col("violations") > col("checked")).isEmpty)
      val byRule = audit.collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("violations")).toMap
      assert(byRule("orderkey_fk") == 0L, "generated data has no FK orphans")
      assert(byRule("discount_cap") > 0L, "the tightened discount rule must fire")
      assert(byRule("quantity_domain") == 0L)
    } finally audit.unpersist()
  }

  test("kcore census shrinks monotonically and matches the degree distribution") {
    val census = SparkEntry.queries("graph_kcore")(spark, sfDir)
      .orderBy(col("round")).collect()
    try {
      assert(census.length == 3)
      val nodes = census.map(_.getAs[Long]("n_nodes"))
      val edges = census.map(_.getAs[Long]("n_edges"))
      assert(nodes.zip(nodes.tail).forall { case (a, b) => b <= a }, "peeling never grows nodes")
      assert(edges.zip(edges.tail).forall { case (a, b) => b <= a }, "peeling never grows edges")
      // round 1 keep-set is exactly the degree-distribution mass at d >= 100
      val fromDist = SparkEntry.queries("graph_degree_distribution")(spark, sfDir)
        .filter(col("degree") >= 100).agg(sum(col("n_nodes"))).head()
      val expected = if (fromDist.isNullAt(0)) 0L else fromDist.getLong(0)
      assert(nodes.head == expected, s"round-1 nodes ${nodes.head} != degree-dist mass $expected")
    } finally Caches.release()
  }

  test("link prediction proposes only new, well-supported edges") {
    val pred = SparkEntry.queries("graph_link_predict")(spark, sfDir).cache()
    try {
      assert(pred.count() <= 100)
      assert(pred.filter(col("common") < 5).isEmpty, "score floor")
      val existing = graph.Graph.pairs(spark, sfDir)
      assert(pred.join(existing, Seq("a", "b"), "left_semi").isEmpty,
        "a predicted link must not already exist")
    } finally {
      pred.unpersist()
      Caches.release()
    }
  }

  test("weighted sampling keeps long documents at a higher rate") {
    val docs = sources.Tables.documents(spark, TestSession.sfDir01)
      .withColumn("bin", when(col("n_chars") >= 500, "long").otherwise("short"))
    val kept = SparkEntry.queries("pipeline_sample_weighted")(spark, TestSession.sfDir01)
      .withColumn("bin", when(col("n_chars") >= 500, "long").otherwise("short"))
    val total = docs.groupBy("bin").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val k = kept.groupBy("bin").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // keep-rate(long) > keep-rate(short), integer cross-multiplied
    assert(k.getOrElse("long", 0L) * total("short") > k.getOrElse("short", 0L) * total("long"),
      s"weighted sampling must favour the high-permille bin: $k of $total")
  }

  test("curriculum stages respect thresholds and ords are dense per shard") {
    val cur = SparkEntry.queries("pipeline_curriculum")(spark, TestSession.sfDir01).cache()
    try {
      val docs = sources.Tables.documents(spark, TestSession.sfDir01)
      assert(cur.count() == docs.count(), "every doc is staged")
      val joined = cur.join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      assert(joined.filter(col("stage") === 1 && col("n_chars") >= 256).isEmpty)
      assert(joined.filter(col("stage") === 4 && col("n_chars") < 448).isEmpty)
      // ord is a dense 1..n per (stage, shard): max == count
      val dense = cur.groupBy(col("stage"), col("shard"))
        .agg(max(col("ord")).as("mx"), count(lit(1)).as("cnt"))
      assert(dense.filter(col("mx") =!= col("cnt")).isEmpty, "ord must be dense per shard")
    } finally cur.unpersist()
  }

  test("column profile agrees with directly-computed statistics") {
    val prof = SparkEntry.queries("op_profile_columns")(spark, sfDir)
      .collect().map(r => r.getAs[String]("column_name") -> r).toMap
    assert(prof.size == 4)
    val l = sources.Tables.lineitem(spark, sfDir)
    assert(prof("l_quantity").getAs[Long]("n_nulls") == 0L)
    assert(prof("l_quantity").getAs[Long]("n_distinct") ==
      l.select(col("l_quantity")).distinct().count())
    assert(prof("l_quantity").getAs[String]("min_val").toLong >= 1L)
    assert(prof("l_quantity").getAs[String]("max_val").toLong <= 50L)
    assert(prof("l_returnflag").getAs[Long]("n_distinct") == 3L)
  }

  test("streaks are bounded by each user's active-day count") {
    val st = SparkEntry.queries("op_streaks")(spark, sfDir).cache()
    try {
      val users = sources.Tables.events(spark, sfDir)
        .select(col("user_id")).distinct().count()
      assert(st.count() == users, "exactly one streak row per user")
      val daysPerUser = sources.Tables.events(spark, sfDir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        .groupBy("user_id").count()
      val bad = st.join(daysPerUser, "user_id")
        .filter(col("streak_days") < 1 || col("streak_days") > col("count"))
      assert(bad.isEmpty, "a streak exceeds the user's active-day count")
    } finally st.unpersist()
  }

  test("mad outliers: robust stats bound the census and a planted whale is caught") {
    val m = SparkEntry.queries("op_mad_outliers")(spark, sfDir).cache()
    try {
      assert(m.count() == sources.Tables.orders(spark, sfDir)
        .select(col("o_orderpriority")).distinct().count())
      assert(m.filter(col("n_outliers") > col("n_orders")).isEmpty)
      assert(m.filter(col("mad_cents") < 0 || col("med_cents") <= 0).isEmpty)
      // robustness: the median must sit inside every group's value range
      val rng = sources.Tables.orders(spark, sfDir)
        .groupBy(col("o_orderpriority").as("prio"))
        .agg(min(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("lo"),
          max(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("hi"))
      assert(m.join(rng, "prio")
        .filter(col("med_cents") < col("lo") || col("med_cents") > col("hi")).isEmpty)
    } finally m.unpersist()
  }

  test("label propagation is deterministic and labels are node ids") {
    val l1 = SparkEntry.queries("graph_labelprop")(spark, sfDir).cache()
    try {
      val nodes = graph.Graph.arcs(spark, sfDir).select(col("n")).distinct().cache()
      try {
        assert(l1.count() == nodes.count(), "every connected node gets a label")
        assert(l1.join(nodes.withColumnRenamed("n", "lab"), Seq("lab"), "left_anti").isEmpty,
          "a label must be some node's id")
        val l2 = SparkEntry.queries("graph_labelprop")(spark, sfDir)
        assert(l1.exceptAll(l2).isEmpty && l2.exceptAll(l1).isEmpty,
          "synchronous LPA with a total tie order must be deterministic")
      } finally nodes.unpersist()
    } finally {
      l1.unpersist()
      Caches.release()
    }
  }

  test("proration conserves every order's total exactly") {
    val p = SparkEntry.queries("op_prorate")(spark, sfDir).cache()
    try {
      val totals = sources.Tables.orders(spark, sfDir)
        .select(col("o_orderkey").as("l_orderkey"),
          floor(col("o_totalprice") * 100 + 0.5).cast("long").as("t"))
      // Σalloc == T per order, to the cent — the operator's contract
      val bad = p.groupBy(col("l_orderkey")).agg(sum(col("alloc_cents")).as("a"))
        .join(totals, "l_orderkey").filter(col("a") =!= col("t"))
      assert(bad.isEmpty, "largest-remainder proration must conserve the total")
      // only lineitems of real orders, one allocation per line
      assert(p.count() == sources.Tables.lineitem(spark, sfDir)
        .join(totals, Seq("l_orderkey"), "left_semi").count())
    } finally p.unpersist()
  }

  test("incremental aggregate merge equals direct recomputation") {
    val inc = SparkEntry.queries("op_incremental_agg")(spark, sfDir)
    val direct = sources.Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
    assert(inc.exceptAll(direct).isEmpty && direct.exceptAll(inc).isEmpty,
      "stored+delta merge must equal the full recompute")
  }

  test("dataset diff census is complete and consistent") {
    val d = SparkEntry.queries("pipeline_dataset_diff")(spark, TestSession.sfDir01)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = sources.Tables.documents(spark, TestSession.sfDir01).count()
    // every CURRENT doc is exactly one of added/changed/unchanged
    assert(d.getOrElse("added", 0L) + d.getOrElse("changed", 0L) +
      d.getOrElse("unchanged", 0L) == n, d.toString)
    assert(d.getOrElse("removed", 0L) > 0, "retired synthetic ids must show as removed")
    assert(d.getOrElse("added", 0L) > 0 && d.getOrElse("changed", 0L) > 0, d.toString)
  }

  test("time-weighted average telescopes and stays inside the value range") {
    val twap = SparkEntry.queries("op_time_weighted_avg")(spark, sfDir).cache()
    try {
      // the duration sum telescopes to (last ts - first ts) per user
      val span = sources.Tables.events(spark, sfDir)
        .groupBy(col("user_id"))
        .agg((unix_millis(max(col("ts")).cast("timestamp"))
          - unix_millis(min(col("ts")).cast("timestamp"))).as("span_ms"))
      assert(twap.join(span, "user_id").filter(col("den_ms") =!= col("span_ms")).isEmpty,
        "holding durations must telescope to the observation span")
      // a weighted mean cannot leave the value hull
      val hull = sources.Tables.events(spark, sfDir)
        .withColumn("v", floor(col("value") * 100 + 0.5).cast("long"))
        .groupBy(col("user_id")).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
      assert(twap.join(hull, "user_id")
        .filter(col("twap_cents") < col("lo") || col("twap_cents") > col("hi")).isEmpty)
    } finally twap.unpersist()
  }

  test("decay score is bounded by the undecayed sum and conserves event counts") {
    val d = SparkEntry.queries("op_decay_score")(spark, sfDir).cache()
    try {
      val plain = sources.Tables.events(spark, sfDir)
        .groupBy(col("user_id"))
        .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("raw_cents"),
          count(lit(1)).as("n"))
      val j = d.join(plain, "user_id")
      assert(j.filter(col("decayed_cents") > col("raw_cents")).isEmpty,
        "decay can only shrink")
      assert(j.filter(col("n_events") =!= col("n")).isEmpty)
      assert(d.filter(col("decayed_cents") < 0).isEmpty)
    } finally d.unpersist()
  }

  test("attribution credits a real, earlier, non-purchase touch of the same user") {
    val a = SparkEntry.queries("op_attribution")(spark, sfDir).cache()
    try {
      assert(a.count() > 0)
      val e = sources.Tables.events(spark, sfDir)
      // the credited touch must exist, belong to the same user, be a
      // non-purchase, and strictly precede the purchase
      val touches = e.select(col("user_id").as("tu"), col("event_id").as("touch_event_id"),
        col("ts").as("tts"), col("event_type").as("ttype"))
      val purchases = e.select(col("event_id").as("purchase_id"), col("ts").as("pts"))
      val joined = a.join(touches, "touch_event_id").join(purchases, "purchase_id")
      assert(joined.count() == a.count(), "every credited touch id must resolve")
      assert(joined.filter(col("tu") =!= col("user_id")).isEmpty, "cross-user credit")
      assert(joined.filter(col("ttype") === "purchase").isEmpty, "a purchase credited as touch")
      assert(joined.filter(col("tts") > col("pts")).isEmpty, "touch after the purchase")
    } finally a.unpersist()
  }

  test("sharded HLL union is merge-invariant vs the unsharded sketch") {
    // the property that makes per-partition sketch persistence sound:
    // union of independently-built shard sketches estimates the same
    // as one sketch over the whole stream (same lgK registers, max-
    // combined) — plus the key's own ±5% contract must hold here too
    val dir = TestSession.sfDir01
    val e = sources.Tables.events(spark, dir)
    val merged = SparkEntry.queries("op_sketch_merge")(spark, dir)
    assert(merged.filter(!col("merge_within_tol")).isEmpty, "±5% contract violated")
    val single = e.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 14))").as("single_est"))
    val sharded = e.withColumn("shard", pmod(col("event_id"), lit(8L)))
      .groupBy(col("event_type"), col("shard"))
      .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      .groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("merged_est"))
    val diff = single.join(sharded, "event_type")
      .filter(abs(col("single_est") - col("merged_est")) > col("single_est") * 0.001)
    assert(diff.isEmpty, "shard-merged estimate diverged from the unsharded sketch")
  }

  test("frequency spectrum conserves token and vocabulary totals") {
    val dir = TestSession.sfDir01
    val spec = SparkEntry.queries("text_freq_spectrum")(spark, dir)
      .agg(sum(expr("occurrences * n_words")).as("tokens"),
        sum(col("n_words")).as("vocab")).head()
    val ld = SparkEntry.queries("text_lexical_diversity")(spark, dir)
      .agg(sum(col("total_tokens")).as("tokens"),
        sum(col("distinct_tokens")).as("vocab_by_source")).head()
    assert(spec.getAs[Long]("tokens") == ld.getAs[Long]("tokens"),
      "Σ n·n_words must equal the corpus token count")
    // global vocab ≤ Σ per-source vocab (words shared across sources)
    assert(spec.getAs[Long]("vocab") <= ld.getAs[Long]("vocab_by_source"))
  }

  test("lexical diversity ratios are consistent") {
    val ld = SparkEntry.queries("text_lexical_diversity")(spark, TestSession.sfDir01).cache()
    try {
      assert(ld.count() > 0)
      assert(ld.filter(col("distinct_tokens") > col("total_tokens")).isEmpty)
      assert(ld.filter(
        col("ttr_permille") =!= expr("(distinct_tokens * 1000) DIV total_tokens")).isEmpty)
    } finally ld.unpersist()
  }

  test("regression moments conserve the corpus and agree with Spark's own corr/regr_slope") {
    val r = SparkEntry.queries("op_regression_stats")(spark, sfDir).cache()
    try {
      val events = sources.Tables.events(spark, sfDir)
      assert(r.agg(sum(col("n"))).head().getLong(0) == events.count(),
        "group sizes must partition the event stream")
      assert(r.filter(col("corr6") < -1.0 || col("corr6") > 1.0).isEmpty,
        "Pearson correlation out of [-1, 1]")
      // independent replay: Spark's built-in corr/regr_slope over the
      // same (x = day offset, y = cents) points — the closed form from
      // the integer moments must match the streaming-kernel builtins
      val xy = events
        .select(col("event_type"),
          expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("d"),
          floor(col("value") * 100 + 0.5).cast("long").as("y"))
      val d0 = xy.agg(min(col("d"))).head().getLong(0)
      val ref = xy.withColumn("x", (col("d") - lit(d0)).cast("double"))
        .groupBy(col("event_type"))
        .agg(corr(col("x"), col("y").cast("double")).as("corr_ref"),
          expr("regr_slope(CAST(y AS DOUBLE), x)").as("slope_ref"))
      val j = r.join(ref, "event_type")
      assert(j.count() == r.count())
      assert(j.filter(abs(col("corr6") - col("corr_ref")) > 1e-4).isEmpty,
        "moment-form corr drifts from the builtin")
      assert(j.filter(abs(col("slope6") - col("slope_ref")) > 1e-3).isEmpty,
        "moment-form slope drifts from the builtin")
    } finally r.unpersist()
  }

  test("sequence match users are exactly the funnel's stage-3 completions") {
    val m = SparkEntry.queries("op_sequence_match")(spark, sfDir).cache()
    try {
      assert(m.count() > 0)
      // a user has >=1 view→click→purchase instance IFF the
      // earliest-completion min-ts chain closes (see scaladoc proof):
      // min-view <= any qualifying view, so the min-chain's click and
      // purchase candidates only widen
      val funnel3 = SparkEntry.queries("op_funnel")(spark, sfDir)
        .filter(col("stage") === 3).select(col("user_id"))
      assert(m.select(col("user_id")).exceptAll(funnel3).isEmpty,
        "matched user missing from funnel stage 3")
      assert(funnel3.exceptAll(m.select(col("user_id"))).isEmpty,
        "funnel stage-3 user with no counted instance")
      // per-user instance count can never exceed the purchase count
      val p = sources.Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(count(lit(1)).as("np"))
      assert(m.join(p, "user_id").filter(col("n_matches") > col("np")).isEmpty)
      assert(m.filter(col("first_us") > col("last_us")).isEmpty)
      // the whole match runs in ONE user_id exchange: the stacked
      // windows and the rollup share the partitioning
      val planStr = m.queryExecution.executedPlan.toString()
      val finalPlan = planStr.split("== Initial Plan ==").head // AQE echoes both
      val exchanges = finalPlan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1, s"sequence match should shuffle once, saw $exchanges")
    } finally m.unpersist()
  }

  test("market basket lambda pair generation equals the brute-force self-join") {
    val got = SparkEntry.queries("op_market_basket")(spark, sfDir)
      .orderBy("pa", "pb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val li = sources.Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val want = li.select(col("l_orderkey"), col("l_partkey").as("pa"))
      .join(li.select(col("l_orderkey"), col("l_partkey").as("pb")), Seq("l_orderkey"))
      .filter(col("pa") < col("pb"))
      .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .orderBy("pa", "pb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got.nonEmpty, "support>=2 pairs must exist at sf0.001")
    assert(got == want, s"lambda pairs diverge from self-join (${got.length} vs ${want.length})")
    // and the shipped plan is join-free: both fact stages are aggregates
    val plan = SparkEntry.queries("op_market_basket")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "market basket must not plan any join")
  }

  test("the events-timing keys read ts as wall clock: equal digests in UTC and Los Angeles") {
    // a time read in the session time zone moves by the zone offset:
    // day buckets, µs outputs, window bounds and the as-of join's
    // TIMESTAMP union would all change with it
    val la = Sessions.childWith(spark, Seq("spark.sql.session.timeZone" -> "America/Los_Angeles"))
    val dir = TestSession.sfDir01
    // the keys after op_asof_join compare TIMESTAMP_NTZ columns with
    // literals, or run a text in the caller's session that reads
    // events.ts, o_orderdate or l_shipdate
    val moved = (Seq("op_attribution", "op_regression_stats", "op_sequence_match",
        "op_range_join", "op_asof_join", "op_anti_join", "op_dq_audit", "op_stats_skipping",
        "op_lateral_join", "op_window_running", "op_sessionize", "op_scd2_intervals",
        "op_funnel", "op_retention_cohort", "op_merge_intervals", "op_cdc_apply",
        "op_cumulative_reach", "op_anomaly_trailing", "op_streaks", "op_rfm") ++
        tpch.TpchQueries.all.map(_.name)).flatMap { k =>
      val utc = digest(Registry.byName(k).build(spark, dir))
      assert(utc._1 > 0, s"$k is empty at sf0.01")
      val other = digest(Registry.byName(k).build(la, dir))
      if (other == utc) None else Some(s"$k: UTC $utc, America/Los_Angeles $other")
    }
    assert(moved.isEmpty, moved.mkString("; "))
  }
}
