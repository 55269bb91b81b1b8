package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the time-series / product-analytics trio
  * (op_gap_fill, op_funnel, op_retention_cohort) that the value-hash
  * oracle alone would not explain: spine contiguity, sequential
  * funnel constraints, cohort-cell consistency. */
class AnalyticsSpec extends SparkSpecBase {

  test("gap_fill emits one contiguous day per user between first and last active day") {
    val got = SparkEntry.queries("op_gap_fill")(spark, sfDir).cache()
    try {
      // spine covers [min, max] with no holes: rows per user == span days
      val bad = got.groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          (datediff(max(col("day")), min(col("day"))) + 1).as("span"))
        .filter(col("n") =!= col("span"))
      assert(bad.isEmpty, "spine has holes or duplicate days")
      // forward fill: never null (first spine day is active), and equals
      // the day's own aggregate on non-gap days
      assert(got.filter(col("filled_cents").isNull).isEmpty)
      val e = sources.Tables.events(spark, sfDir)
        .withColumn("day", to_date(col("ts")))
        .withColumn("v_cents", floor(col("value") * 100 + lit(0.5)).cast("long"))
        .groupBy("user_id", "day").agg(sum("v_cents").as("expect"))
      val mismatch = got.filter(!col("is_gap"))
        .join(e, Seq("user_id", "day"))
        .filter(col("filled_cents") =!= col("expect"))
      assert(mismatch.isEmpty, "non-gap day filled with wrong value")
    } finally got.unpersist()
  }

  test("funnel stages are strictly ordered and stage counts nullness") {
    val got = SparkEntry.queries("op_funnel")(spark, sfDir).cache()
    try {
      assert(got.filter(col("t_click").isNotNull && col("t_click") <= col("t_view")).isEmpty)
      assert(got.filter(col("t_purchase").isNotNull && col("t_purchase") <= col("t_click")).isEmpty)
      val wrongStage = got.filter(
        col("stage") =!= (lit(1)
          + when(col("t_click").isNotNull, 1).otherwise(0)
          + when(col("t_purchase").isNotNull, 1).otherwise(0)))
      assert(wrongStage.isEmpty)
      // a purchase can never be reached without a click (chained joins)
      assert(got.filter(col("t_purchase").isNotNull && col("t_click").isNull).isEmpty)
    } finally got.unpersist()
  }

  test("histogram buckets partition the orders table exactly") {
    val got = SparkEntry.queries("op_histogram")(spark, sfDir).cache()
    try {
      val total = got.agg(sum("n_orders")).head.getLong(0)
      val orders = sources.Tables.orders(spark, sfDir).count()
      assert(total == orders, "histogram cells must partition the table")
      assert(got.filter(col("bucket") < 0 || col("bucket") > 19).isEmpty)
      assert(got.filter(col("bucket_lo_cents") =!= col("bucket") * 2500000L).isEmpty)
    } finally got.unpersist()
  }

  test("minmax_by arg-extremum rows carry the group's actual extreme value") {
    val got = SparkEntry.queries("op_minmax_by")(spark, sfDir)
    val e = sources.Tables.events(spark, sfDir)
      .select(col("event_id").as("max_event_id"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
    val bad = got.join(e, "max_event_id").filter(col("v") =!= col("max_cents"))
    assert(bad.isEmpty, "max_by returned an event that doesn't carry max value")
  }

  test("keywords emits at most 3 ranked terms per doc, weights non-increasing") {
    val got = SparkEntry.queries("text_keywords")(spark, sfDir).cache()
    try {
      assert(got.filter(col("rn") < 1 || col("rn") > 3).isEmpty)
      val over = got.groupBy("doc_id").agg(count(lit(1)).as("n")).filter(col("n") > 3)
      assert(over.isEmpty)
      // within a doc, weight must be non-increasing in rank
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("rn")
      val nonMono = got.withColumn("prev", lag(col("weight"), 1).over(w))
        .filter(col("prev").isNotNull && col("weight") > col("prev"))
      assert(nonMono.isEmpty)
    } finally got.unpersist()
  }

  test("merged intervals are disjoint per user and cover every event") {
    val got = SparkEntry.queries("op_merge_intervals")(spark, sfDir).cache()
    try {
      // event conservation: merged interval counts sum to the table size
      val total = got.agg(sum("n_events")).head.getLong(0)
      assert(total == sources.Tables.events(spark, sfDir).count())
      // disjoint: within a user, each interval starts strictly after the
      // previous one ends
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("iv_start")
      val overlap = got.withColumn("prev_end", lag(col("iv_end"), 1).over(w))
        .filter(col("prev_end").isNotNull && col("iv_start") <= col("prev_end"))
      assert(overlap.isEmpty, "adjacent merged intervals overlap")
      // every interval spans at least the 30-minute claim of one event
      assert(got.filter(
        unix_timestamp(col("iv_end")) - unix_timestamp(col("iv_start")) < 1800L).isEmpty)
    } finally got.unpersist()
  }

  test("cdc_apply keeps exactly the users whose last change is not a delete") {
    val got = SparkEntry.queries("op_cdc_apply")(spark, sfDir)
    val e = sources.Tables.events(spark, sfDir)
    // independent spelling: latest (ts, event_id) per user via max_by
    val last = e.groupBy("user_id")
      .agg(max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("lt"))
    val expectKept = last.filter(col("lt") =!= "error")
    assert(got.count() == expectKept.count())
    assert(got.join(expectKept, "user_id").count() == got.count())
    assert(got.filter(col("last_type") === "error").isEmpty)
  }

  test("ngram profile ranks are dense per language and counts non-increasing") {
    val got = SparkEntry.queries("text_ngram_profile")(spark, sfDir).cache()
    try {
      assert(got.filter(length(col("trigram")) =!= 3).isEmpty)
      // dense ranks 1..10 per language
      val perLang = got.groupBy("lang")
        .agg(count(lit(1)).as("n"), min("rn").as("lo"), max("rn").as("hi"))
      assert(perLang.filter(col("n") =!= 10 || col("lo") =!= 1 || col("hi") =!= 10).isEmpty)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("rn")
      val nonMono = got.withColumn("prev", lag(col("n"), 1).over(w))
        .filter(col("prev").isNotNull && col("n") > col("prev"))
      assert(nonMono.isEmpty)
    } finally got.unpersist()
  }

  test("skyline equals the brute-force non-dominated set") {
    val got = SparkEntry.queries("op_skyline")(spark, sfDir).cache()
    try {
      val pts = sources.Tables.orders(spark, sfDir).select(
        col("o_orderkey").as("k2"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d2"),
        floor(col("o_totalprice") * 100 + lit(0.5)).cast("long").as("c2"))
      // soundness: no survivor is strictly dominated
      val dominated = got.join(pts,
        col("d2") > col("day") && col("c2") > col("cents"), "left_semi")
      assert(dominated.isEmpty, "skyline row is strictly dominated")
      // completeness: every non-survivor IS dominated
      val nonSurvivors = pts.join(got.select(col("o_orderkey")),
        col("k2") === col("o_orderkey"), "left_anti")
      val undominated = nonSurvivors.join(
        pts.select(col("d2").as("d3"), col("c2").as("c3")),
        col("d3") > col("d2") && col("c3") > col("c2"), "left_anti")
      assert(undominated.isEmpty, "non-survivor not dominated by anything")
    } finally got.unpersist()
  }

  test("recall_eval hit counts are within [0, k] and permille is exact") {
    val got = SparkEntry.queries("ann_recall_eval")(spark, sfDir).cache()
    try {
      assert(got.count() == 10, "one row per query")
      assert(got.filter(col("n_hits") < 0 || col("n_hits") > 5).isEmpty)
      assert(got.filter(col("recall_permille") =!= col("n_hits") * 200).isEmpty)
    } finally {
      got.unpersist()
      Caches.release()
    }
  }

  test("sample_fixed_n takes exactly min(n, group) per source, reproducibly") {
    val got = SparkEntry.queries("pipeline_sample_fixed_n")(spark, sfDir).cache()
    try {
      val sizes = sources.Tables.documents(spark, sfDir)
        .groupBy("source").agg(count(lit(1)).as("total"))
      val bad = got.groupBy("source").agg(count(lit(1)).as("taken"))
        .join(sizes, "source")
        .filter(col("taken") =!= least(lit(20L), col("total")))
      assert(bad.isEmpty, "per-source sample size != min(20, group size)")
      val again = SparkEntry.queries("pipeline_sample_fixed_n")(spark, sfDir)
      assert(got.exceptAll(again).isEmpty, "sample not reproducible")
    } finally got.unpersist()
  }

  test("interleave positions are injective and cycle sources round-robin") {
    val got = SparkEntry.queries("pipeline_interleave")(spark, sfDir).cache()
    try {
      assert(got.select("global_pos").distinct().count() == got.count())
      // position mod n_sources recovers the source index
      val bad = got.filter(
        pmod(col("global_pos"), lit(20L)) =!= substring(col("source"), 4, 10).cast("long"))
      assert(bad.isEmpty, "global_pos does not cycle sources round-robin")
    } finally got.unpersist()
  }

  test("degree distribution conserves edge endpoints and node count") {
    val dist = SparkEntry.queries("graph_degree_distribution")(spark, sfDir).cache()
    try {
      val e = graph.Graph.pairs(spark, sfDir)
      val endpoints = dist.agg(sum(col("degree") * col("n_nodes"))).head.getLong(0)
      assert(endpoints == 2 * e.count(), "sum(degree * n_nodes) must equal 2|E|")
      val nodes = e.select(col("a").as("n")).union(e.select(col("b").as("n")))
        .distinct().count()
      assert(dist.agg(sum("n_nodes")).head.getLong(0) == nodes)
    } finally dist.unpersist()
  }

  test("hash features conserve token counts into 16 slots") {
    val got = SparkEntry.queries("text_hash_features")(spark, sfDir).cache()
    try {
      assert(got.filter(col("slot") < 0 || col("slot") > 15).isEmpty)
      val total = got.agg(sum("cnt")).head.getLong(0)
      val words = sources.Tables.documents(spark, sfDir)
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0).count()
      assert(total == words, "slot counts must conserve the token stream")
    } finally got.unpersist()
  }

  test("shard manifest conserves docs and numbers shards contiguously from 0") {
    val got = SparkEntry.queries("mm_shard_manifest")(spark, sfDir).cache()
    try {
      val docs = sources.Tables.documents(spark, sfDir).count()
      assert(got.agg(sum("n_docs")).head.getLong(0) == docs)
      val bad = got.groupBy("format")
        .agg(min("shard").as("lo"), max("shard").as("hi"), count(lit(1)).as("n"))
        .filter(col("lo") =!= 0 || col("hi") =!= col("n") - 1)
      assert(bad.isEmpty, "shard ids not contiguous from 0 per format")
      // stream fill: a shard only closes once the budget is crossed, so
      // every non-final shard holds at least the budget minus one max doc
      val maxDoc = 560L * 560L * 3L
      val lastPer = got.groupBy("format").agg(max("shard").as("last"))
      val thin = got.join(lastPer, "format")
        .filter(col("shard") =!= col("last") &&
          col("total_bytes") < 8388608L - maxDoc)
      assert(thin.isEmpty, "non-final shard under-filled")
    } finally got.unpersist()
  }

  test("cumulative reach ends at the distinct-user count") {
    val got = SparkEntry.queries("op_cumulative_reach")(spark, sfDir)
    val users = sources.Tables.events(spark, sfDir).select("user_id").distinct().count()
    assert(got.agg(max("cumulative_users")).head.getLong(0) == users)
    assert(got.agg(sum("new_users")).head.getLong(0) == users)
  }

  test("anomaly flags satisfy the integer threshold with a full baseline") {
    val got = SparkEntry.queries("op_anomaly_trailing")(spark, sfDir).cache()
    try {
      assert(got.filter(col("trail_n") < 8 || col("trail_n") > 20).isEmpty)
      assert(got.filter(
        col("v_cents") * col("trail_n") <= col("trail_sum_cents") * 4).isEmpty)
    } finally got.unpersist()
  }

  test("data card conserves docs and chars, language mix within bounds") {
    val got = SparkEntry.queries("pipeline_data_card")(spark, sfDir).cache()
    try {
      val docs = sources.Tables.documents(spark, sfDir)
      assert(got.agg(sum("n_docs")).head.getLong(0) == docs.count())
      assert(got.agg(sum("total_chars")).head.getLong(0) ==
        docs.agg(sum(col("n_chars").cast("long"))).head.getLong(0))
      assert(got.filter(col("en_permille") < 0 || col("en_permille") > 1000).isEmpty)
      assert(got.filter(col("n_langs") < 1 || col("n_langs") > 5).isEmpty)
    } finally got.unpersist()
  }

  test("retention offset-0 cell equals cohort size and offsets are non-negative") {
    val got = SparkEntry.queries("op_retention_cohort")(spark, sfDir).cache()
    try {
      assert(got.filter(col("day_offset") < 0).isEmpty)
      // every user is active on their own cohort day, so the offset-0
      // cell must count the whole cohort
      val cohortSize = sources.Tables.events(spark, sfDir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy("user_id").agg(min(col("day")).as("cohort_day"))
        .groupBy("cohort_day").agg(count(lit(1)).as("expect"))
      val zero = got.filter(col("day_offset") === 0)
      val bad = zero.join(cohortSize, Seq("cohort_day"), "full")
        .filter(col("n_users").isNull || col("expect").isNull ||
          col("n_users") =!= col("expect"))
      assert(bad.isEmpty, "offset-0 retention cell != cohort size")
    } finally got.unpersist()
  }

  test("heavy_hitters equals brute force: the bounded bucket screen is lossless") {
    val got = operators.Relational.heavyHitters.build(spark, TestSession.sfDir01)
      .collect().toSeq
    // independent brute force: one full group-by, no bucket pass
    val occ = sources.Tables.documents(spark, TestSession.sfDir01)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val freq = occ.groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val total = occ.count()
    val t = math.max(2L, total / 2000L)
    val want = freq.filter(col("freq") >= t)
      .orderBy(col("freq").desc, col("w")).limit(50)
      .collect().toSeq
    assert(got.nonEmpty)
    assert(got == want, s"screen dropped or invented a heavy hitter (T=$t)")
  }

  test("fuzzy_join prefix filter is lossless vs brute-force levenshtein, and never all-pairs") {
    val got = operators.Relational.fuzzyJoin.build(spark, TestSession.sfDir01)
    // independent brute force over the same 24-char keys
    val t = sources.Tables.documents(spark, TestSession.sfDir01)
      .select(col("doc_id"), substring(col("text"), 1, 24).as("t"))
    val want = t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id"))
      .withColumn("dist", levenshtein(col("a.t"), col("b.t")))
      .filter(col("dist") <= 2)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"), col("dist"))
      .orderBy(col("d1"), col("d2"))
    val g = got.collect().toSeq
    assert(g.nonEmpty, "corpus plants duplicate prefixes; expected matches")
    assert(g == want.collect().toSeq,
      "prefix-filtered candidates diverge from brute force: the block is not lossless")
    // the plan must not contain a cartesian product (the blocked join
    // is an equi-join on gram value; only the brute-force CHECK above
    // may go quadratic)
    val phys = got.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct"),
      "fuzzy join candidate generation fell back to a cartesian product")
  }

  test("fuzzy_join adversarial flood: candidates bounded by distinct keys, results lossless") {
    import TestSession.spark.implicits._
    // planted corpus (r16 verdict #5): a 2000-doc flood of ONE key, a
    // 40-doc near-identical-but-distinct family whose shared grams are
    // hot (df >> FUZZY_DF_CAP → the salted path runs), and a benign
    // tail with a few true matches
    val flood = (0L until 2000L).map(i => (i, "zqzqzqzqzqzqzqzqzqzqzqzq"))
    val nearIdent = (0L until 40L).map(i => (10000L + i, f"aaaaaaaaaaaaaaaaaaaaaa$i%02d"))
    val tail = (0L until 30L).map(i => (20000L + i, f"key-$i%04d-abcdefghijklmn"))
    val docs = (flood ++ nearIdent ++ tail).toDF("doc_id", "t")
    // the flood's pair set is ~2M rows — compare count + an order-
    // independent exact hash instead of materializing both sides
    def digest(df: org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val r = df.agg(
        count(lit(1)), sum(hash(col("d1"), col("d2"), col("dist")).cast("long")),
        sum(col("dist").cast("long"))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val got = digest(operators.Relational.fuzzyJoinOn(docs, q = 2, k = 2))
    // brute force over the same frame is the lossless contract
    val want = digest(docs.as("a").join(docs.as("b"), $"a.doc_id" < $"b.doc_id")
      .withColumn("dist", levenshtein($"a.t", $"b.t")).filter($"dist" <= 2)
      .select($"a.doc_id".as("d1"), $"b.doc_id".as("d2"), $"dist"))
    assert(want._1 > 2000L * 1999L / 2, "flood pairs must dominate the truth")
    assert(got == want, s"adversarial corpus broke losslessness: $got vs $want")
    // the gram pipeline saw only the 71 distinct keys: candidate count
    // is bounded by distinct-keys-choose-2, nowhere near docs² — the
    // 2000-doc flood contributed exactly ONE representative
    val reps = docs.groupBy($"t").agg(min($"doc_id").as("rep"))
      .select($"rep".as("doc_id"), $"t")
    val candN = operators.Relational.fuzzyRepCandidates(reps, 2, 2).count()
    val distinctKeys = docs.select($"t").distinct().count()
    assert(distinctKeys == 71)
    assert(candN <= distinctKeys * (distinctKeys - 1) / 2,
      s"candidates $candN exceed distinct-key pair bound")
    // the verify path consumes the dup-preserving frame (r17 late
    // distinct): a pair's multiplicity is bounded by matching prefix
    // gram instances — ≤ (q·k+1)² per pair, so the frame stays
    // output-shaped, never quadratic in docs
    val candDupN = operators.Relational.fuzzyRepCandidatesDup(reps, 2, 2).count()
    val pw = 2 * 2 + 1
    assert(candDupN <= pw.toLong * pw * distinctKeys * (distinctKeys - 1) / 2,
      s"dup candidates $candDupN exceed the prefix-width multiplicity bound")
    // and the hot path really ran: the near-identical family's grams
    // exceed the df cap
    val hotGrams = reps
      .select(explode(expr("transform(sequence(1, length(t)-1), i -> substring(t, i, 2))")).as("g"))
      .groupBy($"g").count().filter($"count" > operators.Relational.FUZZY_DF_CAP).count()
    assert(hotGrams >= 1, "planted corpus failed to create a hot gram — spec is not adversarial")
  }
}
