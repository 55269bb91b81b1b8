package graft

import org.apache.spark.sql.functions._

/** ANN quality: LSH recall against the exact brute-force baseline,
  * and HLL error tolerance. */
class AnnSpec extends SparkSpecBase {

  test("ann_lsh_topk recall vs brute force at sf0.01") {
    // this corpus's nearest neighbours sit at cosine ~0.3-0.5, the
    // hard regime for sign-LSH (P[bit agree] ≈ 0.55-0.67 per plane);
    // at real near-dup similarity (>=0.9, P >= 0.86) the same 8×4
    // banding holds >=0.95 recall. Assert the measured floor for
    // top-5 and the stronger floor for the (higher-cosine) top-1.
    val exactTop = SparkEntry.queries("ann_cosine_topk")(spark, TestSession.sfDir01)
      .select(col("query_id"), col("vec_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val lsh = SparkEntry.queries("ann_lsh_topk")(spark, TestSession.sfDir01)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact5 = exactTop.map(t => (t._1, t._2)).toSet
    val exact1 = exactTop.filter(_._3 == 1L).map(t => (t._1, t._2)).toSet
    assert(exact5.size == 50, s"expected 10 queries x top-5, got ${exact5.size}")
    val recall5 = (exact5 & lsh).size.toDouble / exact5.size
    val recall1 = (exact1 & lsh).size.toDouble / exact1.size
    assert(recall5 >= 0.4, s"recall@5 $recall5")
    assert(recall1 >= 0.5, s"recall@1 $recall1")
    val ivf = SparkEntry.queries("ann_ivf_topk")(spark, TestSession.sfDir01)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the Lloyd refinement step lifted this from 0.40 (hash-seeded
    // centroids) to 0.52; pin the refined floor
    val ivf5 = (exact5 & ivf).size.toDouble / exact5.size
    assert(ivf5 >= 0.5, s"IVF recall@5 $ivf5")
  }

  test("ann_pq_topk: ADC recall vs brute force, and the code book is complete") {
    // PQ ranks by an 8-subspace additive approximation of the dot
    // product; on this corpus's diffuse neighbours that is a lossy
    // but useful signal — assert the measured floor, and that top-1
    // (highest-margin) survives better than the tail
    val exactTop = SparkEntry.queries("ann_cosine_topk")(spark, TestSession.sfDir01)
      .select(col("query_id"), col("vec_id"), col("rnk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pq = SparkEntry.queries("ann_pq_topk")(spark, TestSession.sfDir01).cache()
    val got = pq.select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact5 = exactTop.map(t => (t._1, t._2)).toSet
    val recall5 = (exact5 & got).size.toDouble / exact5.size
    assert(recall5 >= 0.2, s"PQ recall@5 $recall5")
    // structural: every query emits exactly K ranked rows
    val counts = pq.groupBy(col("query_id")).count().collect().map(_.getLong(1))
    assert(counts.length == 10 && counts.forall(_ == 5L), counts.mkString(","))
    pq.unpersist()
  }

  test("ann_range_search: every hit clears the threshold and covers the top-k hits above it") {
    val dir = TestSession.sfDir01
    val range = SparkEntry.queries("ann_range_search")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(range.nonEmpty)
    assert(range.forall(_._3 >= graft.similarity.Ann.RANGE_TAU),
      s"hit below threshold: ${range.filter(_._3 < graft.similarity.Ann.RANGE_TAU).toSeq}")
    // range search shares the candidate stage with top-k, so every
    // LSH top-k hit at/above the threshold must be in the range result
    val topkAbove = SparkEntry.queries("ann_lsh_topk")(spark, dir)
      .filter(col("cosine") >= graft.similarity.Ann.RANGE_TAU)
      .select(col("query_id"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rset = range.map(t => (t._1, t._2)).toSet
    assert(topkAbove.nonEmpty && topkAbove.subsetOf(rset),
      s"top-k hits missing from range: ${(topkAbove -- rset).toSeq}")
  }

  test("lsh band width shrinks the candidate set superlinearly") {
    // doubling bitsPerBand squares the per-band bucket count (16 →
    // 256), so per-query candidates must fall by much more than 2× —
    // the knob that keeps LSH meaningfully cheaper than brute force
    // as the corpus grows (at 4 bits candidates ≈ bands·N/16 ≈ N/2,
    // only a 2× saving)
    val vecs = graft.sources.Tables.embeddings(spark, TestSession.sfDir01)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))").as("e"))
    def candidates(bits: Int): Long = {
      val bands = graft.similarity.Ann.signBands(vecs, nBands = 8, bitsPerBand = bits)
      val qb = bands.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("band"), col("bkey"))
      qb.join(bands, Seq("band", "bkey"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id")).distinct().count()
    }
    val c4 = candidates(4)
    val c8 = candidates(8)
    assert(c8 * 2 < c4, s"candidates fell sublinearly: 4 bits -> $c4, 8 bits -> $c8")
  }

  test("IVF corpus assignment is an aggregate, not a window") {
    val plan = SparkEntry.queries("ann_ivf_topk")(spark, TestSession.sfDir01)
      .queryExecution.optimizedPlan.toString
    // max_by over (c_cos, -c_id) replaces the N×C row_number window;
    // the only windows left are the probe-side NPROBE rank (Q×C rows)
    // and the final per-query top-k
    assert(plan.contains("max_by"), "assignment max_by aggregate missing")
    val windows = "Window \\[".r.findAllIn(plan).length
    assert(windows == 2, s"expected 2 windows (probe rank + final top-k), got $windows")
  }

  // quantized 64-dim corpus for the balance-guard tests: `dupes`
  // copies of ONE point (the mass no centroid geometry can separate —
  // the shape a dedup-bound corpus actually has), rest pseudo-random
  private def guardCorpus(n: Long, dupes: Long) = {
    graft.functions.GraftFunctions.register(spark)
    spark.range(n).select(col("id").as("vec_id"),
      expr(s"""CASE WHEN id < $dupes
               THEN transform(sequence(0, 63), d -> CAST(IF(d = 0, 10000, 0) AS BIGINT))
               ELSE transform(sequence(0, 63), d -> pmod(xxhash64(id, d), 2000) - 1000)
               END""").as("e"))
  }

  test("ivfBalanced splits a duplicate-mass list geometry cannot separate") {
    try {
      val idx = similarity.Ann.ivfBalanced(guardCorpus(800, 600), maxSteps = 2)
      val cap = math.ceil(4.0 * 800 / 16).toLong // = ivfBalanced's default factor
      // 600 identical vectors tie onto one seed; Lloyd runs its steps
      // but cannot move a point mass apart — the hash-split must fire
      // and bound every list near cap (md5-uniform split key, allow 1.5×)
      assert(idx.split, "expected the hash-split fallback to fire")
      assert(idx.lloydSteps == 2, s"expected the Lloyd loop to run first, took ${idx.lloydSteps}")
      assert(idx.maxList <= (1.5 * cap).toLong, s"max list ${idx.maxList} vs cap $cap")
      // split preserves the candidate set: every vector keeps exactly
      // one list, every list belongs to its parent centroid, and the
      // oversized parent fans out into >= 2 sub-lists
      assert(idx.assign.count() == 800 &&
        idx.assign.select(col("vec_id")).distinct().count() == 800)
      assert(idx.assign.filter(col("list_id.c_id") =!= col("c_id")).count() == 0)
      val fanout = idx.assign.groupBy(col("c_id"))
        .agg(countDistinct(col("list_id")).as("lists"), count(lit(1)).as("sz"))
      assert(fanout.filter(col("sz") > cap && col("lists") < 2).count() == 0,
        "an oversized parent list was not fanned out")
      assert(fanout.filter(col("sz") > cap).count() >= 1,
        "corpus did not produce the oversized parent the test is about")
      // deterministic: a rebuild assigns identically
      val again = similarity.Ann.ivfBalanced(guardCorpus(800, 600), maxSteps = 2).assign
      assert(idx.assign.exceptAll(again).count() == 0 &&
        again.exceptAll(idx.assign).count() == 0)
    } finally Caches.release()
  }

  test("ivfBalanced leaves an already-balanced corpus untouched") {
    try {
      val idx = similarity.Ann.ivfBalanced(guardCorpus(800, 0), maxSteps = 2)
      val cap = math.ceil(4.0 * 800 / 16).toLong
      assert(!idx.split && idx.lloydSteps == 0, s"guard fired on a balanced corpus: $idx")
      assert(idx.maxList <= cap, s"max list ${idx.maxList} vs cap $cap")
    } finally Caches.release()
  }

  test("approx-quantile rank contract: tie range straddles the band on a point-mass distribution") {
    // 40% of rows share the median value: the naive count(<=v)/n = 0.7
    // would false-fail even though the sketch is exactly right; the
    // tie-range contract [count(<v), count(<=v)] ∍ 50%±5% must hold
    import TestSession.spark.implicits._
    val rows = (Seq.fill(400)(50.0) ++ (1 to 300).map(_ / 10.0) ++
      (1 to 300).map(i => 100.0 + i)).map(v => ("e", v))
    val df = rows.toDF("event_type", "value")
    val ap = df.groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, 0.5D, 100)").as("ap50"))
    // uses the PRODUCTION contract expression, so a regression to the
    // naive count(<=v)/count(*) form fails here
    val got = df.join(ap, "event_type")
      .groupBy(col("event_type"))
      .agg(graft.operators.Relational.medianRankOk.as("ok"))
      .head()
    assert(got.getBoolean(1), "tie-range contract failed on point-mass input")
    // all-NULL group is vacuously true, matching the oracle's TRUE
    val nulls = Seq(("n", None: Option[Double]), ("n", None)).toDF("event_type", "value")
    val gotNull = nulls.withColumn("ap50", lit(null).cast("double"))
      .groupBy(col("event_type"))
      .agg(graft.operators.Relational.medianRankOk.as("ok"))
      .head()
    assert(gotNull.getBoolean(1), "all-NULL group must satisfy the contract vacuously")
  }

  test("approx_count_distinct within 5% of exact per event_type") {
    // the query's own contract column must hold on every group
    val rows = SparkEntry.queries("op_approx_distinct")(spark, TestSession.sfDir01).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getBoolean(r.fieldIndex("within_tol")),
      s"${r.getString(r.fieldIndex("event_type"))} estimate outside 5%"))
    // and the raw estimate itself, measured independently of the query
    // (same rsd=0.01 sketch precision as the operator)
    val approx = graft.sources.Tables.events(spark, TestSession.sfDir01)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), rsd = 0.01).as("a"),
        countDistinct(col("user_id")).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    approx.foreach { case (k, a, n) =>
      assert(math.abs(a - n).toDouble / n <= 0.05, s"$k: approx $a vs exact $n")
    }
  }

  test("filtered search returns only predicate-eligible vectors with dense ranks") {
    val dir = TestSession.sfDir01
    val got = SparkEntry.queries("ann_filtered_topk")(spark, dir).cache()
    assert(got.count() > 0)
    // every hit satisfies the metadata predicate (even label)
    val labels = graft.sources.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"))
    val bad = got.join(labels, Seq("vec_id")).filter(pmod(col("label"), lit(2)) =!= 0).count()
    assert(bad == 0, s"$bad hits violate the label predicate")
    // ranks are dense 1..m per query
    val loose = got.groupBy(col("query_id"))
      .agg(count(lit(1)).as("m"), max(col("rnk")).as("mx"), min(col("rnk")).as("mn"))
      .filter(col("mx") =!= col("m") || col("mn") =!= 1L).count()
    assert(loose == 0, "non-dense ranks in filtered top-k")
    // the filtered hit set is a subset of the slice the unfiltered LSH
    // search scores (same bands, smaller corpus side)
    got.unpersist()
  }

  test("hybrid RRF fusion is well-formed and sits on the 1/(60+r) grid") {
    val got = SparkEntry.queries("ann_hybrid_rrf")(spark, sfDir).cache()
    try {
      assert(got.select(col("query_id")).distinct().count() == 10)
      // dense 1..10 per query, fused score monotone non-increasing in rank
      val perQ = got.groupBy(col("query_id"))
        .agg(count(lit(1)).as("m"), max(col("rnk")).as("mx"), min(col("rnk")).as("mn"))
      assert(perQ.filter(col("m") =!= 10 || col("mx") =!= 10 || col("mn") =!= 1).isEmpty)
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id")).orderBy(col("rnk"))
      assert(got.withColumn("prev", lag(col("rrf6"), 1).over(w))
        .filter(col("prev").isNotNull && col("rrf6") > col("prev")).isEmpty,
        "fused score must be non-increasing down the ranking")
      // every fused score is 1/(60+a) [+ 1/(60+b)] for ranks in 1..20:
      // bounded by the both-arms-rank-1 max and the single-arm-rank-20 min
      val mx = BigDecimal(2.0 / 61).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val mn = BigDecimal(1.0 / 80).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got.filter(col("rrf6") > mx || col("rrf6") < mn).isEmpty,
        s"fused score outside [$mn, $mx] — not on the truncated-list RRF grid")
    } finally got.unpersist()
  }

  test("knn classification votes are a valid 5-neighbour majority") {
    val got = SparkEntry.queries("ann_knn_classify")(spark, sfDir).cache()
    try {
      assert(got.count() == 10, "one verdict per query")
      assert(got.filter(col("votes") < 1 || col("votes") > 5).isEmpty)
      assert(got.filter(col("correct") =!=
        when(col("pred_label") === col("true_label"), 1L).otherwise(0L)).isEmpty)
      // true_label must be the query's own label from the corpus
      val emb = sources.Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("query_id"), col("label").cast("long").as("lbl"))
      assert(got.join(emb, "query_id").filter(col("true_label") =!= col("lbl")).isEmpty)
    } finally got.unpersist()
  }

  test("mmr rerank: 5 dense rounds, no repeats, greedy scores non-increasing") {
    val got = SparkEntry.queries("ann_mmr_rerank")(spark, sfDir).cache()
    try {
      val perQ = got.groupBy(col("query_id")).agg(
        count(lit(1)).as("m"), countDistinct(col("vec_id")).as("dv"),
        max(col("round")).as("mx"), min(col("round")).as("mn"),
        countDistinct(col("round")).as("dr"))
      assert(perQ.filter(col("m") =!= 5 || col("dv") =!= 5 ||
        col("mx") =!= 5 || col("mn") =!= 1 || col("dr") =!= 5).isEmpty,
        "each query must pick 5 distinct docs across dense rounds 1..5")
      assert(got.select(col("query_id")).distinct().count() == 10)
      // greedy MMR's max attainable score can only fall: every
      // candidate's penalty grows with the selected set and the
      // argmax ranges over a shrinking pool
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id")).orderBy(col("round"))
      assert(got.withColumn("prev", lag(col("mmr6"), 1).over(w))
        .filter(col("prev").isNotNull && col("mmr6") > col("prev") + 1e-9).isEmpty,
        "greedy pick score increased between rounds")
      // round 1 is the pure-relevance argmax: it must equal the
      // exact brute-force top-1 neighbour (ann_cosine_topk rnk 1)
      val top1 = SparkEntry.queries("ann_cosine_topk")(spark, sfDir)
        .filter(col("rnk") === 1).select(col("query_id"), col("vec_id").as("bf"))
      assert(got.filter(col("round") === 1).join(top1, "query_id")
        .filter(col("vec_id") =!= col("bf")).isEmpty,
        "MMR round 1 must be the relevance argmax")
    } finally got.unpersist()
  }
}
