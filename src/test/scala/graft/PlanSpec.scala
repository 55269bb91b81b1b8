package graft

/** Plan-shape assertions for the whole registry: the properties that
  * decide survival at 100 TB, checked at sf0.001 where planning is
  * identical. */
class PlanSpec extends SparkSpecBase {

  test("no CartesianProduct anywhere in the registry") {
    Registry.all.foreach { q =>
      val plan = q.build(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"${q.name} has a CartesianProduct")
    }
  }

  test("broadcast nested-loop joins only where a side is a bounded single-row/tiny input") {
    // BNLJ is acceptable only for scalar-aggregate cross joins (q11 total,
    // q22 avg, gen stats) and the deliberately-broadcast ANN query set;
    // fact-fact joins must never BNL.
    val allowed = Set("q11_important_stock", "q22_global_sales", "q8_market_share",
      "q14_promo_revenue", "q15_top_supplier", "q17_small_qty_revenue",
      "ann_cosine_topk", "ann_ivf_topk", "ann_ivf_balanced", "dedup_semantic",
      "gen_partsupp_join", "gen_source_format", "gen_aux_profile",
      "pipeline_domain_mix", "pipeline_shuffle_shard", "pipeline_token_mix",
      "text_keywords", "graph_triangles", "ann_recall_eval",
      // broadcast query-probe retrieval (same shape as ann_cosine_topk)
      "ann_hybrid_rrf", "ann_knn_classify", "ann_mmr_rerank",
      // 1-row-aggregate cross joins only: the audit's checked-count
      // attach, the per-round census assembly, and the incremental
      // aggregate's scalar cutoff
      "op_dq_audit", "graph_kcore", "op_incremental_agg", "op_decay_score",
      // heavy hitters: both passes attach the broadcast 1-row token
      // total (the relative-support threshold) via crossJoin
      "op_heavy_hitters",
      // regression stats: x-offsets anchor to a broadcast 1-row
      // corpus-min scalar via crossJoin
      "op_regression_stats",
      // collocations: lift attaches the broadcast 1-row n_pairs
      // scalar via crossJoin
      "text_cooccurrence",
      // q22's rewrite: the customer frame crossJoins its broadcast
      // 1-row avg-balance scalar
      "q22_full_anti_rewrite")
    Registry.all.filterNot(q => allowed(q.name)).foreach { q =>
      val plan = q.build(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"${q.name} has an unexpected BroadcastNestedLoopJoin")
    }
  }

  test("map-only keys plan without any shuffle exchange") {
    // these keys' scaladoc claims "map-only, zero shuffle" — pin it in
    // the physical plan so a refactor that sneaks in an exchange fails
    // here, not in a 100 TB run
    val mapOnly = Seq(
      "text_tokens", "text_quality", "text_langid", "text_entropy",
      "text_normalize", "text_pii", "text_fingerprint",
      "op_zorder_cluster", "pipeline_split_leakproof",
      "pipeline_sample_stratified", "pipeline_sample_weighted",
      "mm_metadata", "mm_resize", "mm_frame_sample", "dedup_simhash")
    mapOnly.foreach { k =>
      val plan = Registry.byName(k).build(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$k claims map-only but plans an Exchange")
    }
  }

  test("TopKLong plans exactly in the keys that call top_k_long or spell the rewritable window") {
    // the TopKRewrite rule is on in every GraftExtensions session: pin
    // its reach so a widened pattern match shows up here as a new key
    val withTopK = Registry.all.filter { q =>
      q.build(spark, sfDir).queryExecution.optimizedPlan.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[graft.functions.TopKLong])))
    }.map(_.name).toSet
    assert(withTopK == Set("op_topk_agg", "op_topk_rewrite", "pipeline_cap_per_group"))
  }

  test("every registry query plans and has a non-empty schema") {
    Registry.all.foreach { q =>
      val df = q.build(spark, sfDir)
      assert(df.schema.nonEmpty, q.name)
    }
  }
}
