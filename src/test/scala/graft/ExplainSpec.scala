package graft

/** Headline-plan shape pins: q3 top-k must be TakeOrderedAndProject
  * with no forced fact-table broadcast; the minhash pipeline must be
  * all equi-joins (SortMerge/BroadcastHash), nothing nested-loop. */
class ExplainSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  test("op_partition_prune: the fact scan carries a runtime dynamicpruning filter") {
    val df = SparkEntry.queries("op_partition_prune")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // static rules cannot prune (the filter is on the dim's year/quarter,
    // not the partition column); only DPP's runtime subquery can
    assert(p.contains("dynamicpruningexpression"), p.take(2500))
    assert(p.contains("PartitionFilters"), p.take(2500))
    // and the pruned plan executes end-to-end
    df.write.format("noop").mode("overwrite").save()
  }

  test("q3: top-k via TakeOrderedAndProject, no broadcast of customer") {
    val p = plan("q3_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("q18: HAVING-subquery join plan has no nested-loop join") {
    val p = plan("q18_large_orders")
    assert(!p.contains("NestedLoop"), p.take(1500))
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
  }

  test("dedup_minhash_lsh: equi-joins only") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(1500))
  }

  test("dedup_ngram_jaccard: the hot-shingle cap is an anti-join with no forced broadcast") {
    // no broadcast HINT: on a small corpus AQE converts to broadcast
    // from runtime stats, but on a Zipfian web corpus the df>cap tail
    // is far past any broadcast limit — the plan must stay valid for
    // both, so only the anti-join itself (and no nested loop) is pinned
    val p = plan("dedup_ngram_jaccard")
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"), p.take(2000))
  }

  // each band frame is a Generate over the per-row kernel; below it
  // sits only the scan and its projections
  private def assertBandStageMapOnly(k: String): Unit = {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val p = SparkEntry.queries(k)(spark, sfDir).queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    val bandStages = p.collect {
      case g: GenerateExec if g.generator.toString.contains("sign_band_keys") => g
    }
    assert(bandStages.nonEmpty, s"$k: no sign_band_keys band stage\n$p")
    bandStages.foreach { g =>
      val heavy = g.child.collect {
        case n @ (_: Exchange | _: HashAggregateExec | _: BroadcastHashJoinExec) => n.nodeName
      }
      assert(heavy.isEmpty, s"$k: band stage plans $heavy\n$g")
    }
  }

  test("ann_lsh_topk: the sign-band stage is map-only") {
    assertBandStageMapOnly("ann_lsh_topk")
  }

  test("dedup_embedding: the sign-band stage is map-only") {
    assertBandStageMapOnly("dedup_embedding")
  }

  test("pipeline_sample_stratified: zero exchanges — the sample is a pure scan-side filter") {
    val p = plan("pipeline_sample_stratified")
    assert(!p.contains("Exchange"),
      s"stratified sampling must not shuffle (per-row hash filter at the scan)\n${p.take(2000)}")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      "rate lookup must be a compiled when-chain, not a join")
  }

  test("pipeline_pack_sequences: corpus window stays partitioned by (source, shard)") {
    val p = plan("pipeline_pack_sequences")
    // the packing prefix-sum must ride a (source, shard)-partitioned
    // window — a global window would cap packing at one thread. The
    // src_rank dim is the ONE allowed single-partition subtree: a
    // dense_rank over the deduped |sources|-row source list (bounded
    // input by construction), never the corpus.
    assert("windowspecdefinition\\(source[^)]*shard".r.findFirstIn(p).nonEmpty,
      s"packing window no longer partitioned by (source, shard)\n${p.take(2000)}")
    val singles = "SinglePartition".r.findAllIn(p).size
    assert(singles <= 1,
      s"$singles single-partition exchanges — corpus path collapsed\n${p.take(2000)}")
    assert(p.contains("Window"), p.take(2000))
  }

  test("dedup_paragraph and pipeline_decontaminate: equi-joins only, no nested loop") {
    for (k <- Seq("dedup_paragraph", "pipeline_decontaminate")) {
      val p = plan(k)
      assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"),
        s"$k: ${p.take(1500)}")
    }
  }

  test("pipeline_curate: exact dedup is one min_by aggregate, no dedup self-join") {
    val p = SparkEntry.queries("pipeline_curate")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(p.contains("min_by"), "exact-dedup min_by aggregate missing")
    // LeftSemi would mean the old agg+semi-join spelling crept back
    assert(!p.contains("LeftSemi"), "unexpected semi-join in curate plan")
  }

  test("op_profile_columns: every union branch scans exactly its one pruned column") {
    // the profiler's whole point at 100 TB: each per-column aggregate
    // reads ONE parquet column. ReadSchema in the executed plan must
    // show four single-column scans, never a wide scan.
    val p = SparkEntry.queries("op_profile_columns")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val schemas = """ReadSchema: struct<([^>]*)>""".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(schemas.size == 4, s"expected 4 pruned scans, got $schemas")
    schemas.foreach(s =>
      assert(!s.contains(","), s"a profiler branch scans more than one column: $s"))
  }
}
