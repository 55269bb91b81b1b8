package graft

import graft.pipeline.TrainingData
import org.apache.spark.sql.functions._

/** Curation funnel properties beyond the value oracle. */
class PipelineSpec extends SparkSpecBase {

  test("curation only drops rows and removes every near-dup loser among survivors") {
    val dir = TestSession.sfDir01
    val total = graft.sources.Tables.documents(spark, dir).count()
    val kept = TrainingData.curate(spark, dir).cache()
    assert(kept.count() > 0 && kept.count() < total)
    // no two survivors are a near-dup pair: re-running the banded
    // near-dup detector over the kept set must find nothing
    val keptDocs = graft.sources.Tables.documents(spark, dir)
      .join(kept.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val residual = graft.dedup.Dedup.minhashPairs(keptDocs)
    assert(residual.count() == 0)
    // gates hold on every survivor
    assert(kept.filter(col("n_words") < 20 || col("punct_ratio") > 0.1).count() == 0)
    kept.unpersist()
  }

  test("curate plan contains no raw shingle self-join (near-dup stage rides minhash bands)") {
    val plan = TrainingData.curate(spark, TestSession.sfDir01)
      .queryExecution.optimizedPlan.toString
    // the banded path must be present (candidates keyed on band bucket)
    assert(plan.contains("bkey"), "minhash band join missing from curate plan")
    // the raw path's signature is a join keyed on the shingle string
    // ALONE (with only the doc_id inequality alongside) — the verify
    // stage's composite (doc_id, shingle) key is fine
    val rawSelfJoin = """\(\(?shingle#\d+ = shingle#\d+\)? AND \(doc_id#\d+ < doc_id#\d+\)""".r
    assert(rawSelfJoin.findFirstIn(plan).isEmpty,
      "raw shingle self-join found in curate plan")
  }

  test("decontamination flags exactly the docs sharing a benchmark n-gram, zeros included") {
    import TestSession.spark.implicits._
    val leakRun = (1 to 5).map(i => s"b$i").mkString(" ") // one shared 5-gram
    val bench = Seq((100L, s"$leakRun bench tail words here")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"prefix words $leakRun suffix"), // contaminated
      (2L, "totally clean document text with enough words"),
      (3L, "tiny")) // < 5 words: no grams, still emitted with 0
      .toDF("doc_id", "text")
    val got = TrainingData.decontaminateAgainst(train, bench)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq == Seq((1L, 1L, true), (2L, 0L, false), (3L, 0L, false)))
  }

  test("decontamination on the real corpus finds the planted near-dups and nothing like all docs") {
    val got = SparkEntry.queries("pipeline_decontaminate")(spark, TestSession.sfDir01).cache()
    val flagged = got.filter(col("contaminated")).count()
    val total = got.count()
    assert(flagged > 0, "no contamination found — the planted dups should leak")
    assert(flagged < total / 10, s"$flagged of $total flagged — 5-gram window too loose")
    got.unpersist()
  }

  test("domain mix keeps sources proportional to their weights, max-weight sources whole") {
    val dir = TestSession.sfDir01
    val docs = graft.sources.Tables.documents(spark, dir)
    val totals = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = SparkEntry.queries("pipeline_domain_mix")(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("k"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val minN = totals.values.min
    def weight(src: String): Long = src.drop(3).toLong % 3 + 1
    // per-source the md5-permille coin is binomial on ~25 draws (sd ≈
    // 2.4 docs) — too noisy to pin individually; assert never-overdrawn
    // per source and proportionality per WEIGHT CLASS, where the noise
    // averages over ~7 sources
    totals.foreach { case (src, n) =>
      assert(kept.getOrElse(src, 0L) <= n, s"$src overdrawn")
    }
    (1L to TrainingData.W_MAX).foreach { w =>
      val srcs = totals.keys.filter(weight(_) == w).toSeq
      val expected = srcs.map(s => math.min(totals(s).toDouble,
        w.toDouble * minN / TrainingData.W_MAX)).sum
      val got = srcs.map(s => kept.getOrElse(s, 0L).toDouble).sum
      assert(math.abs(got - expected) <= 0.2 * expected,
        s"weight $w: kept $got, expected ~$expected over ${srcs.size} sources")
    }
    // a max-weight source at the minimum size is kept whole
    val anchor = totals.filter { case (s, n) => n == minN && weight(s) == TrainingData.W_MAX }
    anchor.keys.foreach(s => assert(kept.getOrElse(s, 0L) == totals(s), s"anchor $s not whole"))
  }

  test("sequence packing streaming-fills per (source, shard) and never skips a pack") {
    import TestSession.spark.implicits._
    // 5 docs of 400 tokens each in one source/shard: budget 1024 →
    // exclusive prefix sums 0,400,800,1200,1600 → packs 0,0,0,1,1
    val text = (1 to 400).map(i => s"t$i").mkString(" ")
    val d = (0L to 4L).map(i => (i, "srcA", text)).toDF("doc_id", "source", "text")
    val got = TrainingData.packOf(d).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(4)))
    assert(got.toSeq == Seq(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
    // shards are independent fills: doc_ids straddling the shard width
    // restart at local pack 0 with the shard baked into pack_id
    val wide = Seq(
      (TrainingData.PACK_SHARD_DOCS - 1, "srcA", text),
      (TrainingData.PACK_SHARD_DOCS, "srcA", text)).toDF("doc_id", "source", "text")
    val w = TrainingData.packOf(wide).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(2), r.getLong(4)))
    assert(w.toSeq == Seq(0L -> 0L, 1L -> 1000000L))
  }

  test("packing on the real corpus: packs are contiguous doc ranges that respect the budget") {
    val got = SparkEntry.queries("pipeline_pack_sequences")(spark, TestSession.sfDir01)
    // within each pack, the token sum before the LAST doc stays under
    // budget (the last doc may overflow the boundary — streaming fill)
    val perPack = got.groupBy(col("source"), col("shard"), col("pack_id"))
      .agg(sum(col("n_tokens")).as("tok"),
        expr("max_by(n_tokens, doc_id)").as("last_tok"),
        count(lit(1)).as("n"))
    val over = perPack
      .filter(col("tok") - col("last_tok") >= TrainingData.PACK_BUDGET && col("n") > 1)
      .count()
    assert(over == 0, s"$over packs whose fill (minus one doc) already exceeded the budget")
    // pack ids within a (source, shard) are dense from 0
    val gaps = got.select(col("source"), col("shard"),
        pmod(col("pack_id"), lit(1000000L)).as("local"))
      .groupBy(col("source"), col("shard"))
      .agg(min(col("local")).as("lo"), max(col("local")).as("hi"),
        countDistinct(col("local")).as("d"))
      .filter(col("lo") =!= 0L || col("d") =!= col("hi") + 1L)
      .count()
    assert(gaps == 0, s"$gaps (source, shard) groups with non-dense pack ids")
    // pack_id is globally unique: ~20 sources interleave inside every
    // shard (AuxGen assigns source = hash mod 20), so an id omitting
    // the source code would alias ~20 distinct packs onto each value
    val aliased = got.groupBy(col("pack_id"))
      .agg(countDistinct(col("source"), col("shard")).as("owners"))
      .filter(col("owners") > 1L).count()
    assert(aliased == 0, s"$aliased pack_ids shared across (source, shard) groups")
  }

  test("shuffle shard is deterministic with dense balanced shards of ceil(n/100)") {
    val dir = TestSession.sfDir01
    val a = SparkEntry.queries("pipeline_shuffle_shard")(spark, dir).cache()
    val b = SparkEntry.queries("pipeline_shuffle_shard")(spark, dir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0) // reproducible
    val n = graft.sources.Tables.documents(spark, dir).count()
    val nShards = (n + TrainingData.SHUFFLE_SHARD_DOCS - 1) / TrainingData.SHUFFLE_SHARD_DOCS
    val per = a.groupBy(col("shard"))
      .agg(count(lit(1)).as("c"), min(col("pos")).as("mn"), max(col("pos")).as("mx"),
        countDistinct(col("pos")).as("d"))
      .collect()
    assert(per.length == nShards, s"${per.length} shards, expected $nShards")
    // positions are dense 1..c within every shard (a written shard file
    // is a gapless sequence)
    per.foreach { r =>
      assert(r.getLong(2) == 1L && r.getLong(3) == r.getLong(1) && r.getLong(4) == r.getLong(1),
        s"non-dense positions in shard ${r.getLong(0)}")
    }
    // uniform hash → no shard grossly overloaded
    val mean = n.toDouble / nShards
    per.foreach(r => assert(r.getLong(1) <= 2 * mean,
      s"shard ${r.getLong(0)} holds ${r.getLong(1)} docs vs mean $mean"))
    a.unpersist()
  }

  test("leak-proof split: byte-equal texts always co-route, split is ~train permille") {
    import TestSession.spark.implicits._
    // planted exact dups under distinct doc_ids: an id-keyed split
    // could route them apart; the content-keyed split cannot
    val dup = (1 to 30).map(i => s"w$i").mkString(" ")
    val planted = ((1L to 40L).map(i => (i, "en", s"$dup tail$i")) ++
      Seq((100L, "en", dup), (101L, "de", dup), (102L, "fr", dup)))
      .toDF("doc_id", "lang", "text")
    val sp = TrainingData.splitOf(planted)
    val crossed = planted.select(col("doc_id"), md5(col("text")).as("h"))
      .join(sp, Seq("doc_id"))
      .groupBy(col("h")).agg(countDistinct(col("split")).as("k"))
      .filter(col("k") > 1).count()
    assert(crossed == 0, s"$crossed duplicate-text groups straddle the split")
    // real corpus: deterministic, and the 90/10 permille target holds
    val dir = TestSession.sfDir01
    val got = SparkEntry.queries("pipeline_split_leakproof")(spark, dir).cache()
    val frac = got.filter(col("split") === "train").count().toDouble / got.count()
    assert(frac > 0.85 && frac < 0.95, s"train fraction $frac vs target 0.9")
    // every row's split agrees with its emitted content bucket
    assert(got.filter((col("cbucket") < TrainingData.TRAIN_PERMILLE) =!=
      (col("split") === "train")).count() == 0)
    got.unpersist()
  }

  test("cluster split co-routes near-dup pairs, not just byte dups") {
    val dir = TestSession.sfDir01
    val sp = SparkEntry.queries("pipeline_split_cluster")(spark, dir).cache()
    // every simhash near-dup PAIR must land on one side of the split —
    // the property the content-hash split cannot give
    val pairs = SparkEntry.queries("dedup_simhash_pairs")(spark, dir)
      .select(col("doc_a"), col("doc_b"))
    val crossed = pairs
      .join(sp.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
      .join(sp.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
      .filter(col("sa") =!= col("sb")).count()
    assert(crossed == 0, s"$crossed near-dup pairs straddle the cluster split")
    // total function: every doc routed exactly once
    val n = graft.sources.Tables.documents(spark, dir).count()
    assert(sp.count() == n && sp.select(col("doc_id")).distinct().count() == n)
    sp.unpersist()
  }

  test("token mix repeats under-weight sources toward target share, capped at MAX_EPOCHS") {
    import TestSession.spark.implicits._
    // srcA: 1000 tokens, srcB: 100 tokens, equal weight → T=1100, Σw=2:
    // epochs_B = 1100 DIV 200 = 5 → capped 4; epochs_A = 1100 DIV 2000 = 0 → floor 1
    val tA = (1 to 1000).map(i => s"a$i").mkString(" ")
    val tB = (1 to 100).map(i => s"b$i").mkString(" ")
    val d = Seq((1L, "srcA", tA), (2L, "srcB", tB)).toDF("doc_id", "source", "text")
    val got = TrainingData.tokenMixOf(d, lit(1L))
      .groupBy(col("doc_id")).count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 4L), got.toString)
    // real corpus: epochs bounded, (doc, epoch) unique, every doc present
    val real = SparkEntry.queries("pipeline_token_mix")(spark, TestSession.sfDir01).cache()
    val per = real.groupBy(col("doc_id")).agg(count(lit(1)).as("c"), countDistinct(col("epoch")).as("d"))
    assert(per.filter(col("c") > TrainingData.MAX_EPOCHS || col("c") =!= col("d")).count() == 0)
    assert(per.count() == graft.sources.Tables.documents(spark, TestSession.sfDir01).count())
    real.unpersist()
  }

  test("stratified sample is deterministic, honors per-lang rates, and keeps bucket < rate") {
    val dir = TestSession.sfDir01
    val a = SparkEntry.queries("pipeline_sample_stratified")(spark, dir)
    val b = SparkEntry.queries("pipeline_sample_stratified")(spark, dir)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0) // reproducible
    val docs = graft.sources.Tables.documents(spark, dir)
    val perLang = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = a.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    TrainingData.SAMPLE_RATES.foreach { case (lang, permille) =>
      val n = perLang(lang).toDouble
      val expect = n * permille / 1000.0
      val gotN = kept.getOrElse(lang, 0L).toDouble
      // md5 buckets are uniform; allow ~4 sigma of binomial noise
      val sigma = math.sqrt(n * (permille / 1000.0) * (1 - permille / 1000.0))
      assert(math.abs(gotN - expect) <= 4 * sigma + 1,
        s"$lang: kept $gotN of $n, expected ~$expect (rate $permille permille)")
    }
    // the emitted bucket really is below the lang's rate on every row
    val rates = TrainingData.SAMPLE_RATES.toMap
    val bad = a.collect().count { r =>
      r.getLong(2) >= rates.getOrElse(r.getString(1), TrainingData.DEFAULT_PERMILLE).toLong
    }
    assert(bad == 0, s"$bad rows with bucket >= their lang rate")
  }

  test("ccnet buckets are balanced terciles per language, ordered by score") {
    val got = SparkEntry.queries("pipeline_ccnet_bucket")(spark, sfDir).cache()
    try {
      // ntile balance: within a language, bucket sizes differ by at most 1
      val sizes = got.groupBy("lang", "bucket").count()
      val spread = sizes.groupBy("lang")
        .agg(max(col("count")).as("mx"), min(col("count")).as("mn"))
        .filter(col("mx") - col("mn") > 1)
      assert(spread.isEmpty, "tercile sizes differ by >1 within a language")
      // ordering: head scores never exceed tail scores within a language
      val cuts = got.groupBy("lang").agg(
        max(when(col("bucket") === 1, col("mean_bits"))).as("head_max"),
        min(when(col("bucket") === 3, col("mean_bits"))).as("tail_min"))
      assert(cuts.filter(col("head_max") > col("tail_min")).isEmpty)
      // names map 1/2/3 -> head/middle/tail
      val badName = got.filter(
        (col("bucket") === 1 && col("bucket_name") =!= "head") ||
        (col("bucket") === 2 && col("bucket_name") =!= "middle") ||
        (col("bucket") === 3 && col("bucket_name") =!= "tail"))
      assert(badName.isEmpty)
    } finally got.unpersist()
  }

  test("ngram dedup replays against an independent pairwise-join recount") {
    val got = SparkEntry.queries("pipeline_ngram_dedup")(spark, sfDir).cache()
    try {
      assert(got.count() > 0)
      assert(got.filter(col("n_dup_windows") > col("n_windows")).isEmpty)
      assert(got.filter(col("dup_permille") < 0 || col("dup_permille") > 1000).isEmpty)
      assert(got.filter(col("n_dup_windows") > 0).count() > 0,
        "the corpus plants near-dup passages; none surfaced")
      // window totals conserve: every doc with >= 8 words contributes
      // size - 7 windows
      val docs = sources.Tables.documents(spark, sfDir)
        .select(col("doc_id"), size(split(col("text"), " ")).as("nw"))
      val expected = docs.filter(col("nw") >= 8)
        .agg(sum(col("nw") - 7)).head().getLong(0)
      assert(got.agg(sum(col("n_windows"))).head().getLong(0) == expected)
      // independent recount of n_dup_windows, NOT via the shipped
      // window-min: distinct shingles per doc joined against earlier
      // docs' shingles (counts multiplicity like the shipped plan:
      // a doc window is dup iff its text occurs in ANY earlier doc)
      val sh = docs.join(sources.Tables.documents(spark, sfDir), "doc_id")
        .filter(col("nw") >= 8)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(split(text, ' ')) - 8), " +
            "i -> concat_ws(' ', slice(split(text, ' '), i + 1, 8)))")).as("g"))
      val firstSeen = sh.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
      val recount = sh.join(firstSeen, "g")
        .groupBy(col("doc_id"))
        .agg(sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("re"))
      val diff = got.join(recount, "doc_id")
        .filter(col("n_dup_windows") =!= col("re")).count()
      assert(diff == 0, s"$diff docs disagree with the independent recount")
    } finally got.unpersist()
  }

  test("cap_per_group: exactly min(n, |group|) per source, window-free heap plan") {
    val df = SparkEntry.queries("pipeline_cap_per_group")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "the cap must not plan a window")
    assert(plan.contains("top_k_long"), "expected the bounded-heap aggregate")
    val got = df.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = graft.sources.Tables.documents(spark, sfDir)
      .groupBy(col("source")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == sizes.keySet, "every source must survive the cap")
    sizes.foreach { case (src, c) =>
      assert(got(src) == math.min(15L, c), s"$src: ${got(src)} != min(15, $c)")
    }
    // picked set identical to the window spelling (the oracle's shape)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("h").desc, col("doc_id"))
    val want = graft.sources.Tables.documents(spark, sfDir)
      .select(col("source"), col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 14), 16, 10)
          .cast("long").as("h"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 15)
      .select(col("source"), col("rn"), col("doc_id"), col("h"))
      .orderBy("source", "rn").collect().map(_.toSeq).toSeq
    val gotRows = df.orderBy("source", "rn").collect().map(_.toSeq).toSeq
    assert(gotRows == want, "heap pick diverges from the window spelling")
  }
}
