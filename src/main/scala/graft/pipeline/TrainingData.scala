package graft.pipeline

import graft.GQuery
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The corpus-level stages of a training-data pipeline: end-to-end
  * curation ([[curateQuery]]), benchmark decontamination
  * ([[decontaminate]]), deterministic stratified sampling for data
  * mixing ([[sampleStratified]]), and training-sequence packing
  * ([[packSequences]]).
  *
  * Curation is the composition a real corpus pipeline runs, built
  * from the engine's own operators so the whole chain stays one
  * declarative Catalyst plan:
  *
  *   quality gate → language gate → exact dedup → near-dup removal
  *
  * Scale shape: the two gates are pure per-row filters (no shuffle,
  * evaluated at the scan); exact dedup is one hash shuffle; near-dup
  * removal runs MinHash-banded candidate generation (constant-size
  * signatures — the [[graft.dedup.Dedup.minhashLsh]] scale path, NOT
  * the raw shingle self-join) over only the gate+exact survivors,
  * then anti-joins the verified losers out. Nothing widens: every
  * stage only drops rows, so the 100 TB input funnels monotonically,
  * and each stage's input is the previous stage's (smaller) output.
  * Gate criteria mirror [[graft.text.TextAnalysis]] semantics.
  */
object TrainingData {

  private val MIN_WORDS = 20
  private val MAX_PUNCT_RATIO = 0.1

  /** Surviving doc_ids with their stats after the four stages. The
    * near-dup stage keeps each pair's lower doc_id (doc_a), dropping
    * doc_b — the same keep-min policy as exact dedup. */
  def curate(spark: SparkSession, dir: String): DataFrame = {
    val docs = graft.sources.Tables.documents(spark, dir)
    val scored = docs
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("punct_ratio",
        round(regexp_count(col("text"), lit("[^a-z0-9 ]")).cast("double") / length(col("text")), 4))
      .withColumn("s_en", expr("size(filter(words, w -> w IN ('the','a','is','and','of')))").cast("long"))
      .withColumn("s_other", greatest(
        expr("size(filter(words, w -> w IN ('der','die','und','das','ist')))").cast("long"),
        expr("size(filter(words, w -> w IN ('el','los','las','es','una')))").cast("long"),
        expr("size(filter(words, w -> w IN ('le','les','une','est','et')))").cast("long")))
    val gated = scored
      .filter(col("n_words") >= MIN_WORDS && col("punct_ratio") <= MAX_PUNCT_RATIO)
      .filter(col("s_en") >= col("s_other"))
      .select(col("doc_id"), col("text"), col("n_words"), col("punct_ratio"))
    // exact dedup as ONE min_by aggregation (keep the min-doc_id row
    // per text hash): a min+semi-join spelling would re-scan the
    // documents and re-evaluate the gate regexes once per branch and
    // add a join shuffle; this shuffles the gated rows once
    // survivors feed both the shingle/minhash pipeline and the final
    // anti-join but are deliberately NOT persisted: an A/B at sf0.1
    // measured the persist ~30% slower end-to-end — the frame carries
    // full text (large to store) while its recompute shares the
    // min_by exchange, so storing buys little and costs a full
    // materialization
    val survivors = gated
      .groupBy(md5(col("text")).as("h"))
      .agg(min_by(
        struct(col("doc_id"), col("text"), col("n_words"), col("punct_ratio")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"),
        col("r.n_words").as("n_words"), col("r.punct_ratio").as("punct_ratio"))
    // near-dup losers (higher doc_id of each Jaccard>=0.5 pair) leave;
    // candidates come from MinHash band buckets over survivors only
    val losers = Dedup.minhashPairs(survivors.select(col("doc_id"), col("text")))
      .select(col("doc_b").as("doc_id")).distinct()
    survivors
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_words"), col("punct_ratio"))
  }

  val curateQuery: GQuery = GQuery(
    "pipeline_curate",
    (s, dir) => curate(s, dir),
    Some(s"""
      WITH scored AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n_words,
               round(CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / length(text), 4) AS punct_ratio,
               len(list_filter(string_split(text, ' '), w -> w IN ('the','a','is','and','of'))) AS s_en,
               greatest(
                 len(list_filter(string_split(text, ' '), w -> w IN ('der','die','und','das','ist'))),
                 len(list_filter(string_split(text, ' '), w -> w IN ('el','los','las','es','una'))),
                 len(list_filter(string_split(text, ' '), w -> w IN ('le','les','une','est','et')))) AS s_other
        FROM documents),
      gated AS (
        SELECT * FROM scored
        WHERE n_words >= $MIN_WORDS AND punct_ratio <= $MAX_PUNCT_RATIO AND s_en >= s_other),
      exact_kept AS (
        SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
      survivors AS (
        SELECT * FROM gated WHERE doc_id IN (SELECT doc_id FROM exact_kept)),
      ${Dedup.shinglesSqlFrom("survivors")},
      ${Dedup.minhashCandSql},
      ${Dedup.verifySql},
      losers AS (SELECT DISTINCT doc_b AS doc_id FROM pairs)
      SELECT doc_id, n_words, punct_ratio
      FROM survivors
      WHERE doc_id NOT IN (SELECT doc_id FROM losers)"""),
    tags = Set("pipeline"))

  // ------------------------------------------------- decontamination

  /** N-gram width for benchmark decontamination. 5 consecutive words
    * is long enough that chance collisions are negligible on natural
    * text while still catching paraphrase-free leakage (the same
    * rationale as the 8-13-gram windows used by published pipelines;
    * this corpus's short word-soup docs need the lower end). */
  private[graft] val DECON_N = 5

  /** The source whose documents act as the held-out evaluation
    * benchmark. Deterministic designation so the DuckDB oracle
    * replays the exact split. */
  private[graft] val BENCH_SOURCE = "src0"

  /** Benchmark decontamination: for every training document (source ≠
    * [[BENCH_SOURCE]]), count distinct [[DECON_N]]-word-grams it
    * shares with ANY benchmark document, and flag docs with at least
    * one hit. This is the standard eval-leakage scan a training
    * pipeline runs before a corpus ships; zero-hit docs are emitted
    * too (n_hits = 0) so the output is the full per-doc verdict, not
    * just the offenders.
    *
    * Scale shape: the benchmark side is reduced to DISTINCT grams
    * before the join, so every join key has multiplicity 1 on the
    * build side — a corpus-wide stop-phrase fans out to its training
    * occurrences (≤1 per doc via array_distinct) and never to a cross
    * product; output ≤ left input, which is exactly the shape AQE's
    * skew split can rebalance. Counting is a map-side-combinable
    * groupBy(doc_id); attaching zero-hit docs is a left join on
    * doc_id (unique on both sides). At 100 TB the benchmark gram set
    * shuffles rather than broadcasts — same plan, no driver state. */
  /** Distinct [[DECON_N]]-word-grams per doc of an arbitrary
    * (doc_id, text) relation. */
  private[graft] def decontGrams(df: DataFrame): DataFrame = df
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .filter(size(col("w")) >= DECON_N)
    .select(col("doc_id"), explode(array_distinct(expr(
      s"transform(sequence(0, size(w) - $DECON_N), i -> concat_ws(' ', slice(w, i + 1, $DECON_N)))")))
      .as("g"))

  /** Per-training-doc contamination verdict given explicit train /
    * benchmark relations — the operator body of [[decontaminate]]. */
  private[graft] def decontaminateAgainst(train: DataFrame, bench: DataFrame): DataFrame = {
    val benchGrams = decontGrams(bench).select(col("g")).distinct()
    val hits = decontGrams(train)
      .join(benchGrams, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    train.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("n_hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  val decontaminate: GQuery = GQuery(
    "pipeline_decontaminate",
    (s, dir) => {
      val docs = graft.sources.Tables.documents(s, dir)
      decontaminateAgainst(
        docs.filter(col("source") =!= BENCH_SOURCE),
        docs.filter(col("source") === BENCH_SOURCE))
    },
    Some(s"""
      WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
      g AS (SELECT DISTINCT doc_id, source, array_to_string(w[i:i + ${DECON_N - 1}], ' ') AS g
            FROM toks, unnest(generate_series(1, len(w) - ${DECON_N - 1})) AS t(i)
            WHERE len(w) >= $DECON_N),
      bg AS (SELECT DISTINCT g FROM g WHERE source = '$BENCH_SOURCE'),
      hits AS (SELECT g.doc_id, count(*) AS hits
               FROM g JOIN bg USING (g) WHERE g.source <> '$BENCH_SOURCE'
               GROUP BY 1)
      SELECT d.doc_id,
             CAST(coalesce(h.hits, 0) AS BIGINT) AS n_hits,
             coalesce(h.hits, 0) > 0 AS contaminated
      FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
      WHERE d.source <> '$BENCH_SOURCE'"""),
    tags = Set("pipeline"))

  // ------------------------------------------------ stratified sampling

  /** Per-language keep rates in permille for [[sampleStratified]] —
    * the data-mixture knob (upsample-by-exclusion: head language
    * capped at 50%, mid-resource kept at 25%, tail at 12.5%). Langs
    * not listed fall back to [[DEFAULT_PERMILLE]]. */
  private[graft] val SAMPLE_RATES: Seq[(String, Int)] =
    Seq("en" -> 500, "de" -> 250, "fr" -> 250, "es" -> 125, "zh" -> 125)
  private[graft] val DEFAULT_PERMILLE = 100

  /** Deterministic stratified sampling for data mixing: keep a
    * document iff a uniform hash bucket of its doc_id falls below its
    * language's permille rate. Hash-based (md5 of the id, 24 bits →
    * mod 1000) rather than RNG-based, so the sample is reproducible
    * run-to-run, stable under partitioning changes, and replayable by
    * the SQL oracle — the properties that make a 100 TB sample
    * auditable. The rate lookup is a compiled-in when-chain (no join,
    * no broadcast) and the whole operator is a per-row filter at the
    * scan: zero shuffles, trivially linear. */
  val sampleStratified: GQuery = GQuery(
    "pipeline_sample_stratified",
    (s, dir) => {
      val rate = SAMPLE_RATES.foldLeft(lit(DEFAULT_PERMILLE)) {
        case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
      }
      graft.sources.Tables.documents(s, dir)
        .withColumn("bucket",
          pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10).cast("long"),
            lit(1000L)))
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("lang"), col("bucket"))
    },
    Some(s"""
      SELECT doc_id, lang, bucket FROM (
        SELECT doc_id, lang,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 1000 AS bucket,
               CASE ${SAMPLE_RATES.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }.mkString(" ")}
                    ELSE $DEFAULT_PERMILLE END AS permille
        FROM documents)
      WHERE bucket < permille"""),
    tags = Set("pipeline"))

  /** Domain-mixture sampling — hit TARGET per-source proportions, the
    * knob a training-data pipeline turns constantly (up-weight books,
    * down-weight boilerplate web). Target weight per source is a small
    * integer (here derived from the source's numeric suffix, w ∈
    * {1,2,3} — a stand-in for the mixture config a run would ship),
    * normalized so the max-weight smallest source keeps everything
    * and no source is over-drawn: source s keeps
    * min(1, (w_s/W_MAX) · min_n/n_s) of its docs, so kept sizes are
    * proportional to w_s. Membership is the same md5-permille coin as
    * [[sampleStratified]], and the accept test is INTEGER-exact —
    * `bucket · n_s · W_MAX < 1000 · w_s · min_n` (never a float
    * rate) — so both engines keep exactly the same rows and the cap
    * case falls out of the same inequality (on a uniform corpus the
    * rule reduces to bucket·W_MAX < 1000·w: keep w/W_MAX of each
    * source). Cost: one 20-row count aggregate broadcast
    * back over a scan-level filter; the sample itself never shuffles.
    * The broadcast of the 1-row min is the same scalar-subquery
    * spelling as q11/q22 (BNL against one row — allowed in PlanSpec). */
  /** Largest mixture weight — the normalizer that makes the top-weight
    * anchor source keep 100%. */
  private[graft] val W_MAX = 3

  val domainMix: GQuery = GQuery(
    "pipeline_domain_mix",
    (s, dir) => {
      val docs = graft.sources.Tables.documents(s, dir)
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      val minN = counts.agg(min(col("n_src")).as("min_n"))
      docs
        .withColumn("bucket",
          pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10).cast("long"),
            lit(1000L)))
        .withColumn("w", pmod(expr("CAST(substring(source, 4) AS BIGINT)"), lit(3)) + 1)
        .join(broadcast(counts), Seq("source"))
        .crossJoin(broadcast(minN))
        .filter(col("bucket") * col("n_src") * lit(W_MAX) <
          lit(1000L) * col("w") * col("min_n"))
        .select(col("doc_id"), col("source"), col("bucket"))
    },
    Some(s"""
      WITH counts AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
      m AS (SELECT min(n_src) AS min_n FROM counts)
      SELECT doc_id, source, bucket FROM (
        SELECT d.doc_id, d.source,
               ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT % 1000 AS bucket,
               (CAST(substr(d.source, 4) AS BIGINT) % 3) + 1 AS w,
               c.n_src, m.min_n
        FROM documents d JOIN counts c USING (source), m)
      WHERE bucket * n_src * $W_MAX < 1000 * w * min_n"""),
    tags = Set("pipeline"))

  // ------------------------------------------------- sequence packing

  /** Token budget per training pack: consecutive documents fill a pack
    * until the running token count crosses this boundary. */
  private[graft] val PACK_BUDGET = 1024L

  /** Documents per packing shard. Packing needs an ordered running
    * sum; partitioning that window by (source, doc_id DIV
    * [[PACK_SHARD_DOCS]]) bounds every window to a fixed document
    * count, so window parallelism GROWS with the corpus instead of
    * being capped at the number of sources — the difference between a
    * plan that packs 100 TB and one that funnels it through a handful
    * of window partitions. */
  private[graft] val PACK_SHARD_DOCS = 10000L

  /** Training-sequence packing: assign every document to a pack
    * (training batch) by streaming-fill — within each (source, shard),
    * walk docs in doc_id order accumulating whitespace-token counts
    * and start a new pack each time the running sum crosses a
    * [[PACK_BUDGET]] boundary (pack = exclusive-prefix-sum DIV
    * budget, the classic contiguous-fill rule). Deterministic — no
    * RNG, no partition-order dependence — so the pack layout is
    * reproducible and the DuckDB oracle replays it exactly.
    * `pack_id` is globally unique: src_rank × 10¹² + shard × 10⁶ +
    * local pack, where src_rank is the dense rank of the doc's source
    * over the corpus's distinct sources (a tiny dim computed once and
    * broadcast back — sources interleave within every shard, so an id
    * omitting the source would collide ~|sources| ways per shard).
    * Unique by construction while shards stay < 10⁶ per source
    * (doc_id < 10¹⁰) and each (source, shard) yields < 10⁶ packs —
    * both implied by [[PACK_SHARD_DOCS]] bounding a shard to 10⁴
    * docs. */
  /** Pack assignment over an arbitrary (doc_id, source, text)
    * relation — the operator body of [[packSequences]]. */
  private[graft] def packOf(docs: DataFrame): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val t = docs.select(
        col("doc_id"), col("source"),
        expr(s"doc_id DIV $PACK_SHARD_DOCS").as("shard"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      // src_rank: dense rank of the distinct sources — the single-
      // partition window is over the deduped source dim (|sources|
      // rows), never the corpus, and joins back as a broadcast
      val srcRank = docs.select(col("source")).distinct()
        .withColumn("src_rank",
          (dense_rank().over(Window.orderBy(col("source"))) - 1).cast("long"))
      val w = Window.partitionBy(col("source"), col("shard"))
        .orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t.join(broadcast(srcRank), Seq("source"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .select(col("doc_id"), col("source"), col("shard"), col("n_tokens"),
          (col("src_rank") * 1000000000000L + col("shard") * 1000000L +
            expr(s"(cum - n_tokens) DIV $PACK_BUDGET")).as("pack_id"))
  }

  val packSequences: GQuery = GQuery(
    "pipeline_pack_sequences",
    (s, dir) => packOf(graft.sources.Tables.documents(s, dir)),
    Some(s"""
      WITH t AS (SELECT doc_id, source,
                        doc_id // $PACK_SHARD_DOCS AS shard,
                        len(string_split(text, ' ')) AS n_tokens
                 FROM documents),
      r AS (SELECT source, CAST(dense_rank() OVER (ORDER BY source) - 1 AS BIGINT) AS src_rank
            FROM (SELECT DISTINCT source FROM documents) s),
      c AS (SELECT t.*, r.src_rank,
                   sum(n_tokens) OVER (PARTITION BY t.source, shard
                                       ORDER BY doc_id) AS cum
            FROM t JOIN r ON t.source = r.source)
      SELECT doc_id, source, CAST(shard AS BIGINT) AS shard,
             CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(src_rank * 1000000000000 + shard * 1000000
                  + (cum - n_tokens) // $PACK_BUDGET AS BIGINT) AS pack_id
      FROM c"""),
    tags = Set("pipeline"))

  // ------------------------------------------------ global shuffle/shard

  /** Documents per shuffle shard — bounds every within-shard ordering
    * window to a fixed document count so window parallelism grows
    * with the corpus (same discipline as [[PACK_SHARD_DOCS]]). */
  private[graft] val SHUFFLE_SHARD_DOCS = 100L

  /** Deterministic global training shuffle + shard assignment — the
    * "randomize example order, write N shard files" step every
    * training run needs, WITHOUT a total-order sort: shard =
    * md5(doc_id) mod n_shards (a hash partition, embarrassingly
    * parallel), position within the shard = rank by the same 56-bit
    * hash key (a per-shard window whose partition is bounded to
    * ~[[SHUFFLE_SHARD_DOCS]] docs in expectation because n_shards
    * scales with the corpus count). Hash-keyed rather than RNG so the
    * shuffle is reproducible run-to-run and auditable — rerunning at
    * 100 TB yields byte-identical shards. The corpus count is a 1-row
    * aggregate broadcast back (the q11/q22 scalar-subquery spelling);
    * nothing else shuffles except the shard exchange itself. */
  val shuffleShard: GQuery = GQuery(
    "pipeline_shuffle_shard",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = graft.sources.Tables.documents(s, dir)
      val n = docs.agg(count(lit(1)).as("n"))
      docs
        .withColumn("skey",
          conv(substring(md5(col("doc_id").cast("string")), 1, 14), 16, 10).cast("long"))
        .crossJoin(broadcast(n))
        .withColumn("shard",
          pmod(col("skey"), expr(s"(n + ${SHUFFLE_SHARD_DOCS - 1}) DIV $SHUFFLE_SHARD_DOCS")))
        .withColumn("pos",
          row_number().over(Window.partitionBy(col("shard"))
            .orderBy(col("skey"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
    },
    Some(s"""
      WITH n AS (SELECT count(*) AS n FROM documents),
      k AS (SELECT doc_id,
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 14))::BIGINT AS skey,
                   CAST((n.n + ${SHUFFLE_SHARD_DOCS - 1}) // $SHUFFLE_SHARD_DOCS AS BIGINT) AS n_shards
            FROM documents, n)
      SELECT doc_id, skey % n_shards AS shard,
             CAST(row_number() OVER (PARTITION BY skey % n_shards
                                     ORDER BY skey, doc_id) AS BIGINT) AS pos
      FROM k"""),
    tags = Set("pipeline"))

  // ------------------------------------------------ leak-proof split

  /** Train permille for [[splitLeakproof]] — 90/10. */
  private[graft] val TRAIN_PERMILLE = 900

  /** Leak-proof train/validation split: the routing coin is a hash of
    * the CONTENT (md5 of the text), not of the doc_id — so byte-equal
    * duplicates land on the same side by construction and a val
    * example can never be an exact copy of a train example, no matter
    * how the dedup stages upstream were configured. (Near-dups are the
    * decontamination scan's job — [[decontaminate]]; this guard is the
    * cheap invariant every split should carry.) Deterministic,
    * map-only, zero shuffle; PipelineSpec plants cross-split exact
    * dups and asserts they co-route. */
  /** The split over an arbitrary (doc_id, lang, text) relation — the
    * operator body of [[splitLeakproof]]. */
  private[graft] def splitOf(docs: DataFrame): DataFrame = docs
    .withColumn("cbucket",
      pmod(conv(substring(md5(col("text")), 1, 6), 16, 10).cast("long"), lit(1000L)))
    .select(col("doc_id"), col("lang"), col("cbucket"),
      when(col("cbucket") < TRAIN_PERMILLE, "train").otherwise("val").as("split"))

  val splitLeakproof: GQuery = GQuery(
    "pipeline_split_leakproof",
    (s, dir) => splitOf(graft.sources.Tables.documents(s, dir)),
    Some(s"""
      SELECT doc_id, lang, cbucket,
             CASE WHEN cbucket < $TRAIN_PERMILLE THEN 'train' ELSE 'val' END AS split
      FROM (SELECT doc_id, lang,
                   ('0x' || substr(md5(text), 1, 6))::BIGINT % 1000 AS cbucket
            FROM documents)"""),
    tags = Set("pipeline"))

  /** Cluster-aware train/val split — [[splitLeakproof]]'s stronger
    * sibling: the routing key is the doc's NEAR-DUP CLUSTER id (the
    * `dedup_components` label — connected components of the simhash
    * near-dup graph), hashed to a permille coin. Byte-equal dups,
    * near-dups, and transitive chains of near-dups all share a
    * component, so none of them can straddle the split — the guard a
    * careful pipeline actually wants, since a paraphrase-level copy in
    * val leaks almost as much as a byte copy. Cost is the components
    * computation itself (the engine's priciest key) plus one map; the
    * DuckDB oracle replays the whole chain — signatures, banding,
    * hamming verify, recursive closure — then the same coin. */
  val splitCluster: GQuery = GQuery(
    "pipeline_split_cluster",
    (s, dir) => Dedup.componentsFrame(s, dir)
      .withColumn("cbucket",
        pmod(conv(substring(md5(col("component").cast("string")), 1, 6), 16, 10).cast("long"),
          lit(1000L)))
      .select(col("doc_id"), col("component"),
        when(col("cbucket") < TRAIN_PERMILLE, "train").otherwise("val").as("split")),
    Some(s"""
      ${Dedup.componentsOracleChain},
      comp AS (SELECT doc AS doc_id, min(lab) AS component FROM reach GROUP BY doc)
      SELECT doc_id, component,
             CASE WHEN ('0x' || substr(md5(component::VARCHAR), 1, 6))::BIGINT % 1000
                       < $TRAIN_PERMILLE
                  THEN 'train' ELSE 'val' END AS split
      FROM comp"""),
    tags = Set("pipeline"))

  // ------------------------------------------------ token-budget mixing

  /** Epoch cap for [[tokenMix]] — no source repeats more than this
    * many times (the standard guard against tiny-source overfitting). */
  private[graft] val MAX_EPOCHS = 4L

  /** Token-budget domain mixing by REPETITION (the up-sampling dual of
    * [[domainMix]]'s down-sampling): each source s with mixture weight
    * w_s (same {1,2,3} stand-in config as domainMix) should contribute
    * ~w_s/Σw of the training token stream, so its documents repeat for
    * epochs_s = clamp(1, [[MAX_EPOCHS]], ⌊(w_s·T) / (Σw·tok_s)⌋)
    * epochs — integer-exact, where T is total corpus tokens and tok_s
    * the source's tokens; under-weight sources repeat, the anchor
    * sources run once. Emits the materialized repeat stream (doc_id,
    * source, epoch) a sequence-packer would consume. Cost: one
    * per-source token aggregate (map-side combined) + a 1-row total,
    * both broadcast back over the scan; the explode multiplies rows by
    * ≤ [[MAX_EPOCHS]] — bounded amplification, no shuffle of the
    * corpus itself. */
  /** The repeat stream over an arbitrary (doc_id, source, text)
    * relation with an arbitrary per-source weight column expression —
    * the operator body of [[tokenMix]]. */
  private[graft] def tokenMixOf(docs0: DataFrame, weight: org.apache.spark.sql.Column): DataFrame = {
    val docs = docs0.withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
    val src = docs.groupBy(col("source")).agg(sum(col("n_tokens")).as("src_tokens"))
      .withColumn("w", weight)
    val tot = src.agg(sum(col("src_tokens")).as("tot_tokens"), sum(col("w")).as("tot_w"))
    val plan = src.crossJoin(broadcast(tot))
      .withColumn("epochs",
        greatest(lit(1L), least(lit(MAX_EPOCHS),
          expr("(w * tot_tokens) DIV (tot_w * src_tokens)"))))
      .select(col("source"), col("epochs"))
    docs.join(broadcast(plan), Seq("source"))
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(1L, epochs)")).as("epoch"))
  }

  val tokenMix: GQuery = GQuery(
    "pipeline_token_mix",
    (s, dir) => tokenMixOf(
      graft.sources.Tables.documents(s, dir),
      pmod(expr("CAST(substring(source, 4) AS BIGINT)"), lit(3)) + 1),
    Some(s"""
      WITH d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
                 FROM documents),
      src AS (SELECT source, sum(n_tokens) AS src_tokens,
                     (CAST(substr(source, 4) AS BIGINT) % 3) + 1 AS w
              FROM d GROUP BY source),
      tot AS (SELECT sum(src_tokens) AS tot_tokens, sum(w) AS tot_w FROM src),
      plan AS (SELECT source,
                      CAST(greatest(1, least($MAX_EPOCHS,
                        (w * tot_tokens) // (tot_w * src_tokens))) AS BIGINT) AS epochs
               FROM src, tot)
      SELECT d.doc_id, d.source, CAST(t.e AS BIGINT) AS epoch
      FROM d JOIN plan USING (source), unnest(generate_series(1, plan.epochs)) AS t(e)"""),
    tags = Set("pipeline"))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    * every document with the corpus bigram LM
    * ([[graft.text.TextAnalysis.lmScoreFrom]] — integer-exact
    * bit-length surprisal), then cut each LANGUAGE into equal-size
    * head/middle/tail terciles by pseudo-perplexity — the standard
    * keep-head/-middle, drop-tail quality partition for web corpora.
    * `ntile(3)` runs per-language over the per-doc score frame (one
    * row per doc, ≪ the occurrence stream) with doc_id tiebreak, so
    * the cut is deterministic in both engines. Docs with <2 tokens
    * have no bigrams and carry no bucket (the lmScore contract,
    * mirrored by the oracle).
    *
    * Scale shape: scoring is the lmScore plan (two map-side-combined
    * model aggregates + a skew-safe join-back); the tercile window
    * shuffles one row per doc keyed by lang — ~20 partitions of
    * n_docs/20 rows each, each sorted locally. At a 100 TB corpus the
    * per-language sort is the only super-linear stage; CCNet itself
    * shards this by (lang, hash-bucket) and takes per-shard quantiles
    * — the same relaxation applies here if a single language's doc
    * count outgrows a partition. */
  val ccnetBucket: GQuery = GQuery(
    "pipeline_ccnet_bucket",
    (s, dir) => {
      val docs = graft.sources.Tables.documents(s, dir)
      val scored = graft.text.TextAnalysis.lmScoreFrom(docs)
        .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      val byLang = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("mean_bits"), col("doc_id"))
      scored
        .withColumn("bucket", ntile(3).over(byLang).cast("long"))
        .select(col("doc_id"), col("lang"), col("mean_bits"), col("bucket"),
          element_at(array(lit("head"), lit("middle"), lit("tail")),
            col("bucket").cast("int")).as("bucket_name"))
    },
    Some("""
      WITH ws AS (SELECT doc_id, list_filter(string_split(text, ' '), w -> length(w) > 0) AS w
                  FROM documents),
      occ AS (SELECT doc_id,
                     unnest(w[1:len(w) - 1]) AS w1,
                     unnest(w[2:len(w)]) AS w2
              FROM ws WHERE len(w) >= 2),
      ctx AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY 1),
      big AS (SELECT w1, w2, count(*) AS c2 FROM occ GROUP BY 1, 2),
      sc AS (SELECT doc_id, round(avg(length(printf('%b', c1)) - length(printf('%b', c2))), 4) AS mean_bits
             FROM occ JOIN ctx USING (w1) JOIN big USING (w1, w2) GROUP BY 1),
      ranked AS (SELECT s.doc_id, d.lang, s.mean_bits,
                        ntile(3) OVER (PARTITION BY d.lang
                                       ORDER BY s.mean_bits, s.doc_id) AS bucket
                 FROM sc s JOIN documents d USING (doc_id))
      SELECT doc_id, lang, mean_bits, CAST(bucket AS BIGINT) AS bucket,
             CASE bucket WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket_name
      FROM ranked"""),
    tags = Set("pipeline"))

  /** Exact-count per-group sampling: EXACTLY min(n, |group|) docs per
    * source, selected by md5(doc_id) rank — the complement of
    * [[sampleStratified]]'s permille RATE sampling for when the
    * contract is a count ("100 eval docs per source"), not a
    * proportion. The hash order makes the pick uniform-without-an-RNG
    * and reproducible; the rank window partitions by source, so
    * parallelism is the source count and each partition sorts only
    * its own group (at 100 TB with huge groups: pre-filter by a hash
    * permille ceiling ≥ n/|group| first, then rank the survivors —
    * same result, window input shrunk to ~n per group). */
  val sampleFixedN: GQuery = {
    val n = 20
    GQuery(
      "pipeline_sample_fixed_n",
      (s, dir) => {
        val byHash = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        graft.sources.Tables.documents(s, dir)
          .select(col("doc_id"), col("source"),
            row_number().over(byHash).cast("long").as("rn"))
          .filter(col("rn") <= n)
      },
      Some(s"""
        WITH r AS (SELECT doc_id, source,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
                   FROM documents)
        SELECT doc_id, source, CAST(rn AS BIGINT) AS rn FROM r WHERE rn <= $n"""),
      tags = Set("pipeline"))
  }

  /** Deterministic source interleaving: a total training order where
    * consecutive positions cycle through the sources round-robin —
    * global_pos = (hash-rank within source − 1) × n_sources +
    * source_index. A reader consuming by global_pos sees sources
    * interleaved at document granularity (the curriculum property
    * homogeneous-shard layouts lose) with NO global sort: one rank
    * window per source plus integer math, injective by construction.
    * Scale: identical to [[shuffleShard]]'s window posture — the
    * per-source rank is the only shuffle, and the 100 TB variant
    * bounds window size by sub-sharding the rank key exactly as
    * shuffle_shard does. */
  val interleave: GQuery = GQuery(
    "pipeline_interleave",
    (s, dir) => {
      val byHash = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      graft.sources.Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          substring(col("source"), 4, 10).cast("long").as("src_idx"),
          row_number().over(byHash).cast("long").as("pos"))
        .select(col("doc_id"), col("source"),
          ((col("pos") - 1) * lit(20L) + col("src_idx")).as("global_pos"))
    },
    Some("""
      WITH r AS (SELECT doc_id, source,
                        CAST(substr(source, 4) AS BIGINT) AS src_idx,
                        row_number() OVER (PARTITION BY source
                                           ORDER BY md5(doc_id::VARCHAR), doc_id) AS pos
                 FROM documents)
      SELECT doc_id, source, CAST((pos - 1) * 20 + src_idx AS BIGINT) AS global_pos
      FROM r"""),
    tags = Set("pipeline"))

  /** Corpus data card: the per-source summary a dataset ships with —
    * doc and token totals, character volume, language mix
    * (integer-exact en-permille + distinct-language count). One
    * map-side-combined aggregate over a per-row token count; the
    * whole card is 20 rows. The operational role: this is the
    * before/after scan every curation stage ([[curateQuery]],
    * [[domainMix]]) is audited against, so it ships as a first-class
    * key, not a notebook query. */
  val dataCard: GQuery = GQuery(
    "pipeline_data_card",
    (s, dir) =>
      graft.sources.Tables.documents(s, dir)
        .select(col("source"), col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          size(expr("filter(split(text, ' '), w -> length(w) > 0)"))
            .cast("long").as("n_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          sum(col("n_chars")).as("total_chars"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("en_docs"),
          countDistinct(col("lang")).as("n_langs"))
        .withColumn("en_permille", expr("(en_docs * 1000) DIV n_docs"))
        .drop("en_docs"),
    Some("""
      WITH toks AS (SELECT doc_id, source, lang, n_chars,
                           len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS n_tokens
                    FROM documents)
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST((count(*) FILTER (WHERE lang = 'en')) * 1000 // count(*) AS BIGINT) AS en_permille
      FROM toks GROUP BY 1"""),
    tags = Set("pipeline"))

  /** Quality-weighted sampling: each doc's keep probability scales
    * with a per-row quality proxy (here: length — permille =
    * clamp(n_chars, 100, 900), the shape a real pipeline feeds from
    * a quality model's score), decided by the SAME md5-permille coin
    * as [[sampleStratified]]. Up-weights good docs without a sort, a
    * shuffle, or a global pass: the plan is a scan-level filter, so
    * at 100 TB the sample is one map stage. Deterministic — rerunning
    * keeps exactly the same rows (the coin is the doc id, the rate is
    * the row itself). */
  val sampleWeighted: GQuery = GQuery(
    "pipeline_sample_weighted",
    (s, dir) =>
      graft.sources.Tables.documents(s, dir)
        .withColumn("permille",
          least(lit(900L), greatest(lit(100L), col("n_chars").cast("long"))))
        .withColumn("bucket",
          pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10).cast("long"),
            lit(1000L)))
        .filter(col("bucket") < col("permille"))
        .select(col("doc_id"), col("n_chars"), col("permille"), col("bucket")),
    Some("""
      SELECT doc_id, n_chars, permille, bucket FROM (
        SELECT doc_id, n_chars,
               least(900, greatest(100, n_chars)) AS permille,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 1000 AS bucket
        FROM documents)
      WHERE bucket < permille"""),
    tags = Set("pipeline"))

  /** Curriculum assignment: stage docs easy→hard for staged training.
    * Difficulty is a per-row proxy (length), cut by FIXED thresholds
    * (256/384/448 chars → stages 1-4) — thresholds, not ntile,
    * because a global quantile sort is exactly what a 100 TB
    * curriculum pass cannot afford (contrast [[graft.operators
    * .Behavior.rfmSegments]], which documents the same trade). Within
    * a stage, the read order is a deterministic shuffle: shard =
    * md5 mod 16, ordinal = row_number per (stage, shard) by the md5
    * key — parallelism is stages × shards, each partition sorting
    * only its slice. */
  val curriculum: GQuery = GQuery(
    "pipeline_curriculum",
    (s, dir) => {
      val staged = graft.sources.Tables.documents(s, dir)
        .withColumn("stage",
          when(col("n_chars") < 256, 1L).when(col("n_chars") < 384, 2L)
            .when(col("n_chars") < 448, 3L).otherwise(4L))
        .withColumn("skey", md5(col("doc_id").cast("string")))
        .withColumn("shard",
          pmod(conv(substring(col("skey"), 1, 6), 16, 10).cast("long"), lit(16L)))
      staged
        .withColumn("ord", row_number().over(
          Window.partitionBy(col("stage"), col("shard"))
            .orderBy(col("skey"), col("doc_id"))).cast("long"))
        .select(col("doc_id"), col("stage"), col("shard"), col("ord"))
    },
    Some("""
      WITH staged AS (
        SELECT doc_id,
               CASE WHEN n_chars < 256 THEN 1 WHEN n_chars < 384 THEN 2
                    WHEN n_chars < 448 THEN 3 ELSE 4 END AS stage,
               md5(doc_id::VARCHAR) AS skey,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 16 AS shard
        FROM documents)
      SELECT doc_id, CAST(stage AS BIGINT) AS stage, shard,
             CAST(row_number() OVER (PARTITION BY stage, shard ORDER BY skey, doc_id)
               AS BIGINT) AS ord
      FROM staged"""),
    tags = Set("pipeline"))

  /** Dataset snapshot diff — the corpus-versioning audit (what changed
    * between yesterday's crawl and today's?): full outer join of two
    * snapshots on doc_id comparing CONTENT hashes, each doc classified
    * added / removed / changed / unchanged, emitted as the per-status
    * census. The "previous" snapshot is derived in-query as a
    * deterministic stand-in for reading a second snapshot directory
    * (a production call passes two real roots): ~10% of current docs
    * are absent from it (→ added), docs on a second coin carry a
    * stale content hash (→ changed), and a third coin contributes
    * retired synthetic ids (→ removed). One join keyed on doc_id;
    * hashes computed scan-side so the join carries 32-byte digests,
    * never text. */
  val datasetDiff: GQuery = GQuery(
    "pipeline_dataset_diff",
    (s, dir) => {
      val b = graft.sources.Tables.documents(s, dir)
        .withColumn("bucket",
          pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10).cast("long"),
            lit(1000L)))
        .select(col("doc_id"), col("bucket"), md5(col("text")).as("h"))
      val prevLive = b.filter(pmod(col("bucket"), lit(10L)) =!= 0)
        .select(col("doc_id"),
          when(pmod(col("bucket"), lit(7L)) === 0, md5(concat(col("h"), lit("_v0"))))
            .otherwise(col("h")).as("old_h"))
      val prevRetired = b.filter(pmod(col("bucket"), lit(13L)) === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("h").as("old_h"))
      val prev = prevLive.unionByName(prevRetired)
      b.select(col("doc_id"), col("h"))
        .join(prev, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("old_h").isNull, "added")
            .when(col("h").isNull, "removed")
            .when(col("h") =!= col("old_h"), "changed")
            .otherwise("unchanged"))
        .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
    },
    Some("""
      WITH b AS (
        SELECT doc_id,
               ('0x' || substr(md5(doc_id::VARCHAR), 1, 6))::BIGINT % 1000 AS bucket,
               md5(text) AS h
        FROM documents),
      prev AS (
        SELECT doc_id,
               CASE WHEN bucket % 7 = 0 THEN md5(h || '_v0') ELSE h END AS old_h
        FROM b WHERE bucket % 10 <> 0
        UNION ALL
        SELECT -doc_id - 1, h FROM b WHERE bucket % 13 = 0),
      d AS (
        SELECT CASE WHEN p.old_h IS NULL THEN 'added'
                    WHEN c.h IS NULL THEN 'removed'
                    WHEN c.h <> p.old_h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM b c FULL OUTER JOIN prev p USING (doc_id))
      SELECT status, count(*) AS n_docs FROM d GROUP BY 1"""),
    tags = Set("pipeline"))

  /** SUBSTRING-level duplication audit (the ExactSubstr idea behind
    * "Deduplicating Training Data Makes Language Models Better":
    * repeated PASSAGES across documents matter even when no whole doc
    * or paragraph is a dup — [[graft.dedup.Dedup]]'s doc/paragraph
    * keys can't see them). Every 8-word rolling window is keyed by
    * `md5` of its text (engine-identical, so the key IS the oracle
    * key; at PB scale the same plan rides `xxhash64`); a window-min
    * over the hash assigns each shingle its first-owner doc, and each
    * doc reports how many of its windows already occurred in an
    * earlier doc (`dup_permille` — the trainer's cut signal).
    * Exactly two shuffles at any corpus size: one on the shingle hash
    * (window-min), one on doc_id (the per-doc rollup) — never a
    * pairwise join, and the shingle frame is map-generated by an
    * array lambda (no posexplode self-join). Suffix arrays find
    * arbitrary-length repeats; the fixed-W rolling window is the
    * standard distributed approximation (a repeat of length ≥ W
    * always contains a repeated W-window). */
  val ngramDedup: GQuery = GQuery(
    "pipeline_ngram_dedup",
    (s, dir) => {
      val W = 8
      val sh = graft.sources.Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), explode(expr(
          s"""CASE WHEN size(t) >= $W
                   THEN transform(sequence(0, size(t) - $W),
                                  i -> md5(concat_ws(' ', slice(t, i + 1, $W))))
                   ELSE array() END""")).as("h"))
      sh.withColumn("owner", min(col("doc_id")).over(Window.partitionBy(col("h"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_windows"),
          sum(when(col("owner") < col("doc_id"), 1L).otherwise(0L))
            .as("n_dup_windows"))
        .withColumn("dup_permille", expr("1000 * n_dup_windows div n_windows"))
    },
    Some("""
      WITH toks AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
      sh AS (SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS h
             FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t)-7)) AS i) g
             WHERE len(t) >= 8),
      own AS (SELECT doc_id, h, min(doc_id) OVER (PARTITION BY h) AS owner FROM sh)
      SELECT doc_id, count(*)::BIGINT AS n_windows,
             sum((owner < doc_id)::INT)::BIGINT AS n_dup_windows,
             (1000 * sum((owner < doc_id)::INT)::BIGINT) // count(*) AS dup_permille
      FROM own GROUP BY 1"""),
    tags = Set("pipeline"))

  /** Per-group document cap WITHOUT the window sort —
    * [[sampleFixedN]]'s scale path made a first-class operator. Same
    * contract (EXACTLY min(n, |group|) docs per source, picked by
    * md5-hash rank, reproducible, RNG-free) but the plan is the
    * bounded-heap aggregate `top_k_long` (graft/functions): map-side
    * combine keeps ≤ n (hash, doc_id) pairs per (source, partition)
    * and ships ONLY those, so capping a 100 TB corpus at n-per-domain
    * costs one scan plus an n·|sources|-row merge — no window, no
    * per-group sort of the full corpus, no sub-sharding workaround.
    * Heap keeps the LARGEST hashes (ties → smaller doc_id), so the
    * oracle is the window spelling ordered hash-DESC: agreement
    * proves the heap's total order AND the sample's reproducibility.
    * The 14-hex-digit prefix is the [[shuffleShard]] idiom (fits a
    * BIGINT exactly in both engines). */
  val capPerGroup: GQuery = {
    val n = 15
    GQuery(
      "pipeline_cap_per_group",
      (s, dir) => {
        graft.functions.GraftFunctions.register(s)
        graft.sources.Tables.documents(s, dir)
          .select(col("source"), col("doc_id"),
            conv(substring(md5(col("doc_id").cast("string")), 1, 14), 16, 10)
              .cast("long").as("h"))
          .groupBy(col("source"))
          .agg(expr(s"top_k_long(h, doc_id, $n)").as("tk"))
          .select(col("source"), posexplode(col("tk")).as(Seq("i", "e")))
          .select(col("source"), (col("i") + 1).cast("long").as("rn"),
            col("e.payload").as("doc_id"), col("e.score").as("h"))
      },
      Some(s"""
        WITH r AS (SELECT source, doc_id,
                          ('0x' || substr(md5(doc_id::VARCHAR), 1, 14))::BIGINT AS h
                   FROM documents),
        rk AS (SELECT source, doc_id, h,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY h DESC, doc_id) AS rn
               FROM r)
        SELECT source, CAST(rn AS BIGINT) AS rn, doc_id, h FROM rk WHERE rn <= $n"""),
      tags = Set("pipeline"))
  }

  def all: Seq[GQuery] =
    Seq(curateQuery, decontaminate, sampleStratified, domainMix, packSequences,
      shuffleShard, splitLeakproof, splitCluster, tokenMix, ccnetBucket,
      sampleFixedN, interleave, dataCard, sampleWeighted, curriculum, datasetDiff,
      ngramDedup, capPerGroup)
}
