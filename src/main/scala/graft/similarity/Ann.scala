package graft.similarity

import graft.GQuery
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.4 approximate-nearest-neighbor search over the `embeddings`
  * table (64-dim float vectors).
  *
  * Numeric discipline: vectors are quantized to ×10000 integers, so
  * dot products and norms are EXACT integer sums (accumulation-order
  * independent); the final divide/sqrt/round on those exact inputs is
  * IEEE-deterministic, making cosine values bit-identical between
  * Spark and the DuckDB oracle. All per-element math runs in
  * codegen'd higher-order functions (`zip_with`/`aggregate`) — no
  * UDFs, no collect.
  */
object Ann {

  private val K = 5        // top-k neighbours per query
  private val N_QUERIES = 10 // query set = vec_id < 10

  private[graft] val quant: Column =
    expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))")

  /** Cosine from an integer dot product and squared norms, unrounded. */
  private[graft] def cosineRaw(dot: Column, na: Column, nb: Column): Column =
    dot.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  private[graft] def cosine(dot: Column, na: Column, nb: Column): Column =
    round(cosineRaw(dot, na, nb), 6)

  /** `name`(vec_id, e) CTE — the SQL mirror of [[quant]]. */
  private def quantSql(name: String): String =
    s"""$name AS (SELECT vec_id, list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS e
                  FROM embeddings)"""

  /** `norms`(vec_id, nn) squared-norm CTE over `qv`. */
  private val normsSql: String =
    "norms AS (SELECT vec_id, CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS nn FROM qv)"

  /** `qv` + `norms`: the prefix of every quantized-cosine oracle. */
  private[graft] val qvNormsSql: String = s"""${quantSql("qv")},
      $normsSql"""

  /** The broadcast query probe: every (query, corpus vector) pair with
    * the query set (vec_id < [[N_QUERIES]]) broadcast and self-pairs
    * excluded. Carries the quantized `qe`/`ce` vectors, the `extra`
    * corpus columns and the unrounded `cosine`. */
  private[graft] def queryProbe(emb: DataFrame, extra: Column*): DataFrame = {
    val q = emb.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), quant.as("qe"))
    val c = emb.select(col("vec_id") +: quant.as("ce") +: extra: _*)
    c.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosineRaw(expr("dot_long(qe, ce)"),
        expr("dot_long(qe, qe)"), expr("dot_long(ce, ce)")))
  }

  /** `name`(query_id, vec_id, dot) CTE over `qv` — the SQL mirror of
    * [[queryProbe]]'s pairs. */
  private def probeSql(name: String): String =
    s"""$name AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                       CAST(list_sum(list_transform(list_zip(q.e, c.e), p -> p[1] * p[2])) AS BIGINT) AS dot
                FROM qv q, qv c WHERE q.vec_id < $N_QUERIES AND c.vec_id <> q.vec_id)"""

  /** The [[K]] best (query_id, vec_id, rnk, cosine) rows per query by
    * (cosine desc, vec_id). */
  private def topK(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("vec_id"), col("rnk"), col("cosine"))
  }

  /** SQL mirror of [[topK]] over a `scored`(query_id, vec_id, cosine) CTE. */
  private val topkSql: String = s"""
      SELECT query_id, vec_id, rnk, cosine FROM (
        SELECT query_id, vec_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rnk
        FROM scored)
      WHERE rnk <= $K"""

  /** Exact quantized cosine of (query_id, vec_id) candidate pairs, both
    * sides looked up in `vecs` (vec_id, e). */
  private def scoreCandidates(cand: DataFrame, vecs: DataFrame): DataFrame = {
    val norms = vecs.select(col("vec_id"), expr("dot_long(e, e)").as("nn"))
    cand
      .join(vecs.select(col("vec_id").as("q_id"), col("e").as("qe")), col("query_id") === col("q_id")).drop("q_id")
      .join(vecs.select(col("vec_id"), col("e").as("ce")), Seq("vec_id"))
      .withColumn("dot", expr("dot_long(qe, ce)"))
      .join(norms.select(col("vec_id").as("query_id"), col("nn").as("qn")), Seq("query_id"))
      .join(norms.select(col("vec_id"), col("nn").as("cn")), Seq("vec_id"))
      .withColumn("cosine", cosine(col("dot"), col("qn"), col("cn")))
  }

  /** `dots`/`scored`(query_id, vec_id, cosine) CTEs over a `cand`
    * (query_id, vec_id) CTE — the SQL mirror of [[scoreCandidates]]. */
  private val scoreCandSql: String = s"""
      dots AS (SELECT query_id, cand.vec_id,
                      CAST(list_sum(list_transform(list_zip(qa.e, qc.e), p -> p[1] * p[2])) AS BIGINT) AS dot
               FROM cand JOIN qv qa ON query_id = qa.vec_id JOIN qv qc ON cand.vec_id = qc.vec_id),
      scored AS (SELECT query_id, dots.vec_id AS vec_id,
                        round(dot / (sqrt(nq.nn) * sqrt(nc.nn)), 6) AS cosine
                 FROM dots JOIN norms nq ON query_id = nq.vec_id
                           JOIN norms nc ON dots.vec_id = nc.vec_id)"""

  // --------------------------------------------------- brute force

  /** Brute-force cosine top-k — the exact baseline. The (small) query
    * set is broadcast against the corpus, so the plan is a broadcast
    * nested-loop over Q×N rows with the 64-dim dot product fused into
    * codegen — linear in the corpus, no shuffle of the corpus at all.
    * This IS the right plan when Q is small (the common "probe a
    * handful of queries" case); [[lshTopk]] is the path when Q×N
    * itself is too big. */
  val cosineTopk: GQuery = GQuery(
    "ann_cosine_topk",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      topK(queryProbe(Tables.embeddings(s, dir))
        .withColumn("cosine", round(col("cosine"), 6)))
    },
    Some(s"""
      WITH $qvNormsSql,
      ${probeSql("pairs")},
      scored AS (SELECT query_id, pairs.vec_id AS vec_id,
                        round(dot / (sqrt(nq.nn) * sqrt(nc.nn)), 6) AS cosine
                 FROM pairs JOIN norms nq ON query_id = nq.vec_id
                            JOIN norms nc ON pairs.vec_id = nc.vec_id)
      $topkSql"""),
    tags = Set("ann"))

  // ------------------------------------------------ hyperplane LSH

  private val HP = 32 // default: 8 bands × 4 bits (the oracle-pinned width)

  /** Random-hyperplane signs per vector → `nBands` bands of
    * `bitsPerBand` bits. Hyperplane weights are ±1 derived from
    * md5(j⧺'_'⧺d) — deterministic, no RNG state to ship. Returns
    * (vec_id, band, bkey) over a (vec_id, e: array<bigint>) relation
    * whose vec_id is a key; vectors with a null or empty `e` get no
    * bands. The signs and band keys come from the per-row
    * [[graft.functions.SignBandKeys]] kernel, so the plan is one
    * map-only projection: no ×64 explode, no hyperplane join, no
    * aggregate, no shuffle.
    *
    * `bitsPerBand` is THE scale knob for every sign-LSH blocking
    * consumer (this file's [[lshTopk]] and
    * [[graft.dedup.Dedup.embeddingPairs]]): buckets per band =
    * 2^bitsPerBand, so expected candidate volume falls geometrically
    * with width while per-pair recall falls only polynomially
    * (P[band match] = p^bits, p = 1 − θ/π per plane). Size it as
    * bitsPerBand ≈ log₂(N / target_bucket_size): 4 bits suits this
    * corpus's ~10³ vectors and moderate-cosine neighbours; a web-scale
    * corpus at a ≥0.9 threshold (p ≥ 0.86 per plane) runs 8–16 bits
    * with MORE bands to hold recall. The md5-uniform buckets keep the
    * candidate equi-join skew-free at any width. */
  private[graft] def signBands(vecs: DataFrame,
      nBands: Int = 8, bitsPerBand: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    vecs.select(col("vec_id"),
      posexplode(expr(s"sign_band_keys(e, $nBands, $bitsPerBand)")).as(Seq("band", "bkey")))
  }

  /** `bits`/`codes`/`bands` CTEs over `qv` — the SQL mirror of
    * [[signBands]] (one monolithic code long, so nBands·bitsPerBand
    * must stay ≤ 63 here). */
  private[graft] def signBandsSql(nBands: Int, bitsPerBand: Int): String = s"""
      bits AS (SELECT vec_id, j,
                      CASE WHEN sum(e[d + 1] *
                             (CASE WHEN substr(md5(j::VARCHAR || '_' || d::VARCHAR), 1, 1) < '8'
                                   THEN 1 ELSE -1 END)) >= 0 THEN 1 ELSE 0 END AS bit
               FROM qv, range(${nBands * bitsPerBand}) s(j), range(64) t(d)
               GROUP BY vec_id, j),
      codes AS (SELECT vec_id,
                       CAST(sum(CASE WHEN bit = 1 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS code
                FROM bits GROUP BY 1),
      bands AS (SELECT vec_id, b AS band, (code >> ($bitsPerBand * b)) & ${(1 << bitsPerBand) - 1} AS bkey
                FROM codes, range($nBands) r(b))"""

  /** Oracle WITH-chain through `scored` — the full LSH pipeline
    * (quantize, hyperplane signs, banding, candidate join, exact
    * cosine), shared verbatim by the top-k and range-search oracles
    * (they differ only in the final SELECT: rank vs threshold).
    * `candFilter` appends a predicate to the candidate stage — the
    * filtered-search oracle restricts candidates there, which is
    * result-identical to the Spark side's pre-filtered corpus (band
    * collision is a pairwise property of the vectors alone). */
  private def lshScoredSqlWith(candFilter: String): String = s"""
      WITH $qvNormsSql,
      ${signBandsSql(HP / 4, 4)},
      qb AS (SELECT vec_id AS query_id, band, bkey FROM bands WHERE vec_id < $N_QUERIES),
      cand AS (SELECT DISTINCT query_id, c.vec_id
               FROM qb JOIN bands c USING (band, bkey)
               WHERE c.vec_id <> query_id$candFilter),
      $scoreCandSql"""

  private val lshScoredSql: String = lshScoredSqlWith("")

  /** LSH-bucketed ANN — the scale path when both the query set and
    * the corpus are large. Both sides hash to 32 hyperplane-sign bits
    * banded 8×4; only (band, bucket)-colliding pairs are scored, so
    * the join is an equi-join on the bucket key (md5-uniform, no
    * skew) instead of Q×N. Approximate by construction vs the exact
    * baseline (AnnSpec measures recall against [[cosineTopk]]), but
    * fully deterministic: the md5-derived hyperplanes and integer
    * quantization let the DuckDB oracle replay the entire pipeline —
    * hyperplane signs, banding, candidate join, verify, top-k — so
    * the hash check covers the whole approximate algorithm, not just
    * its output shape. */
  val lshTopk: GQuery = GQuery(
    "ann_lsh_topk",
    (s, dir) => lshTopkFrom(Tables.embeddings(s, dir), s),
    Some(s"""$lshScoredSql
      $topkSql"""),
    tags = Set("ann"))

  /** Cosine threshold for [[rangeSearch]] — low for this synthetic
    * corpus (random-ish 64-dim vectors; real text embeddings cluster
    * far tighter and run τ ≥ 0.8). The τ, not the mechanism, is the
    * scale knob. */
  private[graft] val RANGE_TAU = 0.3

  /** Range search: ALL neighbours with cosine ≥ τ, not a fixed k —
    * the retrieval primitive near-dup mining and contamination sweeps
    * actually want (a query's true neighbour count is unknown a
    * priori; top-k silently truncates dense neighbourhoods and pads
    * sparse ones). Same LSH-bucketed candidate generation and exact
    * quantized-cosine verify as [[lshTopk]] (shared [[lshScored]]
    * stage), minus the per-query window: no row_number sort, so the
    * plan is join + filter only — strictly cheaper than top-k at any
    * scale — and the DuckDB oracle replays the identical WITH-chain
    * with a threshold instead of a rank. */
  val rangeSearch: GQuery = GQuery(
    "ann_range_search",
    (s, dir) => lshScored(Tables.embeddings(s, dir), s)
      .filter(col("cosine") >= RANGE_TAU),
    Some(s"""$lshScoredSql
      SELECT query_id, vec_id, cosine FROM scored WHERE cosine >= $RANGE_TAU"""),
    tags = Set("ann"))

  // ------------------------------------------------ filtered search

  /** Filtered vector search — top-k among corpus vectors satisfying a
    * metadata predicate (here: even `label`), the retrieval shape
    * every production vector store serves ("nearest docs IN this
    * collection / WITH this license"). Strategy is PRE-filter: the
    * predicate is applied to the corpus before the band index is
    * built, so the index holds only eligible vectors and the
    * candidate join never touches ineligible ones — at 100 TB this is
    * the difference between an index over the slice and post-filtering
    * a top-k that may return fewer than k survivors. Queries
    * themselves are exempt from the predicate (you search FROM any
    * vector INTO the slice). The oracle restricts the candidate stage
    * instead — result-identical, since band collision is a pairwise
    * property of the vectors — so the hash check covers the whole
    * filtered pipeline. */
  val filteredTopk: GQuery = GQuery(
    "ann_filtered_topk",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val vecs = emb.select(col("vec_id"), quant.as("e"))
      val qv = vecs.filter(col("vec_id") < N_QUERIES)
      val cvecs = emb.filter(pmod(col("label"), lit(2)) === 0)
        .select(col("vec_id"), quant.as("e"))
      val qb = signBands(qv)
        .select(col("vec_id").as("query_id"), col("band"), col("bkey"))
      val cb = signBands(cvecs)
      val cand = qb.join(cb, Seq("band", "bkey"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id")).distinct()
      topK(scoreCandidates(cand, vecs))
    },
    Some(s"""${lshScoredSqlWith(
      "\n                 AND c.vec_id IN (SELECT vec_id FROM embeddings WHERE label % 2 = 0)")}
      $topkSql"""),
    tags = Set("ann"))

  /** Shared LSH candidate-scoring stage: band both sides, equi-join on
    * (band, bucket), score every colliding pair's exact quantized
    * cosine. [[lshTopkFrom]] ranks it (top-k); [[rangeSearch]]
    * thresholds it (all neighbours ≥ τ). `bitsPerBand` widens the
    * [[signBands]] buckets (default 4 = the oracle-pinned width);
    * AnnSpec measures the superlinear candidate shrink at width 8 on
    * the same corpus. */
  private[graft] def lshScored(emb: DataFrame, s: SparkSession,
      bitsPerBand: Int = 4): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val vecs = emb.select(col("vec_id"), quant.as("e"))
    val bands = signBands(vecs, HP / 4, bitsPerBand)
    val qb = bands.filter(col("vec_id") < N_QUERIES)
      .select(col("vec_id").as("query_id"), col("band"), col("bkey"))
    val cand = qb.join(bands, Seq("band", "bkey"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct()
    scoreCandidates(cand, vecs).select(col("query_id"), col("vec_id"), col("cosine"))
  }

  private[graft] def lshTopkFrom(emb: DataFrame, s: SparkSession,
      bitsPerBand: Int = 4): DataFrame =
    topK(lshScored(emb, s, bitsPerBand))

  // ------------------------------------------------------- IVF-Flat

  private[graft] val IVF_C = 16      // coarse centroids
  private val IVF_NPROBE = 4  // probed lists per query

  // ------------------------- IVF internals, shared by the oracle key
  // ------------------------- and the balance-guarded production build

  /** Deterministic seeding: the `c` corpus vectors with smallest
    * md5(vec_id) become centroids. */
  private[graft] def ivfSeeds(vecs: DataFrame, c: Int = IVF_C): DataFrame =
    vecs.withColumn("hk", md5(col("vec_id").cast("string")))
      .orderBy(col("hk"), col("vec_id")).limit(c)
      .select(col("vec_id").as("c_id"), col("e").as("ce"))

  private[graft] def ivfWithCos(side: DataFrame, cents: DataFrame): DataFrame =
    side.crossJoin(broadcast(cents))
      .withColumn("c_cos", cosine(expr("dot_long(e, ce)"),
        expr("dot_long(e, e)"), expr("dot_long(ce, ce)")))

  /** Nearest centroid per vector: aggregate, not window — max_by over
    * (c_cos, -c_id) == rank-1 of (c_cos DESC, c_id ASC), but combines
    * map-side instead of shuffling and sorting all N×C rows. */
  private[graft] def ivfAssign(vecs: DataFrame, cents: DataFrame): DataFrame =
    ivfWithCos(vecs, cents)
      .groupBy(col("vec_id"))
      .agg(max_by(col("c_id"), struct(col("c_cos"), (-col("c_id")).as("nid"))).as("c_id"))

  /** One Lloyd step: element-wise floor-mean of each centroid's
    * members (integer-exact, so the oracle can replay it). A centroid
    * whose list went empty drops out. */
  private[graft] def ivfLloydStep(vecs: DataFrame, cents: DataFrame): DataFrame =
    ivfAssign(vecs, cents)
      .join(vecs, Seq("vec_id"))
      .select(col("c_id"), posexplode(col("e")).as(Seq("d", "v")))
      .groupBy(col("c_id"), col("d"))
      .agg(sum(col("v")).as("sv"), count(lit(1)).as("cnt"))
      .select(col("c_id"), struct(col("d"), floor(col("sv") / col("cnt")).as("m")).as("dm"))
      .groupBy(col("c_id"))
      .agg(expr("transform(array_sort(collect_list(dm)), x -> x.m)").as("ce"))

  /** `seeds` → `scored_cents`(vec_id, c_id, c_cos) CTEs over `qv` and
    * `norms`: [[ivfSeeds]], one [[ivfLloydStep]], then every vector
    * scored against the stepped centroids — the SQL mirror shared by
    * every one-step IVF oracle. */
  private[graft] val ivfLloydSql: String = s"""
      seeds AS (SELECT vec_id AS c_id, e AS ce,
                       CAST(list_sum(list_transform(e, x -> x * x)) AS BIGINT) AS cn
                FROM qv ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $IVF_C),
      seed_scored AS (
        SELECT qv.vec_id, c_id,
               round(CAST(list_sum(list_transform(list_zip(qv.e, ce), p -> p[1] * p[2])) AS BIGINT)
                     / (sqrt(norms.nn) * sqrt(cn)), 6) AS c_cos
        FROM qv JOIN norms ON qv.vec_id = norms.vec_id, seeds),
      seed_assign AS (
        SELECT vec_id, c_id FROM (
          SELECT vec_id, c_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rn
          FROM seed_scored) WHERE rn = 1),
      dims AS (SELECT a.c_id, d, qv.e[d + 1] AS v
               FROM seed_assign a JOIN qv USING (vec_id), range(64) t(d)),
      dim_means AS (SELECT c_id, d, CAST(floor(sum(v) / count(*)) AS BIGINT) AS m
                    FROM dims GROUP BY 1, 2),
      cents AS (SELECT c_id, list(m ORDER BY d) AS ce,
                       CAST(list_sum(list_transform(list(m ORDER BY d), x -> x * x)) AS BIGINT) AS cn
                FROM dim_means GROUP BY 1),
      scored_cents AS (
        SELECT qv.vec_id, c_id,
               round(CAST(list_sum(list_transform(list_zip(qv.e, ce), p -> p[1] * p[2])) AS BIGINT)
                     / (sqrt(norms.nn) * sqrt(cn)), 6) AS c_cos
        FROM qv JOIN norms ON qv.vec_id = norms.vec_id, cents)"""

  private[graft] case class IvfIndex(cents: DataFrame, assign: DataFrame,
      maxList: Long, lloydSteps: Int, split: Boolean)

  /** Balance-guarded IVF index build — the production path for the
    * p99 risk a fixed one-step build leaves open: a degenerate
    * inverted list holding most of the corpus, which every query
    * probing it must scan. Two mechanisms, in order:
    *
    *  1. extra Lloyd steps while max list > maxListFactor·N/c (fixes
    *     CLUSTERABLE imbalance — centroids migrate toward density);
    *  2. deterministic hash-split of still-oversized lists into
    *     ceil(size/cap) sub-lists keyed by a md5-derived 48-bit
    *     integer of vec_id — md5, not xxhash64, so an external SQL
    *     oracle can replay the split (the [[ivfSeeds]] discipline) —
    *     (fixes what geometry cannot: duplicate/tie mass — 10⁶ copies
    *     of one embedding are one point, no centroid separates them).
    *     A probe of a split c_id reads all its sub-lists: the
    *     candidate set is IDENTICAL, but no single task or list
    *     structure exceeds ~cap rows.
    *
    * The per-step balance check reads a ≤c-row aggregate on the
    * driver — an inspection of list SIZES, not a data collect; each
    * step is one extra corpus pass over the persisted (tracked, see
    * [[graft.Caches]]) vector frame. `ann_ivf_topk` stays the fixed
    * one-step construction (the guard's step count depends on runtime
    * list sizes, which an ahead-of-time SQL oracle cannot replay);
    * the SPLIT path is oracle-checked by [[ivfBalancedKey]], which
    * pins `minSteps = maxSteps` and forces the split with a planted
    * duplicate mass, and AnnSpec pins the adaptive behaviour.
    * Returns the final centroids, the (vec_id, c_id, list_id)
    * assignment (list_id = struct(c_id, sub); sub is 0 unless split),
    * the final max list size, steps taken, and whether a split ran. */
  private[graft] def ivfBalanced(vecsIn: DataFrame, c: Int = IVF_C,
      maxListFactor: Double = 4.0, maxSteps: Int = 2,
      minSteps: Int = 0): IvfIndex = {
    require(minSteps <= maxSteps,
      s"minSteps ($minSteps) must be <= maxSteps ($maxSteps): maxSteps bounds the total Lloyd passes")
    val vecs = graft.Caches.persistTracked(vecsIn)
    val n = vecs.count()
    require(n > 0, "ivfBalanced needs a non-empty corpus")
    val cap = math.max(1L, math.ceil(maxListFactor * n / c).toLong)
    def withList(a: DataFrame): DataFrame =
      a.withColumn("list_id", struct(col("c_id"), lit(0L).as("sub")))
    def maxListOf(a: DataFrame): Long =
      a.groupBy(col("list_id")).count().agg(max(col("count"))).head().getLong(0)
    // every iteration's cents/assign are persisted (tracked): both are
    // TINY relative to their compute (≤c centroid rows; (vec_id, c_id)
    // pairs vs an N×c cosine cross-join) — the profile where persist
    // pays — and each is read several times (the balance check, the
    // next Lloyd step's lineage, the split aggregates, the returned
    // index). Without this, step k's check re-executes every previous
    // step's full assignment pipeline.
    def tracked(df: DataFrame): DataFrame = graft.Caches.persistTracked(df)
    var cents = tracked(ivfSeeds(vecs, c))
    var assign = tracked(withList(ivfAssign(vecs, cents)))
    var m = maxListOf(assign)
    var steps = 0
    // minSteps: unconditional Lloyd refinement before the balance
    // guard engages — lets a caller anchor the index to a FIXED
    // construction (e.g. Dedup.semanticBalanced passes 1 so the
    // split-free case reproduces semanticFrom's seeds→one-Lloyd-step
    // clustering exactly); maxSteps still bounds the total
    while (steps < minSteps || (m > cap && steps < maxSteps)) {
      cents = tracked(ivfLloydStep(vecs, cents))
      assign = tracked(withList(ivfAssign(vecs, cents)))
      steps += 1
      m = maxListOf(assign)
    }
    val didSplit = m > cap
    if (didSplit) {
      val nsub = assign.groupBy(col("c_id")).agg(count(lit(1)).as("sz"))
        .select(col("c_id"), ceil(col("sz") / lit(cap)).cast("long").as("nsub"))
      assign = tracked(assign.drop("list_id").join(broadcast(nsub), Seq("c_id"))
        .withColumn("list_id", struct(col("c_id"),
          when(col("nsub") <= 1, lit(0L))
            .otherwise(pmod(
              conv(substring(md5(col("vec_id").cast("string")), 1, 12), 16, 10).cast("long"),
              col("nsub"))).as("sub")))
        .select(col("vec_id"), col("c_id"), col("list_id")))
      m = maxListOf(assign)
    }
    IvfIndex(cents, assign, m, steps, didSplit)
  }

  /** IVF-Flat ANN — the other standard scale path (complementing
    * [[lshTopk]]): a coarse quantizer of [[IVF_C]] centroids
    * partitions the corpus into inverted lists; a query scores only
    * the [[IVF_NPROBE]] nearest lists. Seeding is deterministic (the
    * C corpus vectors with smallest md5(vec_id)), then ONE Lloyd
    * refinement step re-centres each list on its members'
    * element-wise floor-mean — all aggregates, no window, and
    * integer-exact so the oracle replays it. Corpus→centroid
    * assignment is a partial+final `max_by` AGGREGATE over the
    * crossJoin with the broadcast centroids (no row_number window: a
    * window would shuffle AND sort all N×C rows to keep one; the
    * aggregate combines map-side). The window top-k survives only on
    * the probe side, where NPROBE>1 genuinely needs a ranking over Q×C
    * rows (Q small). All similarity math is quantized-integer → the
    * DuckDB oracle replays seeding, Lloyd, assignment, probing and
    * scoring exactly. This key is the FIXED one-step construction so
    * that replay is possible; production index builds go through
    * [[ivfBalanced]], whose list-balance guard (extra Lloyd steps,
    * then deterministic hash-split) depends on runtime list sizes an
    * ahead-of-time oracle cannot see. */
  val ivfTopk: GQuery = GQuery(
    "ann_ivf_topk",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), quant.as("e"))
      val cents = ivfLloydStep(vecs, ivfSeeds(vecs))
      val assign = ivfAssign(vecs, cents)
      val w0 = Window.partitionBy(col("query_id")).orderBy(col("c_cos").desc, col("c_id"))
      val probes = ivfWithCos(
        vecs.filter(col("vec_id") < N_QUERIES).withColumnRenamed("vec_id", "query_id"), cents)
        .withColumn("c_rnk", row_number().over(w0))
        .filter(col("c_rnk") <= IVF_NPROBE)
        .select(col("query_id"), col("c_id"))
      val cand = probes.join(assign, Seq("c_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id")).distinct()
      topK(cand
        .join(vecs.select(col("vec_id").as("q_id"), col("e").as("qe")), col("query_id") === col("q_id")).drop("q_id")
        .join(vecs.select(col("vec_id"), col("e").as("ce2")), Seq("vec_id"))
        .withColumn("cosine", cosine(expr("dot_long(qe, ce2)"),
          expr("dot_long(qe, qe)"), expr("dot_long(ce2, ce2)"))))
    },
    Some(s"""
      WITH $qvNormsSql,
      $ivfLloydSql,
      ranked_cents AS (
        SELECT vec_id, c_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS c_rnk
        FROM scored_cents),
      assign AS (SELECT vec_id, c_id FROM ranked_cents WHERE c_rnk = 1),
      probes AS (SELECT vec_id AS query_id, c_id FROM ranked_cents
                 WHERE vec_id < $N_QUERIES AND c_rnk <= $IVF_NPROBE),
      cand AS (SELECT DISTINCT query_id, assign.vec_id
               FROM probes JOIN assign USING (c_id)
               WHERE assign.vec_id <> query_id),
      $scoreCandSql
      $topkSql"""),
    tags = Set("ann"))

  /** Planted vec_id offset for [[ivfBalancedKey]] — far above any
    * real corpus id so the planted mass never collides. */
  private[graft] val BAL_BASE = 1000000L

  /** The [[ivfBalanced]] hash-split path under the correctness gate.
    * The guard's step count is runtime-dependent, which an
    * ahead-of-time oracle cannot replay — so this key PINS the
    * construction (`minSteps = maxSteps = 1`: exactly one Lloyd step,
    * the `ann_ivf_topk` discipline) and FORCES the split with a
    * planted duplicate mass: ceil(n/2) copies of vector 0, built
    * in-plan from a broadcast 1-row count so the plant scales with
    * the corpus (mass ≈ n/2 always exceeds cap ≈ 0.375·n — geometry
    * cannot separate identical vectors, so the md5-keyed hash-split
    * MUST fire at every sf). Output is the full (vec_id, c_id, sub)
    * assignment; the DuckDB oracle replays seeding, the Lloyd step,
    * assignment, list sizes, cap and the md5 sub-bucketing
    * bit-for-bit. */
  val ivfBalancedKey: GQuery = GQuery(
    "ann_ivf_balanced",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val base = Tables.embeddings(s, dir).select(col("vec_id"), quant.as("e"))
      val r = broadcast(base.agg(ceil(count(lit(1)) / 2.0).cast("long").as("r")))
      val v0 = broadcast(base.filter(col("vec_id") === 0).select(col("e").as("e0")))
      val planted = base.select(col("vec_id")).crossJoin(r)
        .filter(col("vec_id") < col("r"))
        .crossJoin(v0)
        .select((col("vec_id") + lit(BAL_BASE)).as("vec_id"), col("e0").as("e"))
      val idx = ivfBalanced(base.unionByName(planted), minSteps = 1, maxSteps = 1)
      idx.assign.select(col("vec_id"), col("c_id"),
        col("list_id").getField("sub").as("sub"))
    },
    Some(s"""
      WITH ${quantSql("qv0")},
      qv AS (SELECT vec_id, e FROM qv0
             UNION ALL
             SELECT $BAL_BASE + vec_id, (SELECT e FROM qv0 WHERE vec_id = 0)
             FROM qv0 WHERE vec_id < (SELECT ceil(count(*) / 2.0) FROM qv0)),
      $normsSql,
      $ivfLloydSql,
      assign AS (SELECT vec_id, c_id FROM (
          SELECT vec_id, c_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rn
          FROM scored_cents) WHERE rn = 1),
      sizes AS (SELECT c_id, count(*) AS sz FROM assign GROUP BY 1),
      caps AS (SELECT CAST(ceil(4.0 * (SELECT count(*) FROM qv) / $IVF_C) AS BIGINT) AS cap),
      nsubs AS (SELECT c_id, CAST(ceil(sz / CAST(cap AS DOUBLE)) AS BIGINT) AS nsub FROM sizes, caps)
      SELECT a.vec_id, a.c_id,
             CASE WHEN nsub <= 1 THEN CAST(0 AS BIGINT)
                  ELSE ('0x' || substr(md5(a.vec_id::VARCHAR), 1, 12))::BIGINT % nsub END AS sub
      FROM assign a JOIN nsubs USING (c_id)"""),
    tags = Set("ann"))

  // ------------------------------------------- product quantization

  private[graft] val PQ_M = 8     // subspaces (64 dims / 8 per sub)
  private[graft] val PQ_KSUB = 16 // centroids per subspace
  private val PQ_SUBDIM = 64 / PQ_M

  /** PQ-compressed ANN — the MEMORY-bound 100 TB path. [[cosineTopk]]
    * scans raw vectors (64×8 B each); at corpus scale the index
    * itself is the bottleneck, and PQ stores each vector as [[PQ_M]]
    * 4-bit codes (codebook of [[PQ_KSUB]] centroids per subspace) —
    * a 128× smaller scan. Codebook: the [[PQ_KSUB]] corpus vectors
    * with smallest md5(vec_id) (the [[ivfSeeds]] discipline) sliced
    * into per-subspace centroids; assignment per (vector, subspace)
    * is the min squared-L2 centroid — integer-exact on the quantized
    * vectors — computed as a map-side `min_by` aggregate over the
    * broadcast codebook, never a window. Queries score by ADC
    * (asymmetric distance computation): a per-query lookup table of
    * exact sub-dot-products against every centroid (Q×M×KSUB rows,
    * broadcast), joined to the codes on (subspace, centroid) and
    * summed — approx_dot is an exact integer sum of exact integers,
    * so the DuckDB oracle replays codebook, codes, LUT and ranking
    * bit-for-bit. Scale shape: the corpus is touched twice (encode,
    * then the code scan), both embarrassingly parallel; everything
    * per-query is broadcast-sized. AnnSpec measures ADC recall
    * against the exact brute-force top-k. */
  val pqTopk: GQuery = GQuery(
    "ann_pq_topk",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val vecs = Tables.embeddings(s, dir).select(col("vec_id"), quant.as("e"))
      val subs = (0 until PQ_M).map(m =>
        struct(lit(m).as("m"), slice(col("e"), m * PQ_SUBDIM + 1, PQ_SUBDIM).as("v")))
      val subVec = vecs
        .select(col("vec_id"), explode(array(subs: _*)).as("s"))
        .select(col("vec_id"), col("s.m").as("m"), col("s.v").as("v"))
      val subCent = vecs
        .withColumn("hk", md5(col("vec_id").cast("string")))
        .orderBy(col("hk"), col("vec_id")).limit(PQ_KSUB)
        .select(col("vec_id").as("c_id"), explode(array(subs: _*)).as("s"))
        .select(col("c_id"), col("s.m").as("m"), col("s.v").as("ce"))
      def pqAssign(cents: DataFrame): DataFrame =
        subVec.join(broadcast(cents), Seq("m"))
          .withColumn("d2", expr(
            "dot_long(v, v) - 2 * dot_long(v, ce) + dot_long(ce, ce)"))
          .groupBy(col("vec_id"), col("m"))
          .agg(min_by(col("c_id"), struct(col("d2"), col("c_id"))).as("c_id"))
      // one Lloyd step per subspace (the ivfLloydStep discipline):
      // floor-mean of each code's member subvectors — integer-exact,
      // lifts ADC recall well above the raw seeded codebook
      val cent1 = pqAssign(subCent).join(subVec, Seq("vec_id", "m"))
        .select(col("m"), col("c_id"), posexplode(col("v")).as(Seq("d", "x")))
        .groupBy(col("m"), col("c_id"), col("d"))
        .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
        .select(col("m"), col("c_id"),
          struct(col("d"), floor(col("sx") / col("cnt")).as("mu")).as("dm"))
        .groupBy(col("m"), col("c_id"))
        .agg(expr("transform(array_sort(collect_list(dm)), x -> x.mu)").as("ce"))
      val codes = pqAssign(cent1)
      val lut = subVec.filter(col("vec_id") < N_QUERIES)
        .withColumnRenamed("vec_id", "query_id")
        .join(broadcast(cent1), Seq("m"))
        .select(col("query_id"), col("m"), col("c_id"),
          expr("dot_long(v, ce)").as("pdot"))
      val w = Window.partitionBy(col("query_id")).orderBy(col("approx_dot").desc, col("vec_id"))
      codes.join(broadcast(lut), Seq("m", "c_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("vec_id"))
        .agg(sum(col("pdot")).as("approx_dot"))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= K)
        .select(col("query_id"), col("vec_id"), col("rnk"), col("approx_dot"))
    },
    Some(s"""
      WITH ${quantSql("qv")},
      seeds AS (SELECT vec_id AS c_id, e FROM qv
                ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $PQ_KSUB),
      subcent AS (SELECT c_id, m, e[m * $PQ_SUBDIM + 1 : m * $PQ_SUBDIM + $PQ_SUBDIM] AS ce
                  FROM seeds, range($PQ_M) t(m)),
      subvec AS (SELECT vec_id, m, e[m * $PQ_SUBDIM + 1 : m * $PQ_SUBDIM + $PQ_SUBDIM] AS v
                 FROM qv, range($PQ_M) t(m)),
      d2_0 AS (SELECT vec_id, sv.m, c_id,
                      list_sum(list_transform(list_zip(v, ce), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
               FROM subvec sv JOIN subcent sc ON sv.m = sc.m),
      codes_0 AS (SELECT vec_id, m, c_id FROM (
                    SELECT vec_id, m, c_id,
                           row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c_id) AS rn
                    FROM d2_0) WHERE rn = 1),
      cdims AS (SELECT c0.m, c0.c_id, d, v[d + 1] AS x
                FROM codes_0 c0 JOIN subvec sv ON c0.vec_id = sv.vec_id AND c0.m = sv.m,
                     range($PQ_SUBDIM) t(d)),
      cent1 AS (SELECT m, c_id, list(mu ORDER BY d) AS ce FROM (
                  SELECT m, c_id, d, CAST(floor(sum(x) / count(*)) AS BIGINT) AS mu
                  FROM cdims GROUP BY 1, 2, 3) GROUP BY 1, 2),
      d2 AS (SELECT vec_id, sv.m, c_id,
                    list_sum(list_transform(list_zip(v, ce), p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
             FROM subvec sv JOIN cent1 sc ON sv.m = sc.m),
      codes AS (SELECT vec_id, m, c_id FROM (
                  SELECT vec_id, m, c_id,
                         row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, c_id) AS rn
                  FROM d2) WHERE rn = 1),
      lut AS (SELECT sv.vec_id AS query_id, sv.m, c_id,
                     CAST(list_sum(list_transform(list_zip(v, ce), p -> p[1] * p[2])) AS BIGINT) AS pdot
              FROM subvec sv JOIN cent1 sc ON sv.m = sc.m
              WHERE sv.vec_id < $N_QUERIES),
      scored AS (SELECT query_id, codes.vec_id AS vec_id,
                        CAST(sum(pdot) AS BIGINT) AS approx_dot
                 FROM codes JOIN lut USING (m, c_id)
                 WHERE codes.vec_id <> query_id
                 GROUP BY 1, 2)
      SELECT query_id, vec_id, rnk, approx_dot FROM (
        SELECT query_id, vec_id, approx_dot,
               CAST(row_number() OVER (PARTITION BY query_id ORDER BY approx_dot DESC, vec_id) AS BIGINT) AS rnk
        FROM scored)
      WHERE rnk <= $K"""),
    tags = Set("ann"))

  // ---------------------------------------------------- centroids

  /** Exact per-label embedding centroids in quantized integer space —
    * the embedding-aggregation primitive behind k-means init,
    * class prototypes, and SemDeDup's cluster means. Long format
    * (label, dim, sum_q, n): integer sums of the ×10000-quantized
    * components are order-independent and replay bit-for-bit in
    * DuckDB (the mean is sum_q/n downstream — kept as exact integers
    * here so the hash check never meets float summation order).
    * Scale shape: posexplode widens ×64 then a map-side-combined
    * aggregate collapses to |labels|×64 rows — the same partial+final
    * shape as any groupBy sum, linear in the corpus. */
  val centroids: GQuery = GQuery(
    "ann_centroids",
    (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("label"), posexplode(quant).as(Seq("d", "v")))
        .groupBy(col("label"), col("d"))
        .agg(sum(col("v")).as("sum_q"), count(lit(1)).as("n"))
        .select(col("label").cast("long").as("label"), col("d").cast("long").as("d"),
          col("sum_q"), col("n")),
    Some("""
      WITH q AS (SELECT label,
                        list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS e
                 FROM embeddings),
      x AS (SELECT label, d - 1 AS d, e[d] AS v
            FROM q, unnest(generate_series(1, len(e))) t(d))
      SELECT CAST(label AS BIGINT) AS label, CAST(d AS BIGINT) AS d,
             CAST(sum(v) AS BIGINT) AS sum_q, count(*) AS n
      FROM x GROUP BY 1, 2"""),
    tags = Set("ann"))

  /** Recall@k evaluation harness: per query, how many of the exact
    * brute-force top-k ([[cosineTopk]]) the LSH index ([[lshTopk]])
    * recovered — the measurement every ANN deployment runs before
    * trusting an index, expressed as a single declarative plan (both
    * pipelines + a left-semi hit join + an integer permille). AnnSpec
    * asserts a recall FLOOR; this key pins the exact per-query hit
    * counts under the oracle gate, so an index regression (a changed
    * hash family, a narrower band) fails correctness, not just a
    * spec threshold. Queries the index misses entirely still emit
    * n_hits = 0 via the left join from the brute query list.
    *
    * Scale: the brute side is the small broadcast query probe (its
    * documented regime); the eval join is k rows per query on both
    * sides — evaluation cost is dwarfed by either index build. */
  val recallEval: GQuery = GQuery(
    "ann_recall_eval",
    (s, dir) => {
      val brute = cosineTopk.build(s, dir).select(col("query_id"), col("vec_id"))
      val approx = lshTopkFrom(Tables.embeddings(s, dir), s)
        .select(col("query_id"), col("vec_id"))
      val hits = brute.join(approx, Seq("query_id", "vec_id"), "left_semi")
        .groupBy(col("query_id")).agg(count(lit(1)).as("n_hits"))
      brute.select(col("query_id")).distinct()
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .withColumn("recall_permille", expr(s"(n_hits * 1000) DIV $K"))
    },
    Some(s"""$lshScoredSql,
      lsh_topk AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM scored) WHERE rn <= $K),
      ${probeSql("bdots")},
      bscored AS (SELECT query_id, bdots.vec_id AS vec_id,
                         round(dot / (sqrt(nq.nn) * sqrt(nc.nn)), 6) AS cosine
                  FROM bdots JOIN norms nq ON query_id = nq.vec_id
                             JOIN norms nc ON bdots.vec_id = nc.vec_id),
      btopk AS (SELECT query_id, vec_id FROM (
          SELECT query_id, vec_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rn
          FROM bscored) WHERE rn <= $K)
      SELECT b.query_id, count(l.vec_id) AS n_hits,
             CAST((count(l.vec_id) * 1000) // $K AS BIGINT) AS recall_permille
      FROM btopk b LEFT JOIN lsh_topk l USING (query_id, vec_id)
      GROUP BY 1"""),
    tags = Set("ann"))

  /** HYBRID retrieval — dense + lexical fused by Reciprocal Rank
    * Fusion (`Σ 1/(60+rank)`, the Cormack/Clarke formula every
    * production search stack ships): the vector arm is
    * [[queryProbe]]'s top-20 over `embeddings`, the
    * lexical arm is an inverted-index join over `documents`
    * (distinct-token explode, equi-join on token, overlap count — the
    * plan a sharded BM25 engine runs; at web scale the hot-token
    * posting lists get df-capped exactly like
    * [[graft.dedup.Dedup]]'s blocking keys, and idf weighting makes
    * those lists near-worthless anyway), linked by doc_id = vec_id.
    * Determinism: both ranks are integers from exact-integer scores
    * (quantized dot products; token counts) with id tie-breaks, so
    * `1/(60+r)` sums to bit-identical doubles in both engines;
    * only the final fused score is rounded (6 dp). Missing-from-list
    * contributes 0 via the full-outer join — standard RRF over
    * truncated lists. */
  val hybridRrf: GQuery = GQuery(
    "ann_hybrid_rrf",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val wv = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
      val vrank = queryProbe(Tables.embeddings(s, dir))
        .withColumn("r_v", row_number().over(wv).cast("long"))
        .filter(col("r_v") <= 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("r_v"))
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      val qt = toks.filter(col("doc_id") < N_QUERIES)
        .select(col("doc_id").as("query_id"), col("tok"))
      val wl = Window.partitionBy(col("query_id")).orderBy(col("ov").desc, col("doc_id"))
      val lrank = qt.join(toks, "tok")
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id")).agg(count(lit(1)).as("ov"))
        .withColumn("r_l", row_number().over(wl).cast("long"))
        .filter(col("r_l") <= 20)
        .select(col("query_id"), col("doc_id"), col("r_l"))
      val wf = Window.partitionBy(col("query_id")).orderBy(col("rrf6").desc, col("doc_id"))
      vrank.join(lrank, Seq("query_id", "doc_id"), "full_outer")
        .withColumn("rrf6", round(
          coalesce(lit(1.0) / (lit(60) + col("r_v")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("r_l")), lit(0.0)), 6))
        .withColumn("rnk", row_number().over(wf).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("query_id"), col("doc_id"), col("rrf6"), col("rnk"))
    },
    Some(s"""
      WITH $qvNormsSql,
      ${probeSql("pairs")},
      vscored AS (SELECT query_id, pairs.vec_id AS vec_id,
                         dot / (sqrt(nq.nn) * sqrt(nc.nn)) AS cosine
                  FROM pairs JOIN norms nq ON query_id = nq.vec_id
                             JOIN norms nc ON pairs.vec_id = nc.vec_id),
      vrank AS (SELECT query_id, vec_id AS doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS r_v
                FROM vscored QUALIFY r_v <= 20),
      toks AS (SELECT doc_id, unnest(list_distinct(string_split(text,' '))) AS tok FROM documents),
      ov AS (SELECT q.doc_id AS query_id, c.doc_id AS doc_id, count(*)::BIGINT AS ov
             FROM toks q JOIN toks c USING (tok)
             WHERE q.doc_id < $N_QUERIES AND c.doc_id <> q.doc_id GROUP BY 1,2),
      lrank AS (SELECT query_id, doc_id,
                       CAST(row_number() OVER (PARTITION BY query_id ORDER BY ov DESC, doc_id) AS BIGINT) AS r_l
                FROM ov QUALIFY r_l <= 20),
      fused AS (SELECT coalesce(v.query_id, l.query_id) AS query_id,
                       coalesce(v.doc_id, l.doc_id) AS doc_id,
                       round(coalesce(CAST(1 AS DOUBLE)/(60+v.r_v), 0)
                             + coalesce(CAST(1 AS DOUBLE)/(60+l.r_l), 0), 6) AS rrf6
                FROM vrank v FULL JOIN lrank l ON v.query_id = l.query_id AND v.doc_id = l.doc_id)
      SELECT query_id, doc_id, rrf6,
             CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf6 DESC, doc_id) AS BIGINT) AS rnk
      FROM fused QUALIFY rnk <= 10"""),
    tags = Set("similarity"))

  /** k-NN CLASSIFICATION (majority vote of the 5 nearest labelled
    * neighbours, the evaluation-time primitive behind label
    * propagation / weak supervision over an embedded corpus): exact
    * quantized-cosine top-5 per query (self excluded), one
    * (query, label) vote count, winner = (votes desc, label asc) —
    * every stage integer-deterministic. Joined back against the
    * query's own label so the output doubles as a per-query accuracy
    * audit (`correct`). Scale: the probe set broadcasts through
    * [[queryProbe]]; votes and the winner window are O(k·Q) rows —
    * classification of a full corpus (Q = N) swaps the broadcast for
    * [[ivfTopk]]'s inverted lists, same vote/winner tail. */
  val knnClassify: GQuery = GQuery(
    "ann_knn_classify",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables.embeddings(s, dir)
      val wk = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
      val knn = queryProbe(emb, col("label"))
        .withColumn("r", row_number().over(wk).cast("long"))
        .filter(col("r") <= K)
      val wv = Window.partitionBy(col("query_id")).orderBy(col("votes").desc, col("label"))
      knn.groupBy(col("query_id"), col("label").cast("long").as("label"))
        .agg(count(lit(1)).as("votes"))
        .withColumn("rk", row_number().over(wv))
        .filter(col("rk") === 1)
        .join(emb.select(col("vec_id").as("query_id"),
          col("label").cast("long").as("true_label")), "query_id")
        .select(col("query_id"), col("label").as("pred_label"), col("votes"),
          col("true_label"),
          when(col("label") === col("true_label"), 1L).otherwise(0L).as("correct"))
    },
    Some(s"""
      WITH $qvNormsSql,
      ${probeSql("pairs")},
      scored AS (SELECT query_id, pairs.vec_id AS vec_id, dot / (sqrt(nq.nn) * sqrt(nc.nn)) AS cosine
                 FROM pairs JOIN norms nq ON query_id = nq.vec_id
                            JOIN norms nc ON pairs.vec_id = nc.vec_id),
      knn AS (SELECT query_id, vec_id,
                     CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS r
              FROM scored QUALIFY r <= $K),
      votes AS (SELECT query_id, CAST(e.label AS BIGINT) AS label, count(*)::BIGINT AS votes
                FROM knn JOIN embeddings e ON knn.vec_id = e.vec_id GROUP BY 1, 2),
      pick AS (SELECT query_id, label AS pred_label, votes,
                      CAST(row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS BIGINT) AS rk
               FROM votes QUALIFY rk = 1)
      SELECT query_id, pred_label, votes, CAST(t.label AS BIGINT) AS true_label,
             CAST(pred_label = t.label AS BIGINT) AS correct
      FROM pick JOIN embeddings t ON pick.query_id = t.vec_id"""),
    tags = Set("similarity"))

  /** MMR DIVERSIFIED RE-RANKING (Carbonell/Goldstein maximal marginal
    * relevance, the standard result-diversification pass after any
    * top-k retrieval): greedily pick 5 of the top-20 candidates
    * maximizing `0.7·rel − 0.3·max-sim-to-already-picked`. The greedy
    * loop is inherently sequential in k, so it is UNROLLED into 4
    * static join rounds — but every round's frames are bounded by the
    * fixed candidate set (≤20 rows and one 20×20 sim block per
    * query) and keyed by query_id, so a million concurrent queries
    * diversify embarrassingly parallel with zero cross-query
    * coordination; nothing in the plan grows with the corpus (only
    * [[queryProbe]]'s candidate generation sees N). Determinism: rel
    * and pairwise sims are unrounded doubles from exact quantized
    * integers, λ = 0.7 parses to the identical IEEE double in both
    * engines, ties break on vec_id; only the emitted score rounds
    * (6 dp).
    *
    * Lineage discipline (the [[graft.graph.Graph]] kcore lesson,
    * A/B-measured at sf0.1, dev/BENCH_NOTES.md): the three iterated
    * frames — cand, sims, and each round's picked set — are EAGER
    * [[graft.Checkpoints.truncate]] calls (executor-local blocks by
    * default; reliable checkpoint under
    * `spark.graft.checkpoint.reliable` — recovery contract on that
    * object), truncating the plan that otherwise regrows
    * through the 4 unrolled rounds: 12.8 s lineage-recomputed →
    * 3.3 s checkpointed (health-accepted). `persist()` instead of
    * checkpointing was tried and REFUTED (32.6 s: it defeats the
    * ReusedExchange dedup of the candidate subtree and replaces it
    * with InMemoryRelation round trips). All checkpointed frames are
    * probe-sized (≤ 20 rows and one 20×20 block per query), never
    * corpus-sized. */
  val mmrRerank: GQuery = GQuery(
    "ann_mmr_rerank",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val wc = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id"))
      val cand = queryProbe(Tables.embeddings(s, dir))
        .withColumn("rk", row_number().over(wc))
        .filter(col("rk") <= 20)
        .select(col("query_id"), col("vec_id"), col("cosine"), col("ce").as("e"))
        .transform(graft.Checkpoints.truncate(s))
      val sims = cand.select(col("query_id"), col("vec_id").as("va"), col("e").as("ea"))
        .join(cand.select(col("query_id"), col("vec_id").as("vb"), col("e").as("eb")),
          Seq("query_id"))
        .filter(col("va") =!= col("vb"))
        .withColumn("sim", cosineRaw(expr("dot_long(ea, eb)"),
          expr("dot_long(ea, ea)"), expr("dot_long(eb, eb)")))
        .select(col("query_id"), col("va"), col("vb"), col("sim"))
        .transform(graft.Checkpoints.truncate(s))
      val bare = cand.select(col("query_id"), col("vec_id"), col("cosine"))
      var sel = bare
        .withColumn("pk", row_number().over(wc))
        .filter(col("pk") === 1)
        .select(col("query_id"), col("vec_id"),
          (lit(0.7) * col("cosine")).as("score"), lit(1L).as("round"))
      for (r <- 2 to 5) {
        val picked = sel.select(col("query_id"), col("vec_id")).transform(graft.Checkpoints.truncate(s))
        val ms = sims
          .join(picked.withColumnRenamed("vec_id", "vb"), Seq("query_id", "vb"))
          .groupBy(col("query_id"), col("va").as("vec_id"))
          .agg(max(col("sim")).as("m"))
        val ws = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id"))
        val next = bare
          .join(ms, Seq("query_id", "vec_id"))
          .join(picked, Seq("query_id", "vec_id"), "left_anti")
          .withColumn("score", lit(0.7) * col("cosine") - lit(0.3) * col("m"))
          .withColumn("pk", row_number().over(ws))
          .filter(col("pk") === 1)
          .select(col("query_id"), col("vec_id"), col("score"), lit(r.toLong).as("round"))
        sel = sel.unionByName(next)
      }
      sel.select(col("query_id"), col("vec_id"), col("round"),
        round(col("score"), 6).as("mmr6"))
    },
    Some {
      val base = s"""
      WITH $qvNormsSql,
      rel AS (SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     CAST(list_sum(list_transform(list_zip(q.e, c.e), p -> p[1] * p[2])) AS BIGINT)
                       / (sqrt(nq.nn) * sqrt(nc.nn)) AS cosine
              FROM qv q JOIN norms nq ON q.vec_id = nq.vec_id,
                   qv c JOIN norms nc ON c.vec_id = nc.vec_id
              WHERE q.vec_id < $N_QUERIES AND c.vec_id <> q.vec_id),
      cand AS (SELECT query_id, vec_id, cosine,
                      CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rk
               FROM rel QUALIFY rk <= 20),
      sims AS (SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
                      CAST(list_sum(list_transform(list_zip(ea.e, eb.e), p -> p[1] * p[2])) AS BIGINT)
                        / (sqrt(na.nn) * sqrt(nb.nn)) AS sim
               FROM cand a JOIN cand b ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
               JOIN qv ea ON a.vec_id = ea.vec_id JOIN qv eb ON b.vec_id = eb.vec_id
               JOIN norms na ON a.vec_id = na.vec_id JOIN norms nb ON b.vec_id = nb.vec_id),
      s1 AS (SELECT query_id, vec_id, CAST(0.7 AS DOUBLE) * cosine AS score, 1 AS round
             FROM cand WHERE rk = 1),"""
      val rounds = (2 to 5).map { r =>
        val prev = (1 until r).map(i => s"SELECT query_id, vec_id FROM s$i").mkString(" UNION ALL ")
        s"""
      p$r AS ($prev),
      s$r AS (SELECT query_id, vec_id, score, $r AS round FROM (
        SELECT c.query_id, c.vec_id,
               CAST(0.7 AS DOUBLE) * c.cosine - CAST(0.3 AS DOUBLE) * ms.m AS score,
               row_number() OVER (PARTITION BY c.query_id ORDER BY
                 (CAST(0.7 AS DOUBLE) * c.cosine - CAST(0.3 AS DOUBLE) * ms.m) DESC, c.vec_id) AS pk
        FROM cand c
        JOIN (SELECT s.query_id, s.va AS vec_id, max(s.sim) AS m
              FROM sims s JOIN p$r p ON s.query_id = p.query_id AND s.vb = p.vec_id
              GROUP BY 1, 2) ms ON c.query_id = ms.query_id AND c.vec_id = ms.vec_id
        WHERE NOT EXISTS (SELECT 1 FROM p$r x WHERE x.query_id = c.query_id AND x.vec_id = c.vec_id)
      ) WHERE pk = 1),"""
      }.mkString
      base + rounds.stripSuffix(",") + """
      SELECT query_id, vec_id, CAST(round AS BIGINT) AS round, round(score, 6) AS mmr6
      FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL SELECT * FROM s3
            UNION ALL SELECT * FROM s4 UNION ALL SELECT * FROM s5)"""
    },
    tags = Set("similarity"))

  def all: Seq[GQuery] =
    Seq(cosineTopk, lshTopk, rangeSearch, filteredTopk, ivfTopk, ivfBalancedKey,
      pqTopk, centroids, recallEval, hybridRrf, knnClassify, mmrRerank)
}
