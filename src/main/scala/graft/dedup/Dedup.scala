package graft.dedup

import graft.GQuery
import graft.similarity.Ann
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.4 dedup family over the `documents` / `embeddings` tables.
  *
  * Every operator is blocking-join based — NO all-pairs comparison
  * anywhere. Candidate generation is an equi-join on a derived key
  * (shingle, LSH band, sign-bucket) whose fan-out is bounded; the
  * exact similarity is then verified only on candidates. This is the
  * shape that survives 100 TB: the pair space is never materialised,
  * the joins shuffle on keys, and hot keys can be df-capped/salted
  * (see scaladoc per op).
  *
  * All hashing is md5 (codegen'd built-in, identical in DuckDB), so
  * every probabilistic structure (MinHash signature, LSH band, sign
  * bucket) is bit-identical between Spark and the oracle — the
  * correctness gate checks the whole pipeline, not just the verify
  * step. Similarities are computed from exact integers (shingle
  * counts; embeddings quantized to ×10000 ints) so division inputs
  * are identical across engines and the final doubles compare equal.
  */
object Dedup {

  private lazy val log = org.apache.logging.log4j.LogManager.getLogger(getClass)

  private val J_THRESHOLD = 0.5 // word-3-gram Jaccard near-dup cut
  private val C_THRESHOLD = 0.4 // embedding cosine near-dup cut
  /** Max document frequency of a shingle used by [[ngramJaccard]].
    * A shingle shared by df docs generates df²/2 candidate pairs in
    * one join key; one boilerplate phrase in 10⁶ docs would be 10¹²
    * pairs that AQE cannot split (it splits partitions, not pair
    * counts). Shingles hotter than this cap carry no dedup signal
    * (they're corpus-wide stop-phrases) and are dropped from BOTH
    * blocking and scoring there — ngram Jaccard values are exact
    * within the capped shingle space (stopword-removal semantics),
    * NOT full-set values; [[minhashLsh]]'s verify, by contrast, uses
    * full shingle sets. 64 caps any one key at ~2k pairs. */
  private[graft] val DF_CAP = 64

  /** Max docs per band bucket paired ALL-TO-ALL in candidate
    * generation. Band keys are md5-uniform so RANDOM collisions never
    * pile up, but a degenerate corpus region (one boilerplate
    * template in B docs, surviving exact dedup on trivial wording
    * diffs) puts all B in one bucket → B²/2 pairs on one join key.
    * Buckets past this cap fall back to CHAIN candidates (each doc
    * pairs with its doc_id-successor in the bucket: B−1 pairs,
    * linear) — if the bucket really is one near-dup cluster, the
    * chain verifies link by link and connects it transitively, so
    * keep-min dedup still collapses the whole cluster; only
    * non-adjacent pairs in MIXED over-cap buckets are missed. */
  private[graft] val BUCKET_CAP = 256

  /** Distinct word-3-gram shingles per document. Docs with <3 words
    * cannot near-dup on 3-grams and are dropped (both sides). */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(0, size(w) - 3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")))
        .as("shingle"))

  /** The df-capped token self-join — the blocking stage of every
    * set-overlap key. `toks` is (doc_id, `tok`) with distinct tokens
    * per doc. Tokens of document frequency > `cap` are dropped (a key
    * shared by df docs fans out to df²/2 pairs that AQE cannot split),
    * then one aggregation over the self-join both blocks the pairs and
    * counts what they share. Returns the (doc_a, doc_b, inter) pairs,
    * doc_a < doc_b, and the capped per-doc (doc_id, n_sh) counts.
    *
    * No broadcast HINT on the hot-token anti-join: on a small corpus
    * the hot set is a handful of stop-phrases and AQE broadcasts it
    * from runtime stats, but on a Zipfian web corpus the df>cap tail
    * can run to many millions of tokens — far past any broadcast
    * limit — and there the shuffled anti-join is the only shape that
    * works (both sides are already partitioned by token from the df
    * aggregate, so the exchange is reused, not added). The df
    * aggregation itself is map-side-combined, so hot keys never
    * concentrate raw rows on one reducer. */
  private[graft] def cappedOverlap(toks: DataFrame, tok: String,
      cap: Int): (DataFrame, DataFrame) = {
    val hot = toks.groupBy(col(tok))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)
      .select(col(tok))
    val kept = toks.join(hot, Seq(tok), "left_anti")
    val n = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val inter = kept.as("a")
      .join(kept.as("b"),
        col(s"a.$tok") === col(s"b.$tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    (inter, n)
  }

  /** Attaches both docs' set sizes from `n` (doc_id, n_sh) to
    * (doc_a, doc_b, inter) pairs and keeps those with Jaccard ≥
    * [[J_THRESHOLD]]. */
  private def jaccardAtLeast(inter: DataFrame, n: DataFrame): DataFrame = {
    val j = round(col("inter").cast("double") /
      (col("na.n_sh") + col("nb.n_sh") - col("inter")), 4)
    inter
      .join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .withColumn("jaccard", j)
      .filter(col("jaccard") >= J_THRESHOLD)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Exact Jaccard over full shingle sets for a candidate pair list;
    * keeps pairs ≥ [[J_THRESHOLD]]. Shared verify stage of the minhash
    * and curate paths: cost is O(candidates), never O(N²). */
  private[graft] def verifiedJaccard(cand: DataFrame, sh: DataFrame, n: DataFrame): DataFrame = {
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    jaccardAtLeast(inter, n)
  }

  /** `toks`/`sh`/`n` CTEs over an arbitrary (doc_id, text) relation. */
  private[graft] def shinglesSqlFrom(src: String): String = s"""
      toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
      sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
             FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(i)
             WHERE len(w) >= 3),
      n AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1)"""

  private val shinglesSql = shinglesSqlFrom("documents")

  /** `toks`/`sh`/`n` then `hot`/`shc`/`nc`/`inter` CTEs over
    * `documents` — the SQL mirror of [[cappedOverlap]] on shingles. */
  private val cappedOverlapSql: String = s"""$shinglesSql,
      hot AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) > $DF_CAP),
      shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
      nc AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)"""

  /** `inter`/`pairs` CTEs: exact-Jaccard verify over a `cand` CTE
    * against the full `sh`/`n` — the SQL mirror of [[verifiedJaccard]]. */
  private[graft] val verifySql: String = s"""
      inter AS (SELECT doc_a, doc_b, count(*) AS inter
                FROM cand JOIN sh sa ON doc_a = sa.doc_id
                          JOIN sh sb ON doc_b = sb.doc_id AND sa.shingle = sb.shingle
                GROUP BY 1, 2),
      pairs AS (SELECT doc_a, doc_b,
                       round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4) AS jaccard
                FROM inter JOIN n na ON doc_a = na.doc_id JOIN n nb ON doc_b = nb.doc_id
                WHERE round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4) >= $J_THRESHOLD)"""

  // ------------------------------------------------------------- exact

  /** Exact dedup: hash-groupBy on md5(text), keep the min doc_id per
    * group. One shuffle on the 128-bit hash — uniformly distributed,
    * no skew; at 100 TB this is the cheapest possible full-corpus
    * dedup (hash is 16 bytes regardless of document size). */
  val exact: GQuery = GQuery(
    "dedup_exact",
    (s, dir) =>
      Tables.documents(s, dir)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keep_id")),
    Some("""
      SELECT md5(text) AS text_md5, count(*) AS n_copies, min(doc_id) AS keep_id
      FROM documents GROUP BY md5(text)"""),
    tags = Set("dedup"))

  /** Incremental dedup — the shape a 100 TB corpus actually runs day
    * to day: an arriving BATCH is deduped against the standing
    * CORPUS's signature index without rescanning (or re-deduping) the
    * corpus itself. Here the split is deterministic so the oracle can
    * replay it (doc_id mod 10: 0-7 = corpus, 8-9 = batch); in
    * production the index is a persisted, hash-bucketed table of
    * 16-byte md5 signatures maintained across deliveries. Two steps,
    * both linear in the BATCH: (1) within-batch collapse (hash
    * groupBy, keep min doc_id), (2) left-anti join against the index
    * on the signature — shuffle cost is O(batch + index), never
    * O(corpus text), and with the index pre-bucketed on the hash the
    * anti join is exchange-free on the corpus side. The streaming twin
    * is [[graft.streaming.Streams.dedupStream]] (state-bounded,
    * watermark horizon); this key is the unbounded-history batch
    * variant. */
  val incremental: GQuery = GQuery(
    "dedup_incremental",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpusIndex = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
        .select(md5(col("text")).as("text_md5")).distinct()
      docs.filter(pmod(col("doc_id"), lit(10)) >= 8)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("doc_id"))
        .join(corpusIndex, Seq("text_md5"), "left_anti")
        .select(col("doc_id"), col("text_md5"))
    },
    Some("""
      WITH corpus AS (
        SELECT DISTINCT md5(text) AS text_md5 FROM documents WHERE doc_id % 10 < 8),
      batch AS (
        SELECT md5(text) AS text_md5, min(doc_id) AS doc_id
        FROM documents WHERE doc_id % 10 >= 8 GROUP BY 1)
      SELECT doc_id, text_md5 FROM batch
      WHERE text_md5 NOT IN (SELECT text_md5 FROM corpus)"""),
    tags = Set("dedup"))

  // ----------------------------------------------------- paragraph/chunk

  /** Words per paragraph-dedup chunk. The `documents` text carries no
    * newline structure, so "paragraphs" are fixed windows of
    * [[PARA_W]] consecutive words — the same normalization real
    * pipelines apply to line/paragraph dedup when source formatting
    * is unreliable. */
  private[graft] val PARA_W = 24

  /** (doc_id, chunk, h, n_words) for every [[PARA_W]]-word chunk of
    * every document — the shared chunking stage of [[paragraphStats]]
    * and [[graft.text.TextAnalysis.boilerplate]]. */
  private[graft] def chunksOf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), split(col("text"), " ").as("w"))
    .select(col("doc_id"), explode(expr(
      s"""transform(sequence(0, CAST(ceil(size(w) / $PARA_W.0) AS INT) - 1),
                    i -> concat_ws(' ', slice(w, i * $PARA_W + 1, $PARA_W)))"""))
      .as("chunk"))
    .withColumn("h", md5(col("chunk")))
    .withColumn("n_words", size(split(col("chunk"), " ")).cast("long"))

  /** Per-doc paragraph-dedup accounting over an arbitrary
    * (doc_id, text) relation — the operator body of [[paragraph]]. */
  private[graft] def paragraphStats(docs: DataFrame): DataFrame = {
    val ch = chunksOf(docs)
    val owners = ch.groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), countDistinct(col("doc_id")).as("n_docs"))
    ch.join(owners, Seq("h"))
      .withColumn("dropped", col("n_docs") > 1 && col("doc_id") =!= col("keeper"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(!col("dropped"), col("n_words")).otherwise(0L)).as("kept_words"))
  }

  /** Sub-document (paragraph-level) cross-doc dedup, C4-style: split
    * every document into consecutive [[PARA_W]]-word chunks, find
    * chunks that recur across documents, and drop every occurrence
    * except the one in the lowest doc_id (the same keep-min policy as
    * [[exact]]). Emits per-document accounting: total chunks, dropped
    * chunks, surviving word count — the numbers a curation pipeline
    * needs to rewrite the text and budget tokens.
    *
    * Scale shape: chunk ownership is ONE groupBy on md5(chunk)
    * (16-byte uniform key, no skew); marking occurrences is an
    * equi-join back on that hash whose build side carries exactly one
    * row per distinct chunk, so a boilerplate chunk shared by B docs
    * fans out to B rows — never B² — and AQE's skew split handles a
    * hot hash partition because output ≤ input. The final per-doc
    * rollup shuffles doc_id. No stage is quadratic in anything. */
  val paragraph: GQuery = GQuery(
    "dedup_paragraph",
    (s, dir) => paragraphStats(Tables.documents(s, dir)),
    Some(s"""
      WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      ch AS (SELECT doc_id,
                    md5(array_to_string(w[(i * $PARA_W + 1):(i * $PARA_W + $PARA_W)], ' ')) AS h,
                    len(w[(i * $PARA_W + 1):(i * $PARA_W + $PARA_W)]) AS n_words
             FROM toks, unnest(generate_series(0, CAST(ceil(len(w) / $PARA_W.0) AS INT) - 1)) AS t(i)),
      owners AS (SELECT h, min(doc_id) AS keeper, count(DISTINCT doc_id) AS n_docs
                 FROM ch GROUP BY 1)
      SELECT doc_id,
             count(*) AS n_chunks,
             CAST(sum(CASE WHEN n_docs > 1 AND doc_id <> keeper THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
             CAST(sum(CASE WHEN n_docs > 1 AND doc_id <> keeper THEN 0 ELSE n_words END) AS BIGINT) AS kept_words
      FROM ch JOIN owners USING (h)
      GROUP BY 1"""),
    tags = Set("dedup"))

  // ----------------------------------------------------- n-gram Jaccard

  /** Near-dup pairs by word-3-gram Jaccard ≥ 0.5 over the
    * INFORMATIVE shingle space: shingles hotter than [[DF_CAP]]
    * (corpus-wide stop-phrases, no dedup signal — the standard
    * stopword-removal move) are dropped before both blocking and
    * scoring, so no key in the pair join can fan out past
    * ~DF_CAP²/2 rows AND the intersection count falls out of the
    * same single aggregation as the blocking join — no second pass
    * over the shingle sets. This is the exact-within-the-capped-
    * space baseline; [[minhashLsh]] is the 100 TB path
    * (constant-size signatures instead of full shingle sets). */
  val ngramJaccard: GQuery = GQuery(
    "dedup_ngram_jaccard",
    (s, dir) => {
      // NOT persisted although shc feeds three consumers (both
      // self-join sides + per-doc counts): shingle frames are cheap
      // to recompute (one split+explode) but large to store, and an
      // A/B at sf0.1 measured the persist 10-100% SLOWER than the
      // recompute. Persist pays only when compute-to-size is high; a
      // raw shingle explode is the low case.
      val (inter, n) = cappedOverlap(shingles(Tables.documents(s, dir)), "shingle", DF_CAP)
      jaccardAtLeast(inter, n)
    },
    Some(s"""
      WITH $cappedOverlapSql
      SELECT doc_a, doc_b,
             round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4) AS jaccard
      FROM inter JOIN nc na ON doc_a = na.doc_id JOIN nc nb ON doc_b = nb.doc_id
      WHERE round(CAST(inter AS DOUBLE) / (na.n_sh + nb.n_sh - inter), 4) >= $J_THRESHOLD"""),
    tags = Set("dedup"))

  /** Containment threshold for [[containment]]: a doc 80% of whose
    * informative shingles appear in another doc is (close to) a
    * subset of it. */
  private[graft] val CONT_THRESHOLD = 0.8

  /** Asymmetric containment dedup — the subset-duplication detector
    * symmetric Jaccard misses: when a short doc A is an excerpt of a
    * long doc B (a quoted paragraph, a truncated mirror page),
    * |A∩B|/|A∪B| is diluted by B's bulk but |A∩B|/|A| stays ≈ 1.
    * Emits every ordered pair with either direction's containment ≥
    * [[CONT_THRESHOLD]], both directions reported. Blocking and the
    * intersection count are [[cappedOverlap]]'s; only the
    * normalization differs from [[ngramJaccard]]. */
  val containment: GQuery = GQuery(
    "dedup_containment",
    (s, dir) => {
      val (inter, n) = cappedOverlap(shingles(Tables.documents(s, dir)), "shingle", DF_CAP)
      inter
        .join(n.as("na"), col("doc_a") === col("na.doc_id"))
        .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
        .withColumn("cont_a_in_b", round(col("inter").cast("double") / col("na.n_sh"), 4))
        .withColumn("cont_b_in_a", round(col("inter").cast("double") / col("nb.n_sh"), 4))
        .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= CONT_THRESHOLD)
        .select(col("doc_a"), col("doc_b"), col("inter"), col("cont_a_in_b"), col("cont_b_in_a"))
    },
    Some(s"""
      WITH $cappedOverlapSql
      SELECT doc_a, doc_b, inter,
             round(CAST(inter AS DOUBLE) / na.n_sh, 4) AS cont_a_in_b,
             round(CAST(inter AS DOUBLE) / nb.n_sh, 4) AS cont_b_in_a
      FROM inter JOIN nc na ON doc_a = na.doc_id JOIN nc nb ON doc_b = nb.doc_id
      WHERE greatest(round(CAST(inter AS DOUBLE) / na.n_sh, 4),
                     round(CAST(inter AS DOUBLE) / nb.n_sh, 4)) >= $CONT_THRESHOLD"""),
    tags = Set("dedup"))

  // ------------------------------------------------------- MinHash LSH

  private val MH_K = 8 // signature length; 4 bands × 2 rows

  /** MinHash + LSH banding near-dup detection — the scale path. Per
    * doc: an 8-hash MinHash signature banded 4×2, computed by the
    * per-row [[graft.functions.MinHashBands]] kernel in one map-only
    * projection (no ×shingles explode, no aggregate, no shuffle);
    * docs sharing any band bucket become candidates; candidates are
    * verified with exact Jaccard ≥ 0.5. The signature is constant
    * size, so at 100 TB the band join carries four keys per doc
    * rather than the full shingle set; band buckets are md5-uniform
    * (no skew). Hash family: TWO md5s per shingle, each split into
    * four 8-hex-char (32-bit) pieces — h_{4j+k}(s) = substr(md5(j ⧺
    * '|' ⧺ s), 1+8k, 8). Distinct pieces of one md5 are independent
    * uniform functions of the shingle, which is all MinHash needs.
    * 32-bit minima leave collision odds at ~n_shingles/2^32 per hash
    * (the Jaccard verify step screens any stragglers). Deterministic
    * and identical in DuckDB, so the oracle replays the exact
    * pipeline (bands included), not just the verify step. */
  val minhashLsh: GQuery = GQuery(
    "dedup_minhash_lsh",
    (s, dir) => minhashPairs(Tables.documents(s, dir)),
    Some(s"""
      WITH $shinglesSql,
      $minhashCandSql,
      $verifySql
      SELECT doc_a, doc_b, jaccard FROM pairs"""),
    tags = Set("dedup"))

  /** Near-dup pairs (doc_a, doc_b, jaccard) over a (doc_id, text)
    * relation whose doc_id is a key: MinHash band candidates, then the
    * exact Jaccard verify against the full shingle sets.
    *
    * The shingle frame feeds both verify sides but is deliberately NOT
    * persisted: at sf1 (interleaved arms, min of 3) the unpersisted
    * plan took 12.7 s and the persisted one 49.5 s — materialising the
    * exploded shingle frame (~10× doc bytes) costs far more than
    * recomputing it inside the codegen'd consumer stages, and the gap
    * widens with sf. */
  private[graft] def minhashPairs(docs: DataFrame): DataFrame = {
    val bands = minhashBands(docs)
    // docs with < 3 words get a null n_sh; they have no bands, so they
    // never reach the verify joins
    val n = docs.select(col("doc_id"), expr("minhash_bands(text).n_sh").as("n_sh"))
    verifiedJaccard(bandCandidates(bands), shingles(docs), n)
  }

  /** (doc_id, band, bkey) over a (doc_id, text) relation whose doc_id
    * is a key: the 4 band keys of one [[graft.functions.MinHashBands]]
    * call per row, map-only. Docs with < 3 words yield a null and so
    * no rows — no null filter, which the optimizer would push below
    * the projection as a second kernel call. */
  private[graft] def minhashBands(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    docs.select(col("doc_id"),
      posexplode(expr("minhash_bands(text).bkeys")).as(Seq("band", "bkey")))
  }

  /** (doc_a, doc_b) pairs sharing a band bucket: all-to-all inside
    * buckets of B ≤ [[BUCKET_CAP]] docs, successor chains inside
    * bigger (degenerate) ones — min(B²/2, B−1) candidates either way.
    * `chainOrder` must be SIMILARITY-PRESERVING for the chain to
    * connect true clusters: minhash bucket membership is the full band
    * signature, so doc_id order will do; coarse buckets (simhash's
    * 4096/band, which at scale ALL over-cap from random collisions)
    * pass the signature so signature-equal docs sit adjacent. One
    * window over (band, bkey) in chain order yields B and the
    * successor (`lead`): one exchange feeds the self-join and the
    * chain. `carry` columns come back per endpoint as `a_<c>` / `b_<c>`.
    * B sums `weight`, the documents a row stands for: 1 per document,
    * `mult` per contracted signature ([[buildComponents]]). With
    * B = Σ mult a contracted bucket lands on its documents' side of
    * the cap and the candidates stay exact: a small bucket's pairs of
    * distinct signatures are its doc pairs whose signatures differ,
    * and an over-cap (signature, doc_id) chain crosses from one
    * distinct signature to the next exactly where the chain over
    * distinct signatures links them. `bands` must carry every column
    * `chainOrder` and `weight` reference. */
  private[graft] def bandCandidates(bands: DataFrame,
      chainOrder: Seq[Column] = Seq(col("doc_id")), carry: Seq[String] = Nil,
      weight: Column = lit(1L)): DataFrame = {
    val w = Window.partitionBy("band", "bkey").orderBy(chainOrder :+ col("doc_id"): _*)
    val ends = "doc_id" +: carry
    val sized = bands.select((Seq("band", "bkey") ++ ends).map(col) ++
      ends.map(c => lead(col(c), 1).over(w).as(s"nxt_$c")) :+
      sum(weight).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .as("bsize"): _*)
    def pair(a: String => Column, b: String => Column): Seq[Column] =
      Seq(a("doc_id").as("doc_a"), b("doc_id").as("doc_b")) ++
        carry.flatMap(c => Seq(a(c).as(s"a_$c"), b(c).as(s"b_$c")))
    val small = sized.filter(col("bsize") <= BUCKET_CAP)
    val pairs = small.as("x").join(small.as("y"), Seq("band", "bkey"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(pair(c => col(s"x.$c"), c => col(s"y.$c")): _*)
    val fwd = col("doc_id") < col("nxt_doc_id")
    val chained = sized.filter(col("bsize") > BUCKET_CAP && col("nxt_doc_id").isNotNull)
      .select(pair(c => when(fwd, col(c)).otherwise(col(s"nxt_$c")),
        c => when(fwd, col(s"nxt_$c")).otherwise(col(c))): _*)
    pairs.unionByName(chained).distinct()
  }

  /** `hashes`/`mh`/`bands`/`cand` CTEs over an `sh` CTE — the SQL
    * mirror of [[minhashBands]] + [[bandCandidates]]. */
  private[graft] lazy val minhashCandSql: String = s"""
      hashes AS (SELECT doc_id, i,
                        substr(md5(CAST(i // 4 AS VARCHAR) || '|' || shingle),
                               1 + 8 * (i % 4), 8) AS h
                 FROM sh, range($MH_K) t(i)),
      mh AS (SELECT doc_id,
                    min(CASE WHEN i = 0 THEN h END) AS h0, min(CASE WHEN i = 1 THEN h END) AS h1,
                    min(CASE WHEN i = 2 THEN h END) AS h2, min(CASE WHEN i = 3 THEN h END) AS h3,
                    min(CASE WHEN i = 4 THEN h END) AS h4, min(CASE WHEN i = 5 THEN h END) AS h5,
                    min(CASE WHEN i = 6 THEN h END) AS h6, min(CASE WHEN i = 7 THEN h END) AS h7
             FROM hashes GROUP BY doc_id),
      bands AS (
        SELECT doc_id, 0 AS band, md5(h0 || h1) AS bkey FROM mh
        UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM mh
        UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM mh
        UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM mh),
      ${bandCandSql("doc_id")}"""

  /** `bsz` → `cand` CTEs over a `bands`(doc_id, band, bkey, …) CTE — the
    * SQL mirror of [[bandCandidates]]; `chainOrder` is its over-cap
    * chain's ORDER BY list, ending in doc_id. */
  private[graft] def bandCandSql(chainOrder: String): String = s"""
      bsz AS (SELECT band, bkey, count(*) AS bsize FROM bands GROUP BY 1, 2),
      bandss AS (SELECT b.*, bsize FROM bands b JOIN bsz USING (band, bkey)),
      cand_small AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
                     FROM bandss x JOIN bandss y
                       ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
                     WHERE x.bsize <= $BUCKET_CAP),
      cand_chain AS (SELECT least(doc_id, nxt) AS doc_a, greatest(doc_id, nxt) AS doc_b
                     FROM (SELECT doc_id,
                                  lead(doc_id) OVER (PARTITION BY band, bkey
                                                     ORDER BY $chainOrder) AS nxt
                           FROM bandss WHERE bsize > $BUCKET_CAP)
                     WHERE nxt IS NOT NULL),
      cand AS (SELECT DISTINCT doc_a, doc_b FROM
               (SELECT * FROM cand_small UNION ALL SELECT * FROM cand_chain))"""

  // ----------------------------------------------------------- SimHash

  /** `toks`/`th`/`bits`/`sig`(doc_id, simhash) CTEs over `documents` —
    * the SQL mirror of [[simhashSignatures]]. */
  private val simhashSigSql: String = s"""
      toks AS (SELECT DISTINCT doc_id, t AS tok
                    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
                    WHERE length(t) > 0),
      th AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 12))::BIGINT AS h FROM toks),
      bits AS (SELECT doc_id, i,
                      sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
               FROM th, range(48) t(i) GROUP BY 1, 2),
      sig AS (SELECT doc_id,
                     CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
              FROM bits GROUP BY 1)"""

  /** [[simhashSigSql]] plus the 4 × 12-bit `bands` and their capped
    * candidates in signature chain order — the SQL mirror of the
    * candidate stage of [[simhashPairsFrom]]. */
  private val simhashCandSql: String = s"""$simhashSigSql,
      bands AS (SELECT doc_id, simhash, b AS band, (simhash >> (12 * b)) & 4095 AS bkey
                FROM sig, range(4) t(b)),
      ${bandCandSql("simhash, doc_id")}"""

  /** 48-bit SimHash per document. Token hash = first 12 hex chars of
    * md5 (48 bits, fits a long with headroom — and md5 lets the DuckDB
    * oracle replay the identical hash stream); the per-bit majority
    * vote runs per row in the [[graft.functions.SimHash48]] kernel, so
    * the plan is one map-only projection — no ×tokens explode, no
    * aggregate, no shuffle (the oracle's explode ×48 spelling is the
    * semantic reference, not the plan). Output carries the 4 × 12-bit
    * hamming bands used for candidate bucketing — near-identical docs
    * land in the same band bucket; DedupSpec asserts a 1-word edit
    * stays within hamming ≤ 3. */
  val simhash: GQuery = GQuery(
    "dedup_simhash",
    (s, dir) => simhashSignatures(Tables.documents(s, dir)),
    Some(s"""
      WITH $simhashSigSql
      SELECT doc_id, simhash,
             (simhash >> 0) & 4095 AS band0, (simhash >> 12) & 4095 AS band1,
             (simhash >> 24) & 4095 AS band2, (simhash >> 36) & 4095 AS band3
      FROM sig"""),
    tags = Set("dedup"))

  private val HAM_T = 3 // max hamming distance for a simhash near-dup

  /** The [[simhashPairs]] body over a prebuilt (doc_id, simhash, …)
    * signature frame, so [[components]] can share one signature pass.
    * `simhash` and the `carry` columns ride [[bandCandidates]] to both
    * endpoints (`a_<c>` / `b_<c>`): the hamming verify joins nothing. */
  private[graft] def simhashPairsFrom(sigs: DataFrame, carry: Seq[String] = Nil,
      weight: Column = lit(1L)): DataFrame = {
    bandCandidates(simhashBands(sigs), Seq(col("simhash")), "simhash" +: carry, weight)
      .withColumn("hamming", bit_count(col("a_simhash").bitwiseXOR(col("b_simhash"))).cast("long"))
      .filter(col("hamming") <= HAM_T)
      .select(col("doc_a") +: col("doc_b") +: col("hamming") +:
        carry.flatMap(c => Seq(col(s"a_$c"), col(s"b_$c"))): _*)
  }

  /** SimHash near-dup PAIRS — the verify stage over [[simhash]]'s
    * signatures: candidates share a 12-bit hamming band (equi-join on
    * (band, bucket), degenerate buckets capped via
    * [[bandCandidates]]), verified by popcount of the
    * XORed 48-bit signatures ≤ [[HAM_T]]. Everything is integer
    * bit-math on md5-derived hashes, so the DuckDB oracle replays
    * signatures, banding, candidates and verify exactly. Constant
    * 8-byte signature per doc — like [[minhashLsh]], a shape whose
    * shuffle width is independent of document size. */
  val simhashPairs: GQuery = GQuery(
    "dedup_simhash_pairs",
    (s, dir) => simhashPairsFrom(simhashSignatures(Tables.documents(s, dir))),
    Some(s"""
      WITH $simhashCandSql
      SELECT doc_a, doc_b, CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
      FROM cand JOIN sig sa ON doc_a = sa.doc_id JOIN sig sb ON doc_b = sb.doc_id
      WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $HAM_T"""),
    tags = Set("dedup"))

  // ------------------------------------------- dup clusters (components)

  /** Iteration cap for [[componentsOf]]. Neighbor-min propagation
    * alternated with pointer jumping halves label-chain depth every
    * round, so convergence is O(log n) even on the pathological path
    * graphs the over-cap successor chains produce — 30 rounds covers
    * corpora far beyond 2³⁰ documents. */
  private[graft] val CC_MAX_ROUNDS = 30

  /** Directed-pair count (4 entries per undirected edge) below which
    * [[componentsOf]] solves the graph with a driver union-find
    * instead of the distributed fixpoint: ~2M longs ≈ 32 MB raw —
    * broadcast-build-side order, a hard driver-memory bound. */
  private[graft] val CC_LOCAL_MAX_PAIRS = 1L << 21

  /** Connected components over an undirected near-dup edge list:
    * every vertex ends labeled with the smallest doc_id reachable
    * from it — the canonical dup-cluster id a curation pipeline keys
    * its keep-one-per-cluster decision on.
    *
    * Algorithm: alternate (a) neighbor-min label propagation with
    * (b) pointer jumping (label ← label's own label). (a) alone needs
    * O(diameter) rounds — fatal on the path-shaped clusters the
    * over-cap bucket chains emit; (b) halves pointer-chain depth each
    * round, giving O(log n) total. The fixpoint (component = min
    * reachable id) is unique, so the result is deterministic
    * regardless of how many rounds ran — which is what lets an
    * ahead-of-time recursive-SQL oracle replay it.
    *
    * The INNER LOOP is deliberately RDD, not DataFrame — the one
    * place in this engine where dropping below Catalyst is the right
    * call (same reason GraphX is RDD-based). A fixpoint loop builds a
    * NEW plan every round, and per-round Catalyst analysis + codegen
    * costs ~1 s regardless of data size: measured here, the DataFrame
    * spelling of this loop spent 11.5 s on a 3.7 k-vertex graph with
    * 95 % of it in planning, the RDD spelling runs the identical
    * rounds in well under a second. At scale the RDD shape is also
    * the stronger one: edges and labels share one HashPartitioner,
    * so the neighbor-min join is NARROW on both sides (zero shuffle),
    * the min-aggregate is a map-side-combined `reduceByKey`, and the
    * two pointer jumps shuffle only the label frame. Each round's
    * labels are cached and the previous round's unpersisted — O(1)
    * memory across rounds, executor-cache durability. RECOVERY
    * CONTRACT: like the localCheckpoint default in
    * [[graft.Checkpoints]], an executor loss mid-loop fails the job
    * and a deterministic resubmit reproduces the labels; a
    * fault-tolerant deployment checkpoints the label RDD every ~10
    * rounds to the reliable dir (the RDD twin of
    * `spark.graft.checkpoint.reliable` — not conf-wired here because
    * the RDD loop manages its own persist/unpersist lifecycle). */
  private[graft] def componentsOf(verts: DataFrame, edges: DataFrame,
      localMaxPairs: Long = CC_LOCAL_MAX_PAIRS): DataFrame = {
    val spark = verts.sparkSession
    import spark.implicits._
    // every vertex with its (doc_id, c) label, singletons labelled by themselves
    def labeled(labels: DataFrame): DataFrame = verts.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("c"), col("doc_id")).as("component"))
    // undirected edges PLUS a self-loop per edge-vertex: the self-loop
    // folds "min with my own label" into the neighbor-min aggregate,
    // so each round needs no separate left-join backfill. Duplicate
    // self-loops are harmless under min.
    val ePairs = edges.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].rdd
      .flatMap { case (a, b) => Iterator((a, b), (b, a), (a, a), (b, b)) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // size the round partitioning from the MEASURED edge count — the
    // RDD world gets no AQE coalescing, and a fixpoint loop multiplies
    // any per-stage task overhead by (stages/round × rounds). One task
    // per ~200 k edge pairs, capped at 8× cluster parallelism: a
    // contracted near-dup graph at test scale collapses to one task
    // per stage, a 100 TB corpus still fans out with the data.
    val nE = ePairs.count()
    // BROADCAST-SCALE FAST PATH: below [[CC_LOCAL_MAX_PAIRS]] directed
    // pairs (≈32 MB — the same order as a broadcast-join build side,
    // which Spark also collects to the driver) the graph is CONTROL
    // data, not data: a driver union-find labels it in one pass
    // instead of ~6 fixpoint rounds × ~5 stages of distributed
    // scheduling (measured at sf0.1: the loop was 2.7 s of a 4.5 s
    // cold build for a 3.7 k-vertex contracted graph, and its ~30
    // tiny jobs were the build's variance source). The threshold is
    // a hard bound on driver memory; a 100 TB near-dup graph takes
    // the distributed loop below, unchanged. Union-by-min + path
    // compression: attaching the larger root under the smaller keeps
    // every root the component MINIMUM, which is exactly the label
    // contract the distributed fixpoint converges to — both branches
    // compute the same unique fixpoint, so the oracle cannot tell
    // them apart.
    if (nE <= localMaxPairs) {
      val pairs = ePairs.collect() // bounded by the threshold above
      ePairs.unpersist(blocking = false)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var r = x0
        while (parent.get(r) != r) { // path-halving compression
          parent.put(r, parent.get(parent.get(r)))
          r = parent.get(r)
        }
        r
      }
      pairs.foreach { case (a, b) =>
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
      }
      import scala.jdk.CollectionConverters._
      return labeled(parent.keySet().asScala.toSeq.map(v => (v, find(v))).toDF("doc_id", "c"))
    }
    val parts = math.max(1L, math.min(nE / 200000L + 1,
      8L * spark.sparkContext.defaultParallelism)).toInt
    val part = new org.apache.spark.HashPartitioner(parts)
    // partitioned ONCE by src; every per-round join against it is then
    // narrow (zero shuffle on the edge side)
    val und = ePairs.partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // iterate ONLY over edge-incident vertices: singleton docs never
    // change label, and on a real corpus the near-dup graph is a small
    // fraction of the documents — the loop pays per EDGE VERTEX, not
    // per document. Singletons rejoin at the end via a left join.
    var labels = und.mapValues(_ => ()).reduceByKey(part, (a, _) => a)
      .map { case (v, _) => (v, v) }
      .partitionBy(part)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // convergence probe: labels are initialized to own id and only
    // ever DECREASE (min over a set containing the current label), so
    // a round changed something iff sum(component) strictly dropped.
    // BigInt keeps the sum exact at any corpus size, and the probe is
    // a single pass over the round's cached labels — no extra
    // change-count join. The driver sees one scalar per round:
    // control flow, not a data collect.
    def checksum(r: org.apache.spark.rdd.RDD[(Long, Long)]): BigInt =
      r.mapPartitions(it => Iterator(it.foldLeft(BigInt(0))(_ + _._2)))
        .fold(BigInt(0))(_ + _)
    var prevSum = checksum(labels)
    var done = nE == 0 // no edges → nothing to iterate
    var round = 0
    while (!done && round < CC_MAX_ROUNDS) {
      // neighbor-min over the co-partitioned edge list (narrow join,
      // map-side-combined min) …
      val stepped = und.join(labels, part)
        .map { case (_, (dst, lab)) => (dst, lab) }
        .reduceByKey(part, math.min(_: Long, _: Long))
      // … then pointer jump TWICE through the previous round's labels:
      // label(v) ≤ v and only decreases, so substituting
      // prev_label(component) for component stays within the component
      // and monotone-decreasing; neighbor-min alone already guarantees
      // the fixpoint is the component min — jumps only accelerate.
      // Component values are doc_ids of edge-vertices, so the lookup
      // always hits: inner joins, no fallback needed.
      def jump(r: org.apache.spark.rdd.RDD[(Long, Long)]) =
        r.map { case (d, c) => (c, d) }.join(labels, part)
          .map { case (_, (d, clab)) => (d, clab) }
      val next = jump(jump(stepped))
        .partitionBy(part)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val s = checksum(next)
      done = s == prevSum
      prevSum = s
      labels.unpersist(blocking = false)
      labels = next
      round += 1
    }
    require(done, s"componentsOf did not converge in $CC_MAX_ROUNDS rounds")
    ePairs.unpersist(blocking = false) // und superseded it after round 1
    log.info(s"[components] converged in $round rounds")
    labeled(labels.toDF("doc_id", "c"))
  }

  /** The memoized (doc_id, component, is_rep) label frame — built and
    * persisted ONCE per (context, dir) via [[graft.Caches.memo]], the
    * shared INPUT of `pipeline_split_cluster`'s routing coin: a real
    * curation pipeline materializes the cluster labels once and every
    * downstream stage reads them. `dedup_components`, whose output
    * the labels are, builds them fresh ([[buildComponents]]). */
  private[graft] def componentsFrame(s: SparkSession, dir: String): DataFrame =
    graft.Caches.memo(s, "dedupComponents", dir)(buildComponents(Tables.documents(s, dir)))

  /** The dup-cluster labels, contracted before they are paired:
    * `docRep` (doc_id → `rep`, the min doc_id of its simhash) is
    * persisted, candidates, verify and [[componentsOf]] run on the
    * distinct signatures (rep, simhash, mult) — `mult` docs each — and
    * the labels join back through `rep`. Exact: same-signature docs
    * share a component (hamming 0), and with bsize = Σ mult every
    * bucket lands on its documents' side of [[BUCKET_CAP]]
    * ([[bandCandidates]]). Contraction deletes the duplicate masses
    * whose chains drive both the round count and the iterated frame
    * size (the sf1 anchor measured 14 rounds / 128 s uncontracted). */
  private[graft] def buildComponents(docs: DataFrame,
      localMaxPairs: Long = CC_LOCAL_MAX_PAIRS): DataFrame = {
    val docRep = graft.Caches.persistTracked(
      simhashSignatures(docs).select(col("doc_id"), col("simhash"),
        min(col("doc_id")).over(Window.partitionBy(col("simhash"))).as("rep")))
    val reps = docRep.groupBy(col("rep").as("doc_id"), col("simhash"))
      .agg(count(lit(1)).as("mult"))
    val comp = componentsOf(reps, simhashPairsFrom(reps, weight = col("mult")), localMaxPairs)
    docRep
      .join(comp.select(col("doc_id").as("rep"), col("component")), Seq("rep"))
      .select(col("doc_id"), col("component"),
        (col("doc_id") === col("component")).as("is_rep"))
  }

  /** Dup-cluster assignment for EVERY document: connected components
    * of the [[simhashPairs]] near-dup graph (singletons are their own
    * cluster), component id = min doc_id in the cluster, plus the
    * `is_rep` keep-flag (true for exactly one doc per cluster). The
    * DuckDB oracle replays the full chain — signatures, banding,
    * capped candidates, hamming verify, then transitive closure via a
    * recursive CTE — so the hash check covers the graph algorithm,
    * not just the edge list. */
  val components: GQuery = GQuery(
    "dedup_components",
    (s, dir) => buildComponents(Tables.documents(s, dir)),
    Some(s"""
      $componentsOracleChain
      SELECT doc AS doc_id, min(lab) AS component, min(lab) = doc AS is_rep
      FROM reach GROUP BY doc"""),
    tags = Set("dedup"))

  /** The full DuckDB replay of the dup-cluster chain (signatures →
    * banding → capped candidates → hamming verify → recursive-CTE
    * closure), up to and including `reach(doc, lab)` — shared by the
    * [[components]] oracle and downstream consumers of the cluster
    * labels (pipeline_split_cluster). A `def` so declaration order
    * doesn't matter during object init. */
  private[graft] def componentsOracleChain: String = s"""
      WITH RECURSIVE $simhashCandSql,
      pairs AS (SELECT doc_a, doc_b
                FROM cand JOIN sig sa ON doc_a = sa.doc_id
                          JOIN sig sb ON doc_b = sb.doc_id
                WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $HAM_T),
      und AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach AS (
        SELECT doc_id AS doc, doc_id AS lab FROM documents
        UNION
        SELECT u.b AS doc, r.lab FROM reach r JOIN und u ON u.a = r.doc
      )"""

  /** (doc_id, simhash, band0..band3) over a (doc_id, text) relation
    * whose doc_id is a key — one [[graft.functions.SimHash48]] call per
    * row, map-only; docs without a token drop out. */
  private[graft] def simhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val bandCols = (0 until 4).map(b => simhashBand(b).as(s"band$b"))
    // simhash48 is null exactly when the text has no non-space byte.
    // Filtering on that cheap test, not on isNotNull(simhash), keeps
    // the optimizer from pushing a second kernel call below the
    // projection.
    docs.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"), expr("simhash48(text)").as("simhash"))
      .select(Seq(col("doc_id"), col("simhash")) ++ bandCols: _*)
  }

  /** The `b`-th 12-bit hamming band of the `simhash` column. */
  private def simhashBand(b: Int): Column =
    shiftright(col("simhash"), 12 * b).bitwiseAND(lit(0xfffL))

  /** `sigs` with one row per hamming band: (…, band, bkey). */
  private[graft] def simhashBands(sigs: DataFrame): DataFrame =
    sigs.select(col("*"), posexplode(array((0 until 4).map(simhashBand): _*)).as(Seq("band", "bkey")))

  // ------------------------------------------------- embedding cosine

  private val EMB_BANDS = 4
  /** Default sign-band width for [[embeddingPairs]]: 2^4 = 16 buckets
    * per band — sized for THIS corpus (~10³ vectors) and its low
    * (0.4) threshold. The parameter, not this default, is the scale
    * contract: bitsPerBand ≈ log₂(N / target_bucket_size). */
  private[graft] val EMB_BITS = 4

  /** Embedding-cosine near-dup pairs (cos ≥ 0.4 on this corpus; real
    * pipelines run ≥0.9 where sign-LSH recall is ≥0.95). Blocking:
    * [[graft.similarity.Ann.signBands]] md5-derived random-hyperplane
    * signs, [[EMB_BANDS]] bands × `bitsPerBand` bits — an equi-join
    * on (band, bucket), no N². Verification: cosine from ×10000
    * integer-quantized vectors, so dot and norms are exact integer
    * sums (order-independent) and the final divide/sqrt/round is
    * bit-identical in DuckDB — the oracle replays hyperplane signs,
    * banding AND verify exactly.
    *
    * Scale note: these STRUCTURAL buckets must not be chain-capped
    * (that guts recall — unlike minhash/simhash buckets, big buckets
    * here are the design, not degeneracy). Instead bucket size is
    * governed by `bitsPerBand`: buckets per band = 2^bits, so width
    * grows with the corpus (8–16 bits at web scale, where the ≥0.9
    * threshold keeps per-plane agreement ≥0.86 and recall holds) and
    * the all-to-all inside a bucket stays bounded at any N. DedupSpec
    * pins the max-bucket-size drop as width rises on a clustered
    * corpus. */
  private[graft] def embeddingPairs(s: SparkSession, dir: String,
      bitsPerBand: Int = EMB_BITS): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val q = Tables.embeddings(s, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT))").as("e"))
    val norms = q.select(col("vec_id"), expr("dot_long(e, e)").as("nn"))
    val bands = Ann.signBands(q, EMB_BANDS, bitsPerBand)
    val cand = bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    val cos = round(col("dot").cast("double") /
      (sqrt(col("na.nn").cast("double")) * sqrt(col("nb.nn").cast("double"))), 6)
    cand
      .join(q.select(col("vec_id"), col("e").as("ea")), col("vec_a") === col("vec_id")).drop("vec_id")
      .join(q.select(col("vec_id"), col("e").as("eb")), col("vec_b") === col("vec_id")).drop("vec_id")
      .withColumn("dot", expr("dot_long(ea, eb)"))
      .join(norms.as("na"), col("vec_a") === col("na.vec_id"))
      .join(norms.as("nb"), col("vec_b") === col("nb.vec_id"))
      .withColumn("cosine", cos)
      .filter(col("cosine") >= C_THRESHOLD)
      .select(col("vec_a"), col("vec_b"), col("cosine"))
  }

  val embedding: GQuery = GQuery(
    "dedup_embedding",
    (s, dir) => embeddingPairs(s, dir),
    Some(s"""
      WITH ${Ann.qvNormsSql},
      ${Ann.signBandsSql(EMB_BANDS, EMB_BITS)},
      cand AS (SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
               FROM bands x JOIN bands y
                 ON x.band = y.band AND x.bkey = y.bkey AND x.vec_id < y.vec_id),
      dots AS (SELECT vec_a, vec_b,
                      CAST(list_sum(list_transform(list_zip(qa.e, qb.e), p -> p[1] * p[2])) AS BIGINT) AS dot
               FROM cand JOIN qv qa ON vec_a = qa.vec_id JOIN qv qb ON vec_b = qb.vec_id)
      SELECT vec_a, vec_b, round(dot / (sqrt(na.nn) * sqrt(nb.nn)), 6) AS cosine
      FROM dots JOIN norms na ON vec_a = na.vec_id JOIN norms nb ON vec_b = nb.vec_id
      WHERE round(dot / (sqrt(na.nn) * sqrt(nb.nn)), 6) >= $C_THRESHOLD"""),
    tags = Set("dedup"))

  /** Semantic-dedup similarity cut. Defined AS [[C_THRESHOLD]] (the
    * pairwise embedding cut) so the two embedding-dedup keys cannot
    * drift apart on what "near-duplicate" means; SemDeDup-style
    * production runs tune this per corpus (the published sweet spot is
    * far higher, ~0.95+, on real text embeddings — this synthetic
    * corpus clusters looser). */
  private[graft] val SEM_THRESHOLD = C_THRESHOLD

  /** The SemDeDup drop set: every vector of `withE` (vec_id, `list`,
    * e) with a LOWER-id mate in the same `list` at cosine ≥
    * `threshold` — pairs are equi-joined on `list`, never crossed. */
  private def listDups(withE: DataFrame, list: String, threshold: Double): DataFrame =
    withE.as("a")
      .join(withE.as("b"),
        col(s"a.$list") === col(s"b.$list") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", Ann.cosine(expr("dot_long(a.e, b.e)"),
        expr("dot_long(a.e, a.e)"), expr("dot_long(b.e, b.e)")))
      .filter(col("cosine") >= threshold)
      .select(col("b.vec_id").as("vec_id")).distinct()

  /** Cluster-then-dedup over quantized embeddings — `vecs` is
    * `(vec_id, e: array<bigint>)`. Shared by the oracle key and
    * DedupSpec (which drives it at several thresholds). */
  private[graft] def semanticFrom(vecs: DataFrame, threshold: Double): DataFrame = {
    val cents = Ann.ivfLloydStep(vecs, Ann.ivfSeeds(vecs))
    val assign = Ann.ivfAssign(vecs, cents)
    val sizes = assign.groupBy(col("c_id")).agg(count(lit(1)).as("n_cluster"))
    val dups = listDups(assign.join(vecs, Seq("vec_id")), "c_id", threshold)
    assign.join(broadcast(sizes), Seq("c_id"))
      .join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"), col("n_cluster"),
        col("dup").isNull.as("kept"))
  }

  /** Production-path semantic dedup: [[semanticFrom]]'s SemDeDup
    * keep-rule composed with [[graft.similarity.Ann.ivfBalanced]]'s
    * balance-guarded index — the 100 TB wiring the oracle key's fixed
    * construction documents but cannot replay (the guard's Lloyd step
    * count and hash-split depend on runtime list sizes). Candidate
    * pairs join on `list_id` (= struct(c_id, sub)) rather than raw
    * `c_id`, so even a duplicate-mass corpus — 10⁶ copies of one
    * embedding, which no centroid geometry separates — bounds every
    * within-list all-to-all at ~cap = maxListFactor·N/c rows: pairs
    * per list ≤ ~cap²/2 regardless of N or skew. The recall cost of
    * the split is the documented SemDeDup trade: copies landing in
    * different sub-lists each keep one representative (≤ nsub
    * survivors per ε-tube instead of 1) — still a ~cap-fold
    * reduction of the mass, never a quadratic blow-up. Spec-only by
    * design, like `ivfBalanced` itself; DedupSpec pins the pair
    * bound, the per-sub-list representative rule, and recall against
    * the unbalanced build on a split-free corpus. Caller releases
    * tracked persists via [[graft.Caches.release]] after the
    * terminal action. */
  private[graft] def semanticBalanced(vecs: DataFrame,
      threshold: Double = SEM_THRESHOLD,
      c: Int = Ann.IVF_C,
      maxListFactor: Double = 4.0, maxSteps: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(vecs.sparkSession)
    // minSteps=1: anchor on the same seeds→one-Lloyd-step clustering
    // as [[semanticFrom]]. When the guard never engages past it
    // (lloydSteps == 1 AND no split) the keep/drop decision is
    // IDENTICAL to the oracle-checked key — DedupSpec pins equality
    // after asserting exactly that construction (a second Lloyd step
    // with sub==0 would also pass a split-only check yet diverge)
    val idx = Ann.ivfBalanced(vecs, c, maxListFactor, maxSteps, minSteps = 1)
    val sizes = idx.assign.groupBy(col("list_id")).agg(count(lit(1)).as("n_list"))
    val dups = listDups(idx.assign.join(vecs, Seq("vec_id")), "list_id", threshold)
    idx.assign.join(broadcast(sizes), Seq("list_id"))
      .join(dups.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"), col("list_id"), col("n_list"),
        col("dup").isNull.as("kept"))
  }

  /** Semantic deduplication, SemDeDup-shaped (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a coarse
    * k-means, then compare pairs ONLY within a cluster and drop every
    * vector that has a lower-id cluster-mate above the similarity
    * cut. This is the third member of the embedding-dedup family and
    * the one that scales past pairwise blocking: [[embedding]] emits
    * near-dup PAIRS (LSH-banded), this emits a per-vector KEEP/DROP
    * decision whose candidate space is bounded by cluster size — at
    * 100 TB the knob is the centroid count C ∝ N (cluster size stays
    * ~N/C), and the production index build is [[graft.similarity
    * .Ann.ivfBalanced]], whose Lloyd-until-balanced loop plus
    * hash-split guarantees no oversized cluster regardless of
    * duplicate mass. The oracle key is the FIXED one-step
    * construction (`ann_ivf_topk`'s [[graft.similarity.Ann.ivfLloydStep]]
    * and its SQL mirror) so DuckDB can replay centroids, assignment and
    * every within-cluster cosine exactly (quantized-integer math).
    * Within-cluster pairing is an equi-join on `c_id` — never a
    * cross join; the keep rule (drop iff a LOWER-id mate is within
    * the cut) is order-deterministic, needs no transitive closure,
    * and is the published SemDeDup policy (keep one representative
    * per ε-tube, which one is arbitrary — id order makes it
    * replayable). */
  val semantic: GQuery = GQuery(
    "dedup_semantic",
    (s, dir) => {
      graft.functions.GraftFunctions.register(s)
      val vecs = Tables.embeddings(s, dir)
        .select(col("vec_id"), Ann.quant.as("e"))
      semanticFrom(vecs, SEM_THRESHOLD)
    },
    Some(s"""
      WITH ${Ann.qvNormsSql},
      ${Ann.ivfLloydSql},
      assign AS (
        SELECT vec_id, c_id FROM (
          SELECT vec_id, c_id,
                 row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, c_id) AS rn
          FROM scored_cents) WHERE rn = 1),
      sizes AS (SELECT c_id, count(*) AS n_cluster FROM assign GROUP BY 1),
      pairs AS (SELECT a.vec_id AS va, b.vec_id AS vb
                FROM assign a JOIN assign b ON a.c_id = b.c_id AND a.vec_id < b.vec_id),
      dots AS (SELECT va, vb,
                      CAST(list_sum(list_transform(list_zip(qa.e, qb.e), p -> p[1] * p[2])) AS BIGINT) AS dot
               FROM pairs JOIN qv qa ON va = qa.vec_id JOIN qv qb ON vb = qb.vec_id),
      dups AS (SELECT DISTINCT vb AS vec_id
               FROM dots JOIN norms na ON va = na.vec_id JOIN norms nb ON vb = nb.vec_id
               WHERE round(dot / (sqrt(na.nn) * sqrt(nb.nn)), 6) >= $SEM_THRESHOLD)
      SELECT a.vec_id, a.c_id, sizes.n_cluster, (d.vec_id IS NULL) AS kept
      FROM assign a JOIN sizes USING (c_id) LEFT JOIN dups d ON a.vec_id = d.vec_id"""),
    tags = Set("dedup"))

  // ------------------------------------------- winnowing fingerprints

  /** Fingerprints hotter than this document frequency are dropped from
    * pair blocking (corpus-wide boilerplate k-grams carry no dedup
    * signal) — the same heavy-hitter discipline as [[DF_CAP]]. */
  private[graft] val FP_DF_CAP = 64

  /** Winnowing-fingerprint near-dup pairs over an arbitrary
    * (doc_id, text) relation — the operator body of
    * [[fingerprintPairs]]. */
  private[graft] def fingerprintPairsOf(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val fp = docs
      .select(col("doc_id"), explode(expr("winnow_fps(text, 8, 4)")).as("fp"))
    // sizes count ALL of a doc's fingerprints, hot ones included
    val sizes = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("nfp"))
    val (pairs, _) = cappedOverlap(fp, "fp", FP_DF_CAP)
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("nfp").as("nfp_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("nfp").as("nfp_b")), Seq("doc_b"))
      .filter(col("inter") * 2 >= least(col("nfp_a"), col("nfp_b")))
      .select(col("doc_a"), col("doc_b"), col("inter").as("shared"), col("nfp_a"), col("nfp_b"))
  }

  /** MOSS-style near-dup detection on winnowing fingerprints: the
    * `text_fingerprint` sets become the blocking key — two docs
    * sharing ≥ half of the smaller doc's fingerprints are a near-dup
    * pair. A third independent near-dup family (after shingle-Jaccard
    * and MinHash/SimHash) with a different sensitivity profile:
    * winnowing guarantees any shared run ≥ w+k-1 chars leaves a
    * shared fingerprint, so it catches long verbatim spans that
    * word-level shingles dilute.
    *
    * Scale shape: the pair join is [[cappedOverlap]] over individual
    * fingerprints with the [[FP_DF_CAP]] heavy-hitter drop, so no key
    * fans out past ~cap²/2; the winnow density bounds fingerprints per
    * doc at ~len/w — no all-pairs stage exists. */
  val fingerprintPairs: GQuery = GQuery(
    "dedup_fingerprint",
    (s, dir) => fingerprintPairsOf(Tables.documents(s, dir)),
    Some(s"""
      WITH h AS (
        SELECT doc_id,
               list_transform(range(length(text) - 7),
                 i -> ('0x' || substr(md5(substr(text, i + 1, 8)), 1, 15))::BIGINT) AS kh
        FROM documents),
      w AS (
        SELECT doc_id,
               list_distinct(list_transform(range(len(kh) - 3),
                 j -> list_min(kh[j + 1:j + 4]))) AS fps
        FROM h),
      fp AS (SELECT doc_id, unnest(fps) AS fp FROM w),
      sizes AS (SELECT doc_id, count(*) AS nfp FROM fp GROUP BY 1),
      hot AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) > $FP_DF_CAP),
      cold AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM hot)),
      pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
                FROM cold a JOIN cold b ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b, shared, sa.nfp AS nfp_a, sb.nfp AS nfp_b
      FROM pairs
      JOIN sizes sa ON doc_a = sa.doc_id
      JOIN sizes sb ON doc_b = sb.doc_id
      WHERE 2 * shared >= least(sa.nfp, sb.nfp)"""),
    tags = Set("dedup"))

  def all: Seq[GQuery] =
    Seq(exact, incremental, paragraph, ngramJaccard, containment, minhashLsh,
      simhash, simhashPairs, components, embedding, semantic, fingerprintPairs)
}
