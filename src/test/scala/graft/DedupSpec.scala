package graft

import graft.dedup.Dedup
import org.apache.spark.sql.functions._

/** Semantics of the dedup family on constructed inputs (the testdata
  * correctness gate covers the real tables; these pin behaviour on
  * known dups/non-dups). */
class DedupSpec extends SparkSpecBase {

  private def docs(rows: (Long, String)*) = {
    import TestSession.spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts and keeps the min doc_id") {
    val d = docs(1L -> "a b c", 2L -> "a b c", 3L -> "x y z")
    val got = d.groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep"))
      .orderBy(col("keep")).collect()
    assert(got.length == 2)
    assert(got(0).getLong(1) == 2 && got(0).getLong(2) == 1) // dup group keeps id 1
  }

  test("simhash: identical docs hash equal; a 1-word edit stays within hamming 3 of 48 bits") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val edit = base.replace("today", "tomorrow")
    val sigs = Dedup.simhashSignatures(docs(1L -> base, 2L -> base, 3L -> edit))
      .orderBy(col("doc_id")).collect()
    val (s1, s2, s3) = (sigs(0).getLong(1), sigs(1).getLong(1), sigs(2).getLong(1))
    assert(s1 == s2)
    assert(java.lang.Long.bitCount(s1 ^ s3) <= 3, s"hamming ${java.lang.Long.bitCount(s1 ^ s3)}")
  }

  test("a corpus-hot shingle generates zero candidate pairs (df cap bounds the pair join)") {
    // 1000 docs share one boilerplate shingle but are otherwise unique:
    // without the df cap the blocking join would emit ~500k pairs from
    // that single key; with it, the hot shingle is dropped from
    // blocking and the unique shingles pair nothing
    val hot = docs((1L to 1000L).map(i => i -> s"click here now unique$i words$i tail$i"): _*)
    val (hotPairs, _) = Dedup.cappedOverlap(Dedup.shingles(hot), "shingle", Dedup.DF_CAP)
    assert(hotPairs.count() == 0)
    // and a genuine near-dup pair is still found even when it ALSO
    // shares the hot shingle, via its non-hot shared shingles
    val planted = docs(
      (Seq(2001L -> "click here now the quick brown fox jumps over the lazy dog",
           2002L -> "click here now the quick brown fox jumps over the lazy cat") ++
        (1L to 1000L).map(i => i -> s"click here now unique$i words$i tail$i")): _*)
    val (pairs, _) = Dedup.cappedOverlap(Dedup.shingles(planted), "shingle", Dedup.DF_CAP)
    val cand = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cand.toSet == Set((2001L, 2002L)), s"got ${cand.toSeq}")
  }

  /** The degenerate minhash corpus: 1000 copies of one boilerplate
    * text (one over-cap bucket per band) plus a planted near-dup pair. */
  private lazy val planted = docs(
    (Seq(2001L -> "the quick brown fox jumps over the lazy dog",
         2002L -> "the quick brown fox jumps over the lazy cat") ++
      (1L to 1000L).map(i => i -> "same boilerplate text every single time")): _*)

  test("a degenerate band bucket degrades to linear chain candidates that still dedup the cluster") {
    // 1000 docs with identical shingle sets land in the same 4 band
    // buckets; all-to-all would be ~500k pairs per band from one key —
    // the over-cap fallback pairs each doc with its successor instead
    // (999 pairs), which still connects the cluster transitively
    val degenerate = docs((1L to 1000L).map(i => i -> "same boilerplate text every single time"): _*)
    val chain = Dedup.bandCandidates(Dedup.minhashBands(degenerate))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(chain.length == 999, s"expected 999 chain pairs, got ${chain.length}")
    assert(chain.toSet == (1L until 1000L).map(i => (i, i + 1)).toSet)
    // keep-min over verified chain losers collapses the cluster to one doc
    val losers = Dedup.minhashPairs(degenerate)
      .select(col("doc_b")).distinct().count()
    assert(losers == 999, s"expected 999 losers, got $losers")
    // a genuine near-dup pair in a small bucket is still found all-to-all
    val cand = Dedup.bandCandidates(Dedup.minhashBands(planted))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((2001L, 2002L)), s"planted pair missing from ${cand.size} candidates")
  }

  /** 300 copies of one text, 60 one-word edits of it (every third
    * doubled) and 20 unrelated docs: each band bucket of the base
    * signature holds more than [[Dedup.BUCKET_CAP]] docs but far fewer
    * distinct signatures, and the doubled edits fill small buckets. */
  private lazy val overCapCorpus = {
    val words = (1 to 30).map(i => s"word$i")
    val base = words.mkString(" ")
    val edits = (1 to 60).flatMap { i =>
      val t = words.updated(i % 30, s"edit$i").mkString(" ")
      ((1000L + i) -> t) +: (if (i % 3 == 0) Seq((2000L + i) -> t) else Nil)
    }
    val unrelated = (1L to 20L).map(i => (3000L + i) -> (1 to 12).map(j => s"u${i}x$j").mkString(" "))
    docs((1L to 300L).map(_ -> base) ++ edits ++ unrelated: _*)
  }

  /** The shape of a simhash band frame: (docs, distinct signatures) of
    * its largest bucket, and the number of small buckets holding two or
    * more docs. */
  private def bucketShape(bands: org.apache.spark.sql.DataFrame): ((Long, Long), Long) = {
    val b = bands.groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("n"), countDistinct(col("simhash")).as("k")).cache()
    try {
      val top = b.orderBy(desc("n")).head()
      ((top.getLong(2), top.getLong(3)),
        b.filter(col("n") >= 2 && col("n") <= Dedup.BUCKET_CAP).count())
    } finally b.unpersist()
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("dup clusters over contracted signatures equal the uncontracted pair graph's on an over-cap bucket") {
    try {
      val sigs = Dedup.simhashSignatures(overCapCorpus)
      val ((n, k), _) = bucketShape(Dedup.simhashBands(sigs))
      assert(n > Dedup.BUCKET_CAP && k > 1 && k <= Dedup.BUCKET_CAP,
        s"fixture: the largest bucket holds $n docs of $k signatures")
      def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.select(col("doc_id"), col("component")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // the reference pairs every document, uncontracted
      val want = labels(Dedup.componentsOf(sigs, Dedup.simhashPairsFrom(sigs)))
      assert(want.size == 300 + 80 + 20 && want.values.toSet.size > 20,
        s"fixture: ${want.size} docs in ${want.values.toSet.size} clusters")
      for (localMaxPairs <- Seq(Dedup.CC_LOCAL_MAX_PAIRS, -1L)) {
        val got = labels(Dedup.buildComponents(overCapCorpus, localMaxPairs))
        val diff = want.toSet.diff(got.toSet)
        assert(got.size == want.size && diff.isEmpty, s"localMaxPairs $localMaxPairs")
      }
    } finally Caches.release()
  }

  test("bandCandidates returns bandCandSql's candidates in DuckDB, minhash over-cap and mixed simhash") {
    import scala.sys.process._
    assume(Seq("python3", "-c", "import duckdb").!(ProcessLogger(_ => ())) == 0,
      "python3 with duckdb is not installed")
    def check(bands: org.apache.spark.sql.DataFrame, chainOrder: String): Unit = {
      val dir = java.nio.file.Files.createTempDirectory("bandcand").toFile
      try {
        bands.write.parquet(s"$dir/bands")
        val got = pairSet(Dedup.bandCandidates(spark.read.parquet(s"$dir/bands"),
          chainOrder.split(", ").toSeq.map(col)))
        val sql = s"WITH bands AS (SELECT * FROM read_parquet('$dir/bands/*.parquet')),\n" +
          Dedup.bandCandSql(chainOrder) + "\nSELECT doc_a, doc_b FROM cand"
        val py = "import duckdb, sys\nfor a, b in duckdb.sql(sys.stdin.read()).fetchall(): print(a, b)"
        val out = (Seq("python3", "-c", py) #< new java.io.ByteArrayInputStream(sql.getBytes("UTF-8"))).!!
        val want = out.linesIterator.map(_.split(" ")).map(a => (a(0).toLong, a(1).toLong)).toSet
        assert(want.nonEmpty && (got -- want).size + (want -- got).size == 0,
          s"order $chainOrder: ${got.size} candidates vs the oracle's ${want.size}; " +
            s"only here ${(got -- want).take(5)}, only in DuckDB ${(want -- got).take(5)}")
      } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
    }
    check(Dedup.minhashBands(planted), "doc_id")
    val simBands = Dedup.simhashBands(Dedup.simhashSignatures(overCapCorpus))
      .select(col("doc_id"), col("simhash"), col("band"), col("bkey"))
    val ((n, _), smallShared) = bucketShape(simBands)
    assert(n > Dedup.BUCKET_CAP && smallShared > 0, s"fixture: top bucket $n, $smallShared small shared")
    check(simBands, "simhash, doc_id")
  }

  test("a warm dedup_components build + write submits <= 15 jobs, dedup_minhash_lsh <= 8") {
    def jobs(key: String): Int = {
      def run(): Unit =
        try Registry.byName(key).build(spark, TestSession.sfDir01)
          .write.format("noop").mode("overwrite").save()
        finally Caches.release()
      run() // warm
      org.apache.spark.JobCount(spark.sparkContext)(run())
    }
    val (comp, lsh) = (jobs("dedup_components"), jobs("dedup_minhash_lsh"))
    assert(comp <= 15 && lsh <= 8, s"dedup_components $comp jobs, dedup_minhash_lsh $lsh")
  }

  test("the MinHash band frame is map-only: its plan has no Exchange") {
    val p = Dedup.minhashBands(sources.Tables.documents(spark, sfDir))
      .queryExecution.executedPlan.toString
    assert(p.contains("minhash_bands"), p)
    assert(!p.contains("Exchange"), s"MinHash band frame plans a shuffle\n$p")
  }

  test("embedding sign-band width is the bucket-size knob on a clustered corpus") {
    // 20 clusters × 50 members: cluster base values dominate (±10⁵)
    // and member jitter sits 4 orders of magnitude below (±10), so a
    // cluster shares its hyperplane sign pattern. At 4 bits
    // (16 buckets/band) the pigeonhole packs ≥2 clusters into some
    // bucket of every band; at 8 bits (256 buckets) clusters separate
    // — WIDTH, not capping, bounds the all-to-all inside these
    // structural buckets (capping them would gut recall).
    val corpus = TestSession.spark.range(20L * 50L)
      .select(col("id").as("vec_id"), (col("id") % 20).as("c"))
      .select(col("vec_id"), expr(
        """transform(sequence(0, 63), d ->
           (pmod(xxhash64('c', c * 64 + CAST(d AS BIGINT)), 2001) - 1000) * 100 +
           pmod(xxhash64('j', vec_id * 64 + CAST(d AS BIGINT)), 21) - 10)""").as("e"))
    def maxBucket(bits: Int): Long =
      graft.similarity.Ann.signBands(corpus, nBands = 4, bitsPerBand = bits)
        .groupBy(col("band"), col("bkey")).count()
        .agg(max(col("count"))).head().getLong(0)
    val m4 = maxBucket(4)
    val m8 = maxBucket(8)
    assert(m4 > m8, s"max bucket did not fall with width: 4 bits -> $m4, 8 bits -> $m8")
    // at 8 bits no bucket should hold more than a couple of clusters
    assert(m8 <= 150, s"8-bit max bucket $m8 — clusters failed to separate")
  }

  test("semanticBalanced bounds within-list pairs and keeps one representative per sub-list under duplicate mass") {
    // the corpus ivfBalanced exists for: 600 copies of ONE point (75%
    // of N) that no centroid geometry separates, rest pseudo-random —
    // the naive c_id join would do 600²/2 = 180k comparisons in one
    // list; the hash-split must bound every list near cap
    try {
      graft.functions.GraftFunctions.register(spark)
      val n = 800L; val dupes = 600L
      val vecs = spark.range(n).select(col("id").as("vec_id"),
        expr(s"""CASE WHEN id < $dupes
                 THEN transform(sequence(0, 63), d -> CAST(IF(d = 0, 10000, 0) AS BIGINT))
                 ELSE transform(sequence(0, 63), d -> pmod(xxhash64(id, d), 2000) - 1000)
                 END""").as("e"))
      val res = Dedup.semanticBalanced(vecs)
      val cap = math.ceil(4.0 * n / 16).toLong // ivfBalanced's default factor, c=16
      // every within-list all-to-all is bounded: pairs/list ≤ ~(1.5·cap)²/2,
      // never the 600²/2 the unsplit cluster would cost
      val maxList = res.agg(max(col("n_list"))).head().getLong(0)
      assert(maxList <= (1.5 * cap).toLong, s"max list $maxList vs cap $cap — split did not bound the mass")
      // identical copies are cosine-1.0 mates: each sub-list keeps
      // exactly its min-id copy — survivors == #sub-lists holding the
      // mass (the documented ≤nsub-representatives recall trade)
      val dupRows = res.filter(col("vec_id") < dupes)
      val keptDupes = dupRows.filter(col("kept")).count()
      val dupLists = dupRows.select(col("list_id")).distinct().count()
      assert(keptDupes == dupLists, s"$keptDupes kept vs $dupLists sub-lists holding the dup mass")
      // and the mass still collapsed ~cap-fold: ceil(600/cap)=3 sub-lists
      // (±1 for randoms sharing the parent), not hundreds of survivors
      assert(keptDupes <= 5, s"$keptDupes survivors from 600 copies — dedup power lost")
    } finally Caches.release()
  }

  test("semanticBalanced recall matches the unbalanced build on a split-free corpus") {
    // on the real (balanced) corpus the guard never fires: no
    // hash-split, and semanticBalanced anchors on the same
    // seeds→one-Lloyd-step clustering as semanticFrom (minSteps=1) —
    // so the production wiring must reproduce the oracle-checked
    // key's keep/drop decision EXACTLY, not approximately.
    try {
      graft.functions.GraftFunctions.register(spark)
      val vecs = sources.Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), similarity.Ann.quant.as("e"))
      // pin the CONSTRUCTION, not just the absence of a split: the
      // balance guard can run a second Lloyd step without splitting
      // (m>cap after step 1, clusterable imbalance) — sub stays 0 but
      // the clustering diverges from semanticFrom's one-step build.
      // ivfBalanced is deterministic (md5 seeds, integer Lloyd), so
      // rebuilding the index semanticBalanced uses reproduces it
      // exactly; lloydSteps==1 proves the shared construction.
      val idx = similarity.Ann.ivfBalanced(vecs, minSteps = 1)
      assert(idx.lloydSteps == 1 && !idx.split,
        s"guard engaged on the real corpus (steps=${idx.lloydSteps}, split=${idx.split}) — " +
          "the exact-equality claim below only holds for the shared one-step construction")
      val bal = Dedup.semanticBalanced(vecs)
      assert(bal.filter(col("list_id.sub") =!= 0L).count() == 0,
        "unexpected hash-split on the balanced real corpus")
      val dropBal = bal.filter(!col("kept")).select(col("vec_id"))
      val dropUnbal = Dedup.semanticFrom(vecs, Dedup.SEM_THRESHOLD)
        .filter(!col("kept")).select(col("vec_id"))
      val nUnbal = dropUnbal.count()
      assert(nUnbal > 0, "degenerate corpus: unbalanced build dropped nothing")
      assert(dropBal.exceptAll(dropUnbal).count() == 0 &&
        dropUnbal.exceptAll(dropBal).count() == 0,
        s"split-free balanced build diverged from the $nUnbal unbalanced drops")
    } finally Caches.release()
  }

  test("minhash LSH finds all near-dups found by the uncapped full-space baseline at sf0.01") {
    // the baseline must score the SAME (full) shingle space minhash
    // verifies against — dedup_ngram_jaccard scores the df-capped
    // space, which is a different (if currently coincident) measure —
    // so build the uncapped blocking + full-space verify inline
    val sh = graft.dedup.Dedup.shingles(
      graft.sources.Tables.documents(spark, TestSession.sfDir01))
    val n = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val cand = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
    val exact = graft.dedup.Dedup.verifiedJaccard(cand, sh, n)
      .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, TestSession.sfDir01)
      .select(col("doc_a"), col("doc_b")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact, s"missed ${(exact -- lsh).size} of ${exact.size}")
  }

  test("simhashPairsFrom carry columns ride the verify joins per endpoint") {
    // two identical docs -> one pair at hamming 0; the carried column
    // must surface each endpoint's own value as a_/b_
    val d = docs(1L -> "alpha beta gamma delta", 2L -> "alpha beta gamma delta")
    val sigs = Dedup.simhashSignatures(d).withColumn("tag", col("doc_id") * 10)
    val got = Dedup.simhashPairsFrom(sigs, carry = Seq("tag")).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert((r.getLong(3), r.getLong(4)) == ((10L, 20L)), "carried tags wrong")
  }

  test("components labels every doc with its cluster min, singletons included — both branches agree") {
    import TestSession.spark.implicits._
    val verts = (1L to 7L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    val want = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L)
    // default path (small graph → driver union-find)
    val local = Dedup.componentsOf(verts, edges).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(local.toSeq == want)
    // forced distributed fixpoint (localMaxPairs = -1): same unique
    // fixpoint — the two branches must be indistinguishable
    val dist = Dedup.componentsOf(verts, edges, localMaxPairs = -1)
      .orderBy(col("doc_id")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(dist.toSeq == want)
  }

  test("components converges fast on a path graph (pointer jumping, not O(diameter))") {
    import TestSession.spark.implicits._
    // a 64-long chain: plain neighbor-min needs 63 rounds; the
    // CC_MAX_ROUNDS=30 cap only passes if pointer jumping is doing
    // its O(log n) job. localMaxPairs = -1 forces the distributed
    // loop — the default would solve this on the driver.
    val n = 64L
    val verts = (1L to n).toDF("doc_id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.componentsOf(verts, edges, localMaxPairs = -1).collect()
    assert(got.forall(_.getLong(1) == 1L), "chain did not collapse to one component")
  }

  test("dedup_components on the corpus is a consistent partition over the simhash pair graph") {
    val comp = SparkEntry.queries("dedup_components")(spark, sfDir).cache()
    val pairs = SparkEntry.queries("dedup_simhash_pairs")(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    // every near-dup edge's endpoints share a component
    val cA = comp.select(col("doc_id").as("doc_a"), col("component").as("comp_a"))
    val cB = comp.select(col("doc_id").as("doc_b"), col("component").as("comp_b"))
    val split = pairs.join(cA, "doc_a").join(cB, "doc_b")
      .filter(col("comp_a") =!= col("comp_b")).count()
    assert(split == 0, s"$split edges cross components")
    // component ids are real members, and is_rep marks exactly one per cluster
    val badRep = comp.groupBy(col("component"))
      .agg(sum(when(col("is_rep"), 1L).otherwise(0L)).as("reps"),
        min(col("doc_id")).as("lo"))
      .filter(col("reps") =!= 1L || col("lo") =!= col("component")).count()
    assert(badRep == 0, s"$badRep clusters with bad rep/min invariants")
    comp.unpersist()
  }

  test("incremental dedup: survivors are new to the corpus index and unique in the batch") {
    val dir = TestSession.sfDir01
    val docs = graft.sources.Tables.documents(spark, dir)
    val survivors = SparkEntry.queries("dedup_incremental")(spark, dir).cache()
    try {
      val hashes = survivors.select(col("text_md5")).collect().map(_.getString(0))
      // unique within the batch
      assert(hashes.nonEmpty && hashes.distinct.length == hashes.length)
      // disjoint from the corpus signature index
      val corpusSigs = docs.filter(pmod(col("doc_id"), lit(10)) < 8)
        .select(md5(col("text")).as("h")).distinct()
        .collect().map(_.getString(0)).toSet
      assert(hashes.forall(h => !corpusSigs.contains(h)),
        s"survivor already in corpus: ${hashes.filter(corpusSigs.contains).toSeq}")
      // completeness: corpus sigs + survivors = all distinct sigs
      val allSigs = docs.select(md5(col("text")).as("h")).distinct().count()
      assert(corpusSigs.size + hashes.length == allSigs,
        s"${corpusSigs.size} + ${hashes.length} != $allSigs")
    } finally survivors.unpersist()
  }

  test("paragraph dedup drops repeated chunks everywhere but the min doc_id") {
    // doc 1 and doc 2 share their first 24-word chunk verbatim; doc 2's
    // second chunk is unique; doc 3 is entirely unique
    val shared = (1 to 24).map(i => s"w$i").mkString(" ")
    val d = docs(
      1L -> shared,
      2L -> (shared + " " + (1 to 24).map(i => s"u$i").mkString(" ")),
      3L -> "solo text only")
    val got = Dedup.paragraphStats(d).orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // doc 1 keeps its chunk (min doc_id); doc 2 loses the shared chunk
    // but keeps its unique one; doc 3 untouched
    assert(got.toSeq == Seq((1L, 1L, 0L, 24L), (2L, 2L, 1L, 24L), (3L, 1L, 0L, 3L)))
  }

  test("paragraph dedup word accounting is exact when nothing is duplicated") {
    // 60 words -> chunks of 24/24/12; all unique so kept_words == 60
    val d = docs(7L -> (1 to 60).map(i => s"x$i").mkString(" "))
    val r = Dedup.paragraphStats(d).collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((3L, 0L, 60L)))
  }

  test("containment catches an excerpt inside a longer doc that Jaccard misses") {
    import TestSession.spark.implicits._
    // A = 30-word excerpt, B = A plus 60 more words: containment(A in
    // B) ≈ 1 but Jaccard ≈ 0.3 — below the near-dup threshold
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val b = a + " " + (31 to 90).map(i => s"w$i").mkString(" ")
    val unrel = (1 to 40).map(i => s"z$i").mkString(" ")
    val d = Seq((1L, a), (2L, b), (3L, unrel)).toDF("doc_id", "text")
    val (pairs, n) = Dedup.cappedOverlap(Dedup.shingles(d), "shingle", Dedup.DF_CAP)
    val inter = pairs
      .join(n.as("na"), col("doc_a") === col("na.doc_id"))
      .join(n.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") / col("na.n_sh"), 4).as("cab"),
        round(col("inter").cast("double") /
          (col("na.n_sh") + col("nb.n_sh") - col("inter")), 4).as("jac"))
      .collect()
    val ab = inter.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(ab.isDefined, "excerpt pair not even a candidate")
    assert(ab.get.getDouble(2) >= Dedup.CONT_THRESHOLD, s"containment ${ab.get.getDouble(2)}")
    assert(ab.get.getDouble(3) < 0.5, s"jaccard ${ab.get.getDouble(3)} not in the blind spot")
    assert(!inter.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("fingerprint pairs catch verbatim-span near-dups and skip unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
    val nearDup = base.replace("lazy", "idle") // one word differs → long shared spans
    val unrelated = "completely different content about distributed query engines and shuffle partitioning strategies"
    val got = Dedup.fingerprintPairsOf(
      docs(1L -> base, 2L -> base, 3L -> nearDup, 4L -> unrelated))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)), s"identical docs must pair: $got")
    assert(got.contains((1L, 3L)) && got.contains((2L, 3L)),
      s"near-dup with shared spans must pair: $got")
    assert(!got.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $got")
    // the shared count respects the >= half-of-smaller-set contract
    Dedup.fingerprintPairsOf(docs(1L -> base, 3L -> nearDup)).collect().foreach { r =>
      assert(2 * r.getLong(2) >= math.min(r.getLong(3), r.getLong(4)))
    }
  }
}
