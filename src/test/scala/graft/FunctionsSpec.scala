package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** graft's native expressions: each matches the built-in spelling it
  * replaces, handles nulls and degenerate inputs, runs inside
  * whole-stage codegen, and resolves via SQL after registration. */
class FunctionsSpec extends SparkSpecBase {

  test("dot_long equals the aggregate/zip_with spelling and handles nulls") {
    GraftFunctions.register(spark)
    import TestSession.spark.implicits._
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),   // 4+10+18 = 32
      (Seq(-2L, 7L), Seq(3L, -1L)),          // -6-7 = -13
      (Seq(1L, 1L, 1L, 1L), Seq(2L, 2L))     // prefix: 4
    ).toDF("a", "b")
    val got = df.select(
      expr("dot_long(a, b)").as("native"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("builtin"))
      .collect()
    assert(got(0).getLong(0) == 32L && got(1).getLong(0) == -13L)
    // prefix semantics: builtin zip_with pads with null (making the
    // aggregate null), native uses the common prefix — assert native
    assert(got(2).getLong(0) == 4L)
    assert(got.take(2).forall(r => r.getLong(0) == r.getLong(1)))
    val withNull = Seq((Option.empty[Seq[Long]], Option(Seq(1L)))).toDF("a", "b")
      .select(expr("dot_long(a, b)")).collect()
    assert(withNull(0).isNullAt(0))
    // null ELEMENTS propagate null too, matching the built-in spelling
    val nullElem = Seq((Seq[java.lang.Long](1L, null), Seq[java.lang.Long](2L, 3L)))
      .toDF("a", "b")
      .select(expr("dot_long(a, b)").as("native"),
        expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)").as("builtin"))
      .collect()
    assert(nullElem(0).isNullAt(0) && nullElem(0).isNullAt(1))
  }

  test("winnow_fps equals the built-in transform/slice spelling on real documents") {
    GraftFunctions.register(spark)
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val native = docs.selectExpr("doc_id", "winnow_fps(text, 8, 4) AS fps")
    val builtin = docs
      .selectExpr("doc_id",
        "transform(sequence(0, length(text) - 8), " +
          "i -> CAST(conv(substr(md5(substr(text, i + 1, 8)), 1, 15), 16, 10) AS BIGINT)) AS kh")
      .selectExpr("doc_id",
        "array_distinct(transform(sequence(0, size(kh) - 4), j -> array_min(slice(kh, j + 1, 4)))) AS fps")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val (n, b) = (asMap(native), asMap(builtin))
    assert(n.nonEmpty)
    assert(n == b)
  }

  test("winnow_fps equals the built-in spelling on arbitrary unicode strings (property)") {
    GraftFunctions.register(spark)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // mixed-width codepoints exercise the char→byte offset mapping:
    // ASCII (1B), Latin/Greek (2B), CJK (3B), emoji (4B, surrogate
    // pairs in the JVM string)
    val alphabet = "ab c1é的ß漢字🌍x"
    val gen = for {
      len <- Gen.choose(0, 60)
      cs <- Gen.listOfN(len, Gen.oneOf(
        alphabet.codePoints().toArray.toIndexedSeq))
    } yield cs.map(Character.toChars(_).mkString).mkString
    val samples = (0 until 200).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)))
    import TestSession.spark.implicits._
    val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val native = df.selectExpr("id", "winnow_fps(text, 8, 4) AS fps")
    val builtin = df
      .selectExpr("id",
        "CASE WHEN length(text) >= 11 THEN transform(sequence(0, length(text) - 8), " +
          "i -> CAST(conv(substr(md5(substr(text, i + 1, 8)), 1, 15), 16, 10) AS BIGINT)) " +
          "ELSE CAST(array() AS ARRAY<BIGINT>) END AS kh")
      .selectExpr("id",
        "CASE WHEN size(kh) >= 4 THEN array_distinct(transform(sequence(0, size(kh) - 4), " +
          "j -> array_min(slice(kh, j + 1, 4)))) ELSE CAST(array() AS ARRAY<BIGINT>) END AS fps")
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    val (n, b) = (asMap(native), asMap(builtin))
    assert(n.size == samples.size)
    assert(n == b, {
      val bad = n.keys.filter(k => n(k) != b(k)).take(3)
      bad.map(k => s"id=$k text='${samples(k.toInt)}'").mkString("; ")
    })
  }

  test("char_entropy equals the explode/groupBy spelling on real documents") {
    GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(length(col("text")) > 0).limit(200)
    val native = docs.selectExpr("doc_id", "char_entropy(text) AS st")
      .selectExpr("doc_id", "st.n_chars", "st.n_charset", "st.wbits")
    // the r11 spelling: explode chars, count per (doc, char), fold
    val cc = docs
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, length(text)), i -> substring(text, i, 1))")).as("ch"))
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("nc"))
    val tot = cc.groupBy(col("doc_id"))
      .agg(sum(col("nc")).as("nt"), count(lit(1)).as("n_charset"))
    val builtin = cc.join(tot, Seq("doc_id"))
      .withColumn("bits",
        (length(conv(col("nt"), 10, 2)) - length(conv(col("nc"), 10, 2))).cast("long"))
      .groupBy(col("doc_id"))
      .agg(max(col("nt")).as("n_chars"), max(col("n_charset")).as("n_charset"),
        sum(col("bits") * col("nc")).as("wbits"))
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (n, b) = (asMap(native), asMap(builtin))
    assert(n.nonEmpty && n == b,
      n.keys.filter(k => n.get(k) != b.get(k)).take(3).mkString("; "))
  }

  test("char_entropy equals the explode spelling on arbitrary unicode strings (property)") {
    GraftFunctions.register(spark)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val alphabet = "ab c1é的ß漢字🌍x"
    val gen = for {
      len <- Gen.choose(1, 60)
      cs <- Gen.listOfN(len, Gen.oneOf(alphabet.codePoints().toArray.toIndexedSeq))
    } yield cs.map(Character.toChars(_).mkString).mkString
    val samples = (0 until 150).flatMap(i =>
      gen.apply(Gen.Parameters.default, Seed(1000L + i)))
    import TestSession.spark.implicits._
    val df = samples.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val native = df.selectExpr("doc_id", "char_entropy(text) AS st")
      .selectExpr("doc_id", "st.n_chars", "st.n_charset", "st.wbits")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val builtin = samples.zipWithIndex.map { case (t, i) =>
      val cps = t.codePoints().toArray
      val counts = cps.groupBy(identity).map(_._2.length)
      val ntBits = 64 - java.lang.Long.numberOfLeadingZeros(cps.length.toLong)
      val wbits = counts.map(nc =>
        (ntBits - (32 - Integer.numberOfLeadingZeros(nc))).toLong * nc).sum
      i.toLong -> (cps.length.toLong, counts.size.toLong, wbits)
    }.toMap
    assert(native == builtin,
      native.keys.filter(k => native.get(k) != builtin.get(k)).take(3)
        .map(k => s"doc=$k text='${samples(k.toInt)}'").mkString("; "))
  }

  test("char_entropy participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    val df = spark.range(10)
      .selectExpr("concat('doc', id, repeat('ab', CAST(id AS INT))) AS text")
      .selectExpr("char_entropy(text) AS st")
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[char_entropy""".r.findFirstIn(plan).isDefined, plan)
  }

  // ---- signature kernels: each replaced explode/groupBy spelling is
  // kept here as the reference the kernel must reproduce row for row

  /** (doc_id, simhash) — the explode-tokens → 48 conditional-sum
    * aggregate spelling `simhash48` replaced. */
  private def simhashRef(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .filter(length(col("tok")) > 0)
      .withColumn("h", conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("long"))
    val bitSums = (0 until 48).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$i"))
    val sig = (0 until 48).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _)
    toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** ((doc_id, band, bkey), (doc_id, n_sh)) — the explode-shingles → 8
    * md5-min aggregates spelling `minhash_bands` replaced. */
  private def minhashRef(docs: DataFrame): (DataFrame, DataFrame) = {
    val sh = graft.dedup.Dedup.shingles(docs)
    val minhashes = (0 until 8).map(i =>
      min(substring(md5(concat_ws("|", lit((i / 4).toString), col("shingle"))),
        1 + 8 * (i % 4), 8)).as(s"h$i"))
    val mh = sh.groupBy(col("doc_id")).agg(minhashes.head, minhashes.tail: _*)
    val bands = mh.select(col("doc_id"), posexplode(array(
      (0 until 4).map(b => md5(concat(col(s"h${2 * b}"), col(s"h${2 * b + 1}")))): _*))
      .as(Seq("band", "bkey")))
    (bands, sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh")))
  }

  /** (vec_id, band, bkey) — the posexplode ×64 → hyperplane broadcast
    * join → two-aggregation spelling `sign_band_keys` replaced. */
  private def signBandsRef(vecs: DataFrame, nBands: Int, bitsPerBand: Int): DataFrame = {
    val hp = spark.range(nBands * bitsPerBand * 64L)
      .select((col("id") / lit(64)).cast("long").as("j"), pmod(col("id"), lit(64)).as("d"))
      .withColumn("w", when(substring(md5(concat_ws("_", col("j"), col("d"))), 1, 1) < "8", 1L).otherwise(-1L))
    vecs
      .select(col("vec_id"), posexplode(col("e")).as(Seq("d", "v")))
      .join(broadcast(hp), Seq("d"))
      .groupBy(col("vec_id"), col("j"))
      .agg((sum(col("v") * col("w")) >= 0).as("bit"))
      .groupBy(col("vec_id"), (col("j") / bitsPerBand).cast("int").as("band"))
      .agg(sum(when(col("bit"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pmod(j, $bitsPerBand) AS INT))")).otherwise(0L))
        .as("bkey"))
  }

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  /** Asserts both frames hold the same rows, naming a few differences. */
  private def assertSameRows(native: DataFrame, reference: DataFrame, what: String): Unit = {
    val (n, r) = (rows(native), rows(reference))
    assert(n == r, s"$what: ${(n -- r).take(3)} only native, ${(r -- n).take(3)} only reference")
  }

  private def simhashNative(docs: DataFrame): DataFrame =
    graft.dedup.Dedup.simhashSignatures(docs).select(col("doc_id"), col("simhash"))

  private def minhashNative(docs: DataFrame): (DataFrame, DataFrame) =
    (graft.dedup.Dedup.minhashBands(docs),
      docs.select(col("doc_id"), expr("minhash_bands(text).n_sh").as("n_sh"))
        .filter(col("n_sh").isNotNull))

  test("simhash48 and minhash_bands equal their explode/groupBy spellings on the sf0.01 documents") {
    GraftFunctions.register(spark)
    val docs = graft.sources.Tables.documents(spark, TestSession.sfDir01)
    val sig = simhashNative(docs)
    assert(sig.count() > 100)
    assertSameRows(sig, simhashRef(docs), "simhash48")
    val ((bands, n), (bandsRef, nRef)) = (minhashNative(docs), minhashRef(docs))
    assertSameRows(bands, bandsRef, "minhash_bands keys")
    assertSameRows(n, nRef, "minhash_bands n_sh")
  }

  test("sign_band_keys equals the explode/join/groupBy spelling on the sf0.01 embeddings") {
    GraftFunctions.register(spark)
    val vecs = graft.sources.Tables.embeddings(spark, TestSession.sfDir01)
      .select(col("vec_id"), graft.similarity.Ann.quant.as("e"))
    for ((nBands, bits) <- Seq((8, 4), (4, 8))) {
      val native = graft.similarity.Ann.signBands(vecs, nBands, bits)
      assert(native.count() > 100)
      assertSameRows(native, signBandsRef(vecs, nBands, bits), s"sign_band_keys($nBands, $bits)")
    }
  }

  test("signature kernels equal their reference spellings on degenerate inputs (property)") {
    GraftFunctions.register(spark)
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import TestSession.spark.implicits._
    // "" words make runs of spaces; repeats make duplicate tokens and
    // shingles; non-ASCII words exercise multi-byte UTF-8
    val word = Gen.oneOf("", "", "a", "b", "the", "é", "漢字", "🌍x", "ß")
    val textGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val fixed = Seq("", " ", "   ", "a  b", "a b", "a", "x x x x x", "the the the",
      "é 漢字 🌍", " lead", "trail ", "a b c")
    val texts = fixed.map(Option(_)) ++ Seq(None) ++
      (0 until 300).flatMap(i => textGen.apply(Gen.Parameters.default, Seed(2000L + i)).map(Option(_)))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    assertSameRows(simhashNative(docs), simhashRef(docs), "simhash48")
    val ((bands, n), (bandsRef, nRef)) = (minhashNative(docs), minhashRef(docs))
    assertSameRows(bands, bandsRef, "minhash_bands keys")
    assertSameRows(n, nRef, "minhash_bands n_sh")

    // vectors: null, empty, all-null, shorter and longer than 64 dims
    val elem = Gen.frequency(4 -> Gen.choose(-20000L, 20000L).map(Option(_)), 1 -> Gen.const(None))
    val vecGen = Gen.oneOf(Gen.choose(1, 63), Gen.const(64), Gen.choose(65, 90))
      .flatMap(n => Gen.listOfN(n, elem))
    val fixedVecs: Seq[Option[Seq[Option[Long]]]] = Seq(None, Some(Nil), Some(Seq(None)),
      Some(Seq.fill(64)(None)), Some(Seq(Some(0L))), Some(Seq.fill(70)(Some(-1L))))
    val vs = fixedVecs ++
      (0 until 200).flatMap(i => vecGen.apply(Gen.Parameters.default, Seed(3000L + i)).map(Option(_)))
    val vecs = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "e")
    for ((nBands, bits) <- Seq((8, 4), (3, 5)))
      assertSameRows(graft.similarity.Ann.signBands(vecs, nBands, bits),
        signBandsRef(vecs, nBands, bits), s"sign_band_keys($nBands, $bits)")
  }

  test("simhash48, minhash_bands and sign_band_keys participate in whole-stage codegen") {
    GraftFunctions.register(spark)
    val docs = spark.range(10).selectExpr("concat('doc ', id, ' x y ', repeat('ab ', CAST(id AS INT))) AS text")
    for (k <- Seq("simhash48", "minhash_bands")) {
      val plan = docs.selectExpr(s"$k(text) AS s").queryExecution.executedPlan.toString
      assert(s"""\\*\\(\\d+\\) Project \\[$k""".r.findFirstIn(plan).isDefined, plan)
    }
    val plan = spark.range(10)
      .selectExpr("sign_band_keys(array(id, -id, id * 3 - 7), 8, 4) AS k")
      .queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[sign_band_keys""".r.findFirstIn(plan).isDefined, plan)
  }

  test("dot_long participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    // non-literal input so the optimizer can't constant-fold the call
    // into a LocalTableScan
    val df = spark.range(10)
      .selectExpr("transform(sequence(0, 3), i -> id + i) AS a",
        "transform(sequence(0, 3), i -> id * 2 + i) AS b")
      .selectExpr("dot_long(a, b) AS d", "a", "b")
    // the "*(n)" prefix marks operators inside a WholeStageCodegen
    // stage; the transform-lambda Project below it stays interpreted —
    // which is exactly the gap dot_long closes vs zip_with/aggregate
    val plan = df.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Project \[dot_long""".r.findFirstIn(plan).isDefined, plan)
    // id=1: a=[1,2,3,4], b=[2,3,4,5] → 2+6+12+20 = 40
    assert(df.filter("a[0] = 1").head().getLong(0) == 40L)
  }

  test("GraftExtensions injects the native functions at session build, no runtime register") {
    // spark.sql.extensions is a STATIC conf: Sessions.local sets it at
    // context build, and a newSession() fork rebuilds its function
    // registry from the extensions alone — so resolution here proves
    // config-time injection, independent of any runtime register()
    // calls other tests made on the parent session
    val s2 = spark.newSession()
    assert(s2 ne spark)
    assert(s2.sql("SELECT dot_long(array(1L, 2L), array(3L, 4L)) AS d")
      .head().getLong(0) == 11L)
    assert(s2.sql("SELECT size(winnow_fps('the quick brown fox jumps over it', 8, 4)) AS n")
      .head().getInt(0) > 0)
    assert(s2.sql("SELECT char_entropy('abab').n_chars AS c").head().getLong(0) == 4L)
    assert(s2.sql("SELECT simhash48('a b') IS NOT NULL AS s").head().getBoolean(0))
    assert(s2.sql("SELECT minhash_bands('a b c').n_sh AS n").head().getLong(0) == 1L)
    assert(s2.sql("SELECT size(sign_band_keys(array(1L, -2L), 8, 4)) AS n").head().getInt(0) == 8)
  }

  test("top_k_long keeps the k best with deterministic ties across partial merges") {
    graft.functions.GraftFunctions.register(spark)
    import TestSession.spark.implicits._
    // 1000 rows over 8 partitions forces real partial-buffer merges;
    // scores collide heavily (mod 10) so the payload-ASC tie rule is
    // exercised at every boundary
    val df = spark.range(1000).repartition(8)
      .selectExpr("CAST(id % 10 AS BIGINT) AS s", "id AS p", "CAST(id % 2 AS INT) AS g")
    val got = df.groupBy($"g")
      .agg(expr("top_k_long(s, p, 7)").as("tk"))
      .selectExpr("g", "posexplode(tk) AS (i, e)")
      .select($"g", $"i", $"e.score", $"e.payload")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    // window-spelled reference: score DESC, payload ASC
    val ref = (0L until 1000L).map(id => (id % 2, id % 10, id))
      .groupBy(_._1).flatMap { case (g, rows) =>
        rows.sortBy { case (_, s, p) => (-s, p) }.take(7).zipWithIndex
          .map { case ((_, s, p), i) => (g.toInt, i, s, p) }
      }.toSet
    assert(got.length == 14 && got.toSet == ref,
      s"heap aggregate diverges from the window reference: ${got.toSeq.sorted}")
    // k > group size: emits the whole group, never pads
    val small = spark.range(3)
      .selectExpr("id AS s", "id AS p")
      .agg(expr("top_k_long(s, p, 1000)").as("tk"))
      .selectExpr("size(tk) AS n").head().getInt(0)
    assert(small == 3)
    // nulls are skipped, not kept as zeros
    val withNull = spark.sql(
      "SELECT top_k_long(s, p, 5) AS tk FROM VALUES (1L, 1L), (CAST(NULL AS BIGINT), 2L), (3L, CAST(NULL AS BIGINT)) t(s, p)")
      .selectExpr("size(tk) AS n").head().getInt(0)
    assert(withNull == 1)
  }
}
