package graft

import graft.sources.{AuxGen, Tables}
import org.apache.spark.sql.functions._

/** The aux generator must be a DROP-IN for the driver testdata: same
  * ladder, same schemas through the [[Tables]] accessors, and a real
  * dedup workload (planted copies) — it is how the sf1 bench corpus
  * is materialised. */
class AuxGenSpec extends SparkSpecBase {

  test("row-count ladder matches the driver testdata at sf0.001, sf0.01 and sf0.1") {
    for ((sf, dir) <- Seq(0.001 -> sfDir, 0.01 -> TestSession.sfDir01,
                          0.1 -> "/root/testdata/sf0.1");
         t <- AuxGen.tableNames)
      assert(AuxGen.table(spark, t, sf).count() ==
        Tables.load(spark, dir, t).count(), s"$t at sf=$sf")
  }

  test("generation is deterministic and shuffle-free") {
    val a = AuxGen.documents(spark, 0.01)
    val b = AuxGen.documents(spark, 0.01)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    for (t <- AuxGen.tableNames) {
      val plan = AuxGen.table(spark, t, 0.01).queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$t generation shuffles:\n$plan")
    }
  }

  test("documents plant a real dedup workload: exact dups and high-jaccard near-dups") {
    val docs = AuxGen.documents(spark, 0.01)
    val n = docs.count()
    val exactDups = n - docs.select(col("text")).distinct().count()
    assert(exactDups >= 1 && exactDups <= n / 20, s"$exactDups exact dups out of $n")
    // near-dups through the engine's own blocking+verify path: the
    // planted ~3%-mutation copies sit in the measured testdata band
    // (jaccard 0.85-0.99), well above dedup's cut
    val sh = dedup.Dedup.shingles(docs)
    val nSh = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val cand = sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b")).distinct()
    val pairs = dedup.Dedup.verifiedJaccard(cand, sh, nSh).count()
    assert(pairs >= 5 && pairs <= n, s"$pairs near-dup pairs out of $n docs")
  }

  test("embeddings are unit-norm 64-dim with planted near-copies") {
    val emb = AuxGen.embeddings(spark, 0.01)
    val norms = emb.select(
      expr("aggregate(embedding, cast(0.0 AS double), (acc, x) -> acc + x * x)").as("sq"))
    assert(norms.filter(abs(col("sq") - 1.0) > 0.001).count() == 0)
    assert(emb.filter(size(col("embedding")) =!= 64).count() == 0)
    // planted copies: quantized cosine through the engine's own kernel
    graft.functions.GraftFunctions.register(spark)
    val q = emb.select(col("vec_id"), similarity.Ann.quant.as("e"))
    val near = q.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", similarity.Ann.cosine(expr("dot_long(a.e, b.e)"),
        expr("dot_long(a.e, a.e)"), expr("dot_long(b.e, b.e)")))
      .filter(col("cos") > 0.99).count()
    assert(near >= 2, s"only $near cosine>0.99 pairs — planted copies missing")
  }

  test("persisted events have the testdata schema and time-zone-free timestamps") {
    val root = java.nio.file.Files.createTempDirectory("auxgen_events")
    def fields(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => f.name -> f.dataType)
    try {
      val ts = Seq("UTC", "America/Los_Angeles").map { tz =>
        val ss = Sessions.childWith(spark, Seq("spark.sql.session.timeZone" -> tz))
        val dir = root.resolve(tz.replace('/', '_')).toString
        AuxGen.persistAll(ss, 0.001, dir)
        val ev = Tables.events(ss, dir)
        assert(fields(ev) == fields(Tables.events(ss, sfDir)), s"events schema under $tz")
        ev.orderBy("event_id").select("ts").collect().map(_.get(0)).toSeq
      }
      assert(ts(0) == ts(1), "ts values moved with the session time zone")
      // the values are the nanosecond draw truncated to µs
      val gapNs = 30L * 24 * 3600 * 1000000000L / AuxGen.eventsRows(0.001)
      val want = spark.range(AuxGen.eventsRows(0.001)).select(expr(
        s"(1704067200000000000L + id * ${gapNs}L + pmod(xxhash64(id, 9001), ${gapNs}L)) div 1000"))
        .collect().map(_.getLong(0)).toSeq
      val got = Tables.events(spark, root.resolve("UTC").toString).orderBy("event_id")
        .select(expr("unix_micros(CAST(ts AS TIMESTAMP))")).collect().map(_.getLong(0)).toSeq
      assert(got == want)
    } finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("persistAll output is a drop-in testdata dir: accessors read it, registry keys run on it") {
    val dir = java.nio.file.Files.createTempDirectory("auxgen").toString
    try {
      AuxGen.persistAll(spark, 0.001, dir)
      tpch.TpchGen.persistAll(spark, 0.001, dir)
      for (t <- AuxGen.tableNames)
        assert(Tables.load(spark, dir, t).count() == AuxGen.table(spark, t, 0.001).count(), t)
      // one key per aux table family end-to-end against the generated dir
      for (k <- Seq("text_quality", "op_sessionize", "ann_cosine_topk"))
        assert(SparkEntry.queries(k)(spark, dir).count() > 0, k)
    } finally {
      graft.Caches.release()
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      Files.walk(Paths.get(dir)).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}
