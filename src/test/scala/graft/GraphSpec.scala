package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Semantics of the graph family: the degree-oriented triangle census
  * must agree with a brute-force unoriented count, PageRank must
  * respect its integer-arithmetic invariants, every key must hold on
  * degenerate graphs, and no key's result may depend on the physical
  * configuration. */
class GraphSpec extends SparkSpecBase {

  private val graphKeys = graph.Graph.all.map(_.name)

  test("oriented triangle count equals the brute-force a<b<c count") {
    val census = SparkEntry.queries("graph_triangles")(spark, sfDir).head()
    val oriented = census.getAs[Long]("n_triangles")
    // brute force: three unoriented edges closing a < b < c
    val e = graph.Graph.pairs(spark, sfDir).cache()
    try {
      val ab = e.select(col("a"), col("b"))
      val bc = e.select(col("a").as("b"), col("b").as("c"))
      val ac = e.select(col("a"), col("b").as("c"))
      val brute = ab.join(bc, "b").join(ac, Seq("a", "c")).count()
      assert(oriented == brute,
        s"degree-oriented census $oriented != brute-force $brute")
      assert(census.getAs[Long]("n_edges") == e.count())
      assert(oriented <= census.getAs[Long]("n_wedges"))
    } finally e.unpersist()
  }

  test("khop distances satisfy the edge relaxation invariant") {
    val got = SparkEntry.queries("graph_khop")(spark, sfDir).cache()
    try {
      // seeds are at hop 0
      assert(got.filter(col("n") < 10 && col("hop") =!= 0).isEmpty)
      assert(got.filter(col("hop") < 0 || col("hop") > 3).isEmpty)
      // no edge may shortcut a recorded distance by more than 1 (within
      // the 3-hop horizon: only check pairs where both ends are labelled
      // and the better label is < 3)
      val edges = graph.Graph.arcs(spark, sfDir).select(col("n").as("src"), col("nbr").as("dst"))
      val bad = edges
        .join(got.select(col("n").as("src"), col("hop").as("hs")), "src")
        .join(got.select(col("n").as("dst"), col("hop").as("hd")), "dst")
        .filter(col("hs") < 3 && col("hd") > col("hs") + 1)
      assert(bad.isEmpty, "an edge shortcuts a BFS distance")
    } finally {
      got.unpersist()
      Caches.release()
    }
  }

  test("pagerank covers every connected part and respects rank bounds") {
    val got = SparkEntry.queries("graph_pagerank")(spark, sfDir).cache()
    try {
      val nodes = graph.Graph.arcs(spark, sfDir).select(col("n")).distinct()
      assert(got.count() == nodes.count(), "pagerank must rank every connected node")
      // damped floor: rank >= 150000 always (empty contribution sum impossible
      // in a symmetric graph, but even then the additive term bounds below)
      assert(got.filter(col("r") < 150000L).isEmpty)
      // determinism: a second build is bit-identical
      val again = SparkEntry.queries("graph_pagerank")(spark, sfDir)
      assert(got.exceptAll(again).isEmpty && again.exceptAll(got).isEmpty)
    } finally {
      got.unpersist()
      Caches.release()
    }
  }

  test("reliable checkpoint conf: iterated frames survive via DFS files, results unchanged") {
    // r16 verdict #4: `spark.graft.checkpoint.reliable=<dir>` switches
    // every Checkpoints.truncate site from executor-local blocks to
    // reliable checkpoint files. Run an iterated-frame operator (kcore:
    // six truncations across three rounds) under the conf on a child
    // session, pin (a) bit-identical results vs the default path and
    // (b) checkpoint files actually written under the conf'd dir.
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val ss = spark.newSession()
    ss.conf.set(Checkpoints.ReliableDirConf, dir)
    try {
      val reliable = SparkEntry.queries("graph_kcore")(ss, sfDir)
        .orderBy(col("round")).collect().map(_.toSeq).toSeq
      val default = SparkEntry.queries("graph_kcore")(spark, sfDir)
        .orderBy(col("round")).collect().map(_.toSeq).toSeq
      assert(reliable == default, "reliable path changed kcore results")
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(files > 0, s"no checkpoint files under $dir — the reliable path never engaged")
    } finally {
      Caches.release()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("every graph key runs on degenerate graphs and returns the hand-computed result") {
    val ss = spark
    import ss.implicits._
    val noEdges = Map(
      "graph_triangles" -> Set(Seq(0L, 0L, 0L)),
      "graph_kcore" -> Set(Seq(1L, 0L, 0L), Seq(2L, 0L, 0L), Seq(3L, 0L, 0L)))
      .withDefaultValue(Set.empty[Seq[Long]])
    val small = Map(
      // (n_edges, n_wedges, n_triangles): out-degrees 2, 1, 0 in the
      // triangle and 1, 0 on the lone edge
      "graph_triangles" -> Set(Seq(4L, 1L, 1L)),
      // every contribution sum is exactly one unit rank: a fixed point
      "graph_pagerank" -> Set(1L, 20L, 30L, 40L, 50L).map(n => Seq(n, 1000000L)),
      "graph_degree_distribution" -> Set(Seq(1L, 2L), Seq(2L, 3L)),
      "graph_khop" -> Set(Seq(1L, 0L), Seq(20L, 1L), Seq(30L, 1L)),
      "graph_kcore" -> noEdges("graph_kcore"),
      "graph_link_predict" -> Set.empty[Seq[Long]],
      // the triangle settles on 1; the lone edge swaps labels each round
      "graph_labelprop" -> Set(Seq(1L, 1L), Seq(20L, 1L), Seq(30L, 1L), Seq(40L, 50L), Seq(50L, 40L)))
    // (corpus, lineitem (order, part) rows, expected rows per key); the
    // last corpus is the triangle {1, 20, 30} plus the lone edge 40-50
    val corpora = Seq(
      ("empty table", Seq.empty[(Long, Long)], noEdges),
      ("single-line orders", Seq(1L -> 1L, 2L -> 2L, 3L -> 1L), noEdges),
      ("a 3-part and a 2-part order",
        Seq(1L -> 1L, 1L -> 20L, 1L -> 30L, 2L -> 40L, 2L -> 50L), small))
    val root = java.nio.file.Files.createTempDirectory("graft_graph_degenerate")
    try corpora.zipWithIndex.foreach { case ((what, rows, want), i) =>
      val dir = root.resolve(s"c$i").toString
      rows.toDF("l_orderkey", "l_partkey").write.parquet(s"$dir/lineitem.parquet")
      graphKeys.foreach { k =>
        val got = SparkEntry.queries(k)(spark, dir).collect()
          .map(_.toSeq.map(_.asInstanceOf[Number].longValue)).toSeq
        assert(got.size == want(k).size && got.toSet == want(k), s"$k on $what: $got")
      }
    } finally {
      Caches.releaseMemos()
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
    }
  }

  test("graph digests are invariant under shuffle partitions and the broadcast threshold") {
    def digests(ss: SparkSession): Map[String, (Long, Long)] = {
      // the arc memo is keyed on the context, not the session: drop it
      // so the frame is rebuilt under this arm's conf
      Caches.releaseMemos()
      graphKeys.map(k => k -> digest(SparkEntry.queries(k)(ss, sfDir))).toMap
    }
    try {
      val base = digests(spark)
      Seq(
        Seq("spark.sql.shuffle.partitions" -> "1"),
        Seq("spark.sql.shuffle.partitions" -> "7"),
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1")).foreach { confs =>
        val got = digests(Sessions.childWith(spark, confs))
        val moved = graphKeys.filter(k => got(k) != base(k))
        assert(moved.isEmpty, s"$confs changed ${moved.mkString(", ")}")
      }
    } finally Caches.releaseMemos() // the next reader rebuilds it on the suite session
  }
}
