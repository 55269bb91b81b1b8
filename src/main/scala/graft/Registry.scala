package graft

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability: a named query (driver contract) + optional
  * DuckDB oracle SQL (hash-checked by the driver at sf0.01).
  *
  * Column names MUST match between `build`'s output and `oracle`'s
  * projection — the driver sorts columns by name before hashing.
  */
final case class GQuery(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    tags: Set[String] = Set.empty)

object GQuery {
  /** A key's build when the key is its oracle text: [[Tables.sql]] runs
    * `text` in the caller's session over the corpus. */
  final case class SqlText(text: String) extends ((SparkSession, String) => DataFrame) {
    def apply(spark: SparkSession, dir: String): DataFrame = Tables.sql(spark, dir, text)
  }

  /** The one constructor of a key that is a SQL text: Spark runs the
    * text ([[SqlText]]) and DuckDB replays it verbatim as the oracle. */
  def sql(name: String, tag: String, text: String): GQuery =
    GQuery(name, SqlText(text), Some(text), Set(tag))
}

object Registry {
  /** Full inventory, mirrors SURVEY.md §2. */
  lazy val all: Seq[GQuery] =
    tpch.TpchQueries.all ++
      tpch.FullTpch.all ++
      tpch.TpchRewrites.all ++
      operators.Relational.all ++
      operators.Behavior.all ++
      text.TextAnalysis.all ++
      dedup.Dedup.all ++
      similarity.Ann.all ++
      graph.Graph.all ++
      multimodal.Multimodal.all ++
      streaming.Streams.all ++
      tpch.TpchGen.all ++
      sources.AuxGen.all ++
      Seq(sources.Sinks.bucketedJoin) ++ sources.Sinks.layoutKeys ++ Seq(
        sources.Sinks.compactSmallFiles, sources.Sinks.compactPartitioned,
        sources.Sinks.partitionPrune, sources.Sinks.bloomFilterJoin,
        sources.Sinks.statsSkipping) ++
      pipeline.TrainingData.all

  lazy val byName: Map[String, GQuery] = {
    val names = all.map(_.name)
    require(names.distinct.size == names.size,
      s"duplicate query names: ${names.diff(names.distinct).distinct.mkString(", ")}")
    all.map(q => q.name -> q).toMap
  }

  /** Headline queries (one per subsystem family) — selected by
    * `SPARK_GRAFT_BENCH_ONLY=headline` in [[graft.Bench]] for a fast
    * whole-surface smoke loop. */
  lazy val benchNames: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q9_profit", "q13_customer_distribution",
    "q18_large_orders", "q21_waiting_suppliers",
    "op_window_running", "op_asof_join",
    "dedup_minhash_lsh", "ann_cosine_topk", "text_quality",
    "gen_rowcounts",
    "graph_triangles", "op_markov_transitions", "stream_cdc",
    "pipeline_curate")
}
