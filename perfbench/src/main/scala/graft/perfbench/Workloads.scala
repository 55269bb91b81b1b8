package graft.perfbench

import graft.Registry
import graft.sources.Sinks
import graft.tpch.{FullTpch, TpchGen}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operation of a workload. `build` is the program's frame
  * constructor (its wall time is the registry-build layer); writing
  * the frame as parquet executes the full plan. */
final case class Op(name: String, build: SparkSession => DataFrame)

/** A workload: its operations and the catalog set-up a session needs
  * before the first operation, which returns the sessions the
  * operations run in. */
final case class Workload(name: String, ops: Seq[Op], register: SparkSession => Seq[SparkSession])

object Workloads {
  /** LLM-pipeline keys: the shingle self-join pair (containment and
    * n-gram Jaccard share it), MinHash LSH, connected components (its
    * output is a `Caches` memo), sign-LSH nearest neighbours (persists
    * through `Caches`) and a text kernel. */
  val LlmKeys: Seq[String] = Seq(
    "dedup_containment", "dedup_ngram_jaccard", "dedup_minhash_lsh",
    "dedup_components", "ann_lsh_topk", "text_quality")

  /** Spec TPC-H queries, one per plan shape: scan-aggregate (Q1),
    * six-way join (Q5), join with LIKE (Q9), outer join (Q13),
    * correlated scalar subquery (Q17), IN subquery + top-k (Q18),
    * EXISTS + NOT EXISTS (Q21). */
  val TpchKeys: Seq[String] = Seq(
    "q1_full_pricing_summary", "q5_full_local_supplier", "q9_full_profit",
    "q13_full_customer_distribution", "q17_full_small_qty_revenue", "q18_full_large_orders",
    "q21_full_waiting_suppliers")

  /** Generator tables written each pass: the two that take ~85% of
    * generation time, and two dimension tables. */
  val GenTables: Seq[String] = Seq("orders", "lineitem", "customer", "part")

  /** `FullTpch`'s own query path (view-registered child session, spec
    * SQL through `spark.sql`) over a corpus at `root`, beside the
    * generator writing tables at `genSf`. The registry key's
    * builder would first persist the corpus under a fixed absolute
    * path; the benchmark persists it inside its own checkout with the
    * same generator and then goes through the same session. */
  def tpch(root: String, genSf: Double): Workload = Workload(
    "tpch",
    TpchKeys.map(k => Op(k, s =>
      FullTpch.sessionFor(s, root, FullTpch.confOverrides.getOrElse(k, Nil))
        .sql(FullTpch.sparkSqlOf(k)))) ++
      // the frames and sink `TpchGen.persistAll` uses, one operation
      // per table so each is timed
      GenTables.map(t => Op(s"gen_$t", s => TpchGen.table(s, t, genSf))),
    s => Seq(s, FullTpch.sessionFor(s, root)))

  def llm(dir: String): Workload = Workload(
    "llm", LlmKeys.map(k => Op(k, s => Registry.byName(k).build(s, dir))), s => Seq(s))

  /** Executes `df`'s plan completely, writing its rows to `path` with
    * the program's parquet sink, where the output check reads them. */
  def sink(df: DataFrame, path: String): Unit = Sinks.writeParquet(df, path)
}
