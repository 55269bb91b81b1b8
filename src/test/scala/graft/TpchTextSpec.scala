package graft

import graft.sources.Tables
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** The text keys — every registry key built by [[GQuery.sql]]: the
  * adapted TPC-H suite and the relational operators whose oracle is
  * their spelling — run their oracle text in the caller's own session:
  * the one text is what Spark parses (behind [[Tables.sql]]'s
  * name-binding prelude) and what DuckDB replays, the caller's temp
  * views neither shadow the corpus nor change, and the caller's confs
  * reach the plan without changing the answer. */
class TpchTextSpec extends SparkSpecBase {

  private val keys: Seq[GQuery] = Registry.all.filter(_.build.isInstanceOf[GQuery.SqlText])

  /** `WITH <table> AS (SELECT * FROM parquet.`<path>`)` entries, one a
    * line, each followed by `,` or the end of the prelude. */
  private val prelude = """(?s)^WITH (?:\w+ AS \(SELECT \* FROM parquet\.`[^`]*`\)(?:,\n|\n))+""".r

  test("each key parses its oracle text behind the name-binding prelude") {
    assert(tpch.TpchQueries.all.forall(keys.contains))
    keys.foreach { q =>
      val text = q.oracle.getOrElse(fail(s"${q.name} has no oracle"))
      assert(q.build == GQuery.SqlText(text), q.name)
      val ran = q.build(spark, sfDir).queryExecution.logical.origin.sqlText
        .getOrElse(fail(s"${q.name}'s plan carries no SQL text"))
      assert(ran == Tables.bind(sfDir, text), q.name)
      // the prelude is all that was added; a text with its own WITH
      // clause shares the keyword with it
      val body = prelude.replaceFirstIn(ran, "")
      assert(body != ran, s"${q.name}: no prelude")
      assert(body == text || (text.endsWith(body) && text.dropRight(body.length).trim == "WITH"),
        s"${q.name} ran text that is not its oracle:\n$ran")
    }
  }

  test("a caller temp view named lineitem does not change q1_pricing_summary") {
    val caller = spark.newSession()
    val q1 = Registry.byName("q1_pricing_summary")
    val want = digest(q1.build(caller, sfDir))
    Tables.lineitem(caller, sfDir).limit(7).createOrReplaceTempView("lineitem")
    assert(caller.table("lineitem").count() == 7)
    assert(digest(q1.build(caller, sfDir)) == want)
  }

  test("building a key leaves the caller's temp views as they were") {
    val caller = spark.newSession()
    caller.range(3).toDF("c_custkey").createOrReplaceTempView("customer")
    def views = caller.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSeq.sorted
    val before = views
    keys.foreach(q => q.build(caller, sfDir).collect())
    assert(views == before)
    assert(caller.table("customer").count() == 3)
  }

  test("the caller's AQE setting reaches every key's executed plan") {
    val caller = spark.newSession()
    def adaptive(q: GQuery): Boolean =
      q.build(caller, sfDir).queryExecution.executedPlan.exists(_.isInstanceOf[AdaptiveSparkPlanExec])
    assert(keys.forall(adaptive), "AQE is on by default")
    caller.conf.set("spark.sql.adaptive.enabled", "false")
    val stillAdaptive = keys.filter(adaptive).map(_.name)
    assert(stillAdaptive.isEmpty, stillAdaptive)
  }

  test("no key's answer moves with the shuffle partition count or join strategy") {
    val caller = spark.newSession()
    val want = keys.map(q => digest(q.build(caller, sfDir)))
    val moved = Seq(
      "spark.sql.shuffle.partitions" -> "1",
      "spark.sql.shuffle.partitions" -> "7",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1").flatMap { case (k, v) =>
      val s = spark.newSession()
      s.conf.set(k, v)
      keys.zip(want).collect {
        case (q, d) if digest(q.build(s, sfDir)) != d => s"${q.name} under $k=$v"
      }
    }
    assert(moved.isEmpty, moved)
  }
}
