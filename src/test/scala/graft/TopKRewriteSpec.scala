package graft

import graft.functions.TopKLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pins [[graft.plans.TopKRewrite]] — the optimizer rule that turns the
  * window top-k spelling into the bounded-heap aggregate.
  *
  * Three properties matter: (1) on the provably-safe shape the OPTIMIZED
  * plan contains the TopKLong aggregate and NO Window (the rewrite fired
  * and erased the sort-everything plan); (2) the rewritten result is
  * row-identical to the same query with the rule off (semantics
  * preserved); (3) the rule does NOT fire when any safety premise fails —
  * a rider column the aggregate can't carry, a nullable order key, k
  * beyond the heap contract. The rule runs in every session built with
  * `GraftExtensions`, the shared test session included; the rule-off
  * control excludes it with Spark's own `excludedRules` conf.
  */
class TopKRewriteSpec extends SparkSpecBase {

  private lazy val offSession: SparkSession =
    Sessions.child(spark, Seq("spark.sql.optimizer.excludedRules" -> "graft.plans.TopKRewrite"))

  /** Non-nullable long (g, s, p) frame with score ties inside groups.
    * Bitwise ops, not `%`: Remainder is nullable even under ANSI, and
    * the rule (correctly) refuses nullable order keys. */
  private def frame(ss: SparkSession): DataFrame =
    ss.range(0, 2000).select(
      col("id").bitwiseAND(7).as("g"),
      (col("id") * 37).bitwiseAND(63).as("s"),
      col("id").as("p"))

  private def topk(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("p"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  private def hasTopK(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.aggregateExpressions.exists(
        _.collectFirst { case _: TopKLong => () }.nonEmpty) => a
    }.nonEmpty

  private def hasWindow(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.nonEmpty

  test("safe shape: rewrite fires (TopKLong in, Window out) and results match rule-off") {
    val rewritten = topk(frame(spark), 5)
    assert(hasTopK(rewritten), "expected TopKLong aggregate in the optimized plan")
    assert(!hasWindow(rewritten), "expected the Window node to be erased")

    val control = topk(frame(offSession), 5)
    assert(!hasTopK(control) && hasWindow(control))

    val a = rewritten.orderBy("g", "rn").collect().map(_.toSeq)
    val b = control.orderBy("g", "rn").collect().map(_.toSeq)
    assert(a.length == 40 && a.toSeq == b.toSeq)
  }

  test("ties at the k boundary stay deterministic (payload ASC wins)") {
    // 4 groups x 75 rows with scores in [0, 8) -> heavy ties at the cut
    val df = spark.range(0, 300).select(
      col("id").bitwiseAND(3).as("g"),
      (col("id") * 37).bitwiseAND(7).as("s"),
      col("id").as("p"))
    val rewritten = topk(df, 4)
    assert(hasTopK(rewritten))
    val got = rewritten.orderBy("g", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val want = (0L until 300L).map(id => (id & 3, (id * 37) & 7, id))
      .groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, rows) =>
        rows.sortBy { case (_, s, p) => (-s, p) }.take(4).zipWithIndex
          .map { case ((_, s, p), i) => (g, s, p, i + 1) }
      }
    assert(got == want)
  }

  test("no misfire: rider column the aggregate cannot carry") {
    val df = frame(spark).withColumn("rider", col("p") * 2)
    val q = topk(df, 5)
    assert(!hasTopK(q), "rewrite must not fire when extra columns ride the window")
    assert(hasWindow(q))
    assert(q.count() == 40)
  }

  test("no misfire: nullable order key") {
    val df = frame(spark).select(col("g"),
      when(col("s") > lit(-1L), col("s")).as("s"), col("p"))
    assert(df.schema("s").nullable)
    val q = topk(df, 5)
    assert(!hasTopK(q) && hasWindow(q))
  }

  test("no misfire: k beyond the heap contract") {
    val q = topk(frame(spark), 2000)
    assert(!hasTopK(q) && hasWindow(q))
  }

  test("a plain Sessions.local session rewrites op_topk_rewrite (no conf set)") {
    val plain = Sessions.local("graft-test").newSession()
    val q = Registry.byName("op_topk_rewrite").build(plain, sfDir)
    assert(hasTopK(q) && !hasWindow(q))
  }

  test("conjunctive filter: bound extracted, full predicate preserved") {
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("p"))
    def q(sess: SparkSession) = frame(sess)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5 && col("g") > 2)
    assert(hasTopK(q(spark)) && !hasWindow(q(spark)))
    val got = q(spark).orderBy("g", "rn").collect().map(_.toSeq).toSeq
    val want = q(offSession).orderBy("g", "rn").collect().map(_.toSeq).toSeq
    assert(got == want && got.length == 25) // groups 3..7, top 5 each
  }

  test("strict and equality spellings: rn < 6 and rn === 3 both rewrite") {
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("p"))
    def lt(sess: SparkSession) = frame(sess)
      .withColumn("rn", row_number().over(w)).filter(col("rn") < 6)
    def eq(sess: SparkSession) = frame(sess)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 3)
    assert(hasTopK(lt(spark)) && hasTopK(eq(spark)))
    assert(lt(spark).orderBy("g", "rn").collect().map(_.toSeq).toSeq ==
      lt(offSession).orderBy("g", "rn").collect().map(_.toSeq).toSeq)
    val got = eq(spark).orderBy("g").collect().map(_.toSeq).toSeq
    assert(got == eq(offSession).orderBy("g").collect().map(_.toSeq).toSeq)
    assert(got.length == 8 && got.forall(_.last == 3))
  }

  test("int order attrs rewrite via lossless casts and restore their type") {
    val df = spark.range(0, 2000).select(
      col("id").bitwiseAND(7).cast("int").as("g"),
      (col("id") * 37).bitwiseAND(63).cast("int").as("s"),
      col("id").cast("int").as("p"))
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("p"))
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
    assert(hasTopK(q) && !hasWindow(q))
    assert(q.schema.fields.map(_.dataType.typeName).toSeq ==
      Seq("integer", "integer", "integer", "integer"))
    val dfOff = offSession.range(0, 2000).select(
      col("id").bitwiseAND(7).cast("int").as("g"),
      (col("id") * 37).bitwiseAND(63).cast("int").as("s"),
      col("id").cast("int").as("p"))
    val control = dfOff.withColumn("rn", row_number().over(w)).filter(col("rn") <= 4)
    assert(q.orderBy("g", "rn").collect().map(_.toSeq).toSeq ==
      control.orderBy("g", "rn").collect().map(_.toSeq).toSeq)
  }

  test("long-literal and cast-wrapped rn spellings rewrite (r16 advice)") {
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("p"))
    // rn <= 5L: type coercion wraps the int rn in a lossless long cast
    def longLit(sess: SparkSession) = frame(sess)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= lit(5L))
    assert(hasTopK(longLit(spark)) && !hasWindow(longLit(spark)))
    assert(longLit(spark).orderBy("g", "rn").collect().map(_.toSeq).toSeq ==
      longLit(offSession).orderBy("g", "rn").collect().map(_.toSeq).toSeq)
    // explicit CAST(rn AS BIGINT) <= 5 — the op_topk_agg oracle's shape
    def castRn(sess: SparkSession) = frame(sess)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn").cast("long") <= 5)
    assert(hasTopK(castRn(spark)), "cast-wrapped rn bound must rewrite")
    assert(castRn(spark).orderBy("g", "rn").collect().map(_.toSeq).toSeq ==
      castRn(offSession).orderBy("g", "rn").collect().map(_.toSeq).toSeq)
    // literal-first equality: 3L = rn
    def eqFlip(sess: SparkSession) = frame(sess)
      .withColumn("rn", row_number().over(w)).filter(lit(3L) === col("rn"))
    assert(hasTopK(eqFlip(spark)))
    assert(eqFlip(spark).orderBy("g").collect().map(_.toSeq).toSeq ==
      eqFlip(offSession).orderBy("g").collect().map(_.toSeq).toSeq)
    // a long bound past the heap contract still refuses
    def big(sess: SparkSession) = frame(sess)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= lit(5000L))
    assert(!hasTopK(big(spark)) && hasWindow(big(spark)))
  }

  test("documented negative: op_topk_per_group stays a window under the rule (r17)") {
    // The registry key's order attrs (v_cents, event_id) come off a
    // parquet corpus whose columns are OPTIONAL → nullable, and the
    // rule correctly refuses nullable order keys (the heap skips
    // nulls where row_number ranks them). This pins the r17 adoption
    // A/B's negative verdict: the rule leaves the key's frame alone —
    // the plan keeps its Window.
    val q = Registry.byName("op_topk_per_group").build(spark, sfDir)
    assert(q.schema("v_cents").nullable, "premise: corpus order key is nullable")
    assert(!hasTopK(q) && hasWindow(q))
  }

  test("no misfire: lower-bound-only predicate has no k to extract") {
    val w = Window.partitionBy(col("g")).orderBy(col("s").desc, col("p"))
    val q = frame(spark).withColumn("rn", row_number().over(w)).filter(col("rn") >= 2)
    assert(!hasTopK(q) && hasWindow(q))
  }
}
