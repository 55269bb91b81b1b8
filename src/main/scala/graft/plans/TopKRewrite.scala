package graft.plans

import graft.functions.TopKLong
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Catalyst OPTIMIZER RULE — the (c)-tier extension point of the
  * build doctrine: rewrite the ubiquitous window top-k pattern
  *
  * {{{ Filter(..rn ≤ k.., Window(rn = row_number() OVER
  *       (PARTITION BY p ORDER BY score DESC, payload ASC), child)) }}}
  *
  * into the bounded-heap aggregate [[graft.functions.TopKLong]]:
  *
  * {{{ Filter(..original predicate.., Project(p, score, payload, rn = pos + 1,
  *       Generate(posexplode(tk),
  *         Aggregate(p, top_k_long(score, payload, k) AS tk, child)))) }}}
  *
  * The window plan must exchange and SORT every row of every group
  * before row_number can cut; the rewritten plan's map-side combine
  * holds ≤ k pairs per (group, partition) and ships only those — the
  * same answer (both sides share the (score DESC, payload ASC) total
  * order) for a shuffle of k rows per group instead of the table.
  * The ORIGINAL filter predicate is kept on top of the replacement
  * (which re-exposes rn), so the proof obligation is only that the
  * replacement emits every row with rn ≤ k — conjuncts beyond the
  * bound (`rn = k`, `rn < k`, extra conditions on the survivors)
  * evaluate unchanged.
  *
  * FIRES ONLY when provably safe, else leaves the plan alone:
  *   - some conjunct of the filter places a LITERAL upper bound on
  *     the window's row_number output (`rn <= k`, `rn < k`, `rn = k`,
  *     or the mirrored literal-first spellings), with the tightest
  *     such bound in TopKLong's [1, 1024] buffer contract;
  *   - single window expression, exactly `row_number()`;
  *   - order is (attr DESC, attr ASC), both non-nullable integral
  *     (long or int — ints ride a lossless monotone cast and are cast
  *     back on re-exposure; the heap skips nulls, row_number ranks
  *     them, so nullable order keys never rewrite);
  *   - partition keys are bare attributes;
  *   - the window child's output ⊆ {partition keys, score, payload} —
  *     i.e. column pruning already proved nothing else rides along
  *     (a rider column cannot survive an aggregate).
  * The rewritten subtree re-exposes the ORIGINAL attribute ids
  * (aliases pinned to the old exprIds), so parents resolve unchanged.
  *
  * On in every session built with [[graft.functions.GraftExtensions]]
  * (so every [[graft.Sessions.local]] session); a session turns it off
  * with Spark's own
  * `spark.sql.optimizer.excludedRules=graft.plans.TopKRewrite`.
  *
  * Measured (dev/BENCH_NOTES.md "window-vs-heap A/B"): ~6× at sf10
  * over a 3-group window (whose final sort parallelism is |groups|
  * no matter the cluster), ~2.3× at 100k groups; ships with the
  * default ObjectHashAggregate fallback threshold — raising it was
  * A/B-refuted.
  */
object TopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond, w: Window) =>
        rnUpperBound(cond, w).flatMap { case (rn, k) =>
          tryRewrite(w, rn, k).map(repl => Filter(cond, repl))
        }.getOrElse(f)
    }

  /** The tightest literal upper bound any conjunct places on the
    * window's row_number output, when it fits the heap contract.
    * Long literals and a lossless long-widening cast around the rn
    * attribute both match (r16 advice): type coercion turns
    * `rn <= 5L` / `CAST(rn AS BIGINT) <= 5` into exactly that shape,
    * and row_number's int output widened to long is injective, so the
    * bound reads through the cast unchanged. */
  private def rnUpperBound(
      cond: Expression, w: Window): Option[(AttributeReference, Int)] = {
    val rnIds = AttributeSet(w.windowExpressions.map(_.toAttribute))
    def rnAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if rnIds.contains(a) => Some(a)
      case Cast(a: AttributeReference, LongType, _, _) if rnIds.contains(a) => Some(a)
      case _ => None
    }
    def litK(e: Expression): Option[Long] = e match {
      case Literal(k: Int, IntegerType) => Some(k.toLong)
      case Literal(k: Long, LongType) => Some(k)
      case _ => None
    }
    val bounds = splitConjunctivePredicates(cond).flatMap {
      case LessThanOrEqual(e, l) => for { a <- rnAttr(e); k <- litK(l) } yield (a, k)
      case LessThan(e, l) => for { a <- rnAttr(e); k <- litK(l) } yield (a, k - 1)
      case GreaterThanOrEqual(l, e) => for { a <- rnAttr(e); k <- litK(l) } yield (a, k)
      case GreaterThan(l, e) => for { a <- rnAttr(e); k <- litK(l) } yield (a, k - 1)
      case EqualTo(x, y) =>
        (for { a <- rnAttr(x); k <- litK(y) } yield (a, k))
          .orElse(for { a <- rnAttr(y); k <- litK(x) } yield (a, k))
      case _ => None
    }
    bounds.sortBy(_._2).headOption
      .filter { case (_, k) => k >= 1 && k <= 1024 }
      .map { case (a, k) => (a, k.toInt) }
  }

  /** Non-nullable integral attribute the heap's long total order can
    * represent losslessly (int rides a monotone injective widen). */
  private def heapOrderable(a: AttributeReference): Boolean =
    !a.nullable && (a.dataType == LongType || a.dataType == IntegerType)

  private def asLong(e: Expression): Expression =
    if (e.dataType == LongType) e else Cast(e, LongType)

  /** Re-expose a heap field under an original attribute's name, id and
    * type (casting back is lossless: the values originated as ints). */
  private def reExpose(field: Expression, a: Attribute): NamedExpression = {
    val restored = if (a.dataType == field.dataType) field else Cast(field, a.dataType)
    Alias(restored, a.name)(exprId = a.exprId)
  }

  private def tryRewrite(w: Window, rn: AttributeReference, k: Int): Option[LogicalPlan] =
    (w.windowExpressions, w.orderSpec) match {
      case (Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)),
            Seq(SortOrder(score: AttributeReference, Descending, _, _),
                SortOrder(payload: AttributeReference, Ascending, _, _)))
          if alias.exprId == rn.exprId &&
            heapOrderable(score) && heapOrderable(payload) &&
            w.partitionSpec.forall(_.isInstanceOf[AttributeReference]) => {
        val part = w.partitionSpec.map(_.asInstanceOf[AttributeReference])
        val needed = AttributeSet(part ++ Seq(score, payload))
        if (!w.child.outputSet.subsetOf(needed)) None
        else {
          val tk = Alias(
            TopKLong(asLong(score), asLong(payload), k).toAggregateExpression(), "tk")()
          val aggregate = Aggregate(part, part :+ tk, w.child)
          // posexplode of array<struct<score,payload>> emits
          // (pos: int, col: struct<score,payload>) — the struct is NOT
          // flattened; fields come back out via GetStructField
          val posOut = AttributeReference("pos", IntegerType, nullable = false)()
          val colOut = AttributeReference("tkcol",
            new org.apache.spark.sql.types.StructType()
              .add("score", LongType, nullable = false)
              .add("payload", LongType, nullable = false),
            nullable = false)()
          val generate = Generate(PosExplode(tk.toAttribute), Nil, outer = false, None,
            Seq(posOut, colOut), aggregate)
          // re-expose the window plan's output under its ORIGINAL ids
          val projections: Seq[NamedExpression] = (w.child.output :+ alias.toAttribute).map {
            case a if a.exprId == score.exprId =>
              reExpose(GetStructField(colOut, 0, Some("score")), a)
            case a if a.exprId == payload.exprId =>
              reExpose(GetStructField(colOut, 1, Some("payload")), a)
            case a if a.exprId == rn.exprId =>
              Alias(Add(posOut, Literal(1, IntegerType)), a.name)(exprId = a.exprId)
            case a => a
          }
          Some(Project(projections, generate))
        }
      }
      case _ => None
    }
}
