package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** HAVING-on-extremum to scan-filter derivation (reference:
  * nereids/rules/rewrite/MaxMinFilterPushDown.java —
  * `HAVING min(a) < k` derives the row predicate `a < k` below the
  * aggregate; Doris then prunes segments with it via zonemaps).
  *
  * Soundness, per group:
  *  - `min(a) < k` holds  ⇒ the minimal row has a < k, so it survives
  *    the derived filter and the group's min is unchanged (dropping
  *    non-minimal rows never changes min).
  *  - `min(a) < k` fails  ⇒ min over any SUBSET of the group's rows is
  *    ≥ the full min ≥ k, so the kept HAVING filter still rejects the
  *    group (or the group vanished entirely — same result, since the
  *    HAVING would have rejected it). Max is symmetric with `>`.
  *
  * Generalization over the reference (which fires only when the
  * aggregate computes exactly one min/max): with SEVERAL extremum
  * aggregates each constrained by its own conjunct, the DISJUNCTION of
  * the derived predicates is pushed — every extremal row satisfies its
  * own disjunct, so each surviving group's extrema are all preserved.
  * The rule never fires if ANY aggregate function in the output is not
  * a covered min/max (count/sum/avg change under row removal, and an
  * unconstrained min/max's extremal row could be dropped by another
  * aggregate's predicate).
  *
  * Why it matters at scale: the derived predicate reaches the parquet
  * scan (PushedFilters) inside the same operator-optimization fixpoint,
  * so row groups whose min/max stats exclude the threshold are never
  * read — a HAVING over a 100 TB fact becomes a stats-pruned scan
  * instead of a full aggregate-then-filter.
  *
  * The HAVING filter is KEPT (the rewrite adds, never moves), so the
  * rewrite is exact. A tag on the Aggregate stops re-derivation inside
  * the fixpoint batch. */
object MaxMinFilter {
  val Derived = TreeNodeTag[Boolean]("graft.maxMinFilter.derived")
}

object MaxMinFilterRule
    extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case f @ Filter(cond, agg: Aggregate)
          if agg.getTagValue(MaxMinFilter.Derived).isEmpty =>
        agg.setTagValue(MaxMinFilter.Derived, true)
        derive(cond, agg) match {
          case Some(pred) =>
            val newAgg = agg.copy(child = Filter(pred, agg.child))
            // case-class copy drops tags — re-tag the rewritten node or
            // the fixpoint batch re-derives the same filter forever
            newAgg.setTagValue(MaxMinFilter.Derived, true)
            f.copy(child = newAgg)
          case None => f
        }
    }

  /** Output attribute -> the top-level aliased aggregate it names. */
  private def aliasedAggs(agg: Aggregate): Map[ExprId, AggregateExpression] =
    agg.aggregateExpressions.collect {
      case al @ Alias(ae: AggregateExpression, _) => al.exprId -> ae
    }.toMap

  private def derive(cond: Expression, agg: Aggregate): Option[Expression] = {
    val byAttr = aliasedAggs(agg)

    // Every aggregate function computed anywhere in the output list.
    val allAggs = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    })

    // conjunct -> derived row predicate (+ which aggregate it covers)
    def tryDerive(c: Expression): Option[(AggregateExpression, Expression)] = {
      // normalize literal-first comparisons to attr-first
      val norm = c match {
        case GreaterThan(l: Literal, a) => LessThan(a, l)
        case GreaterThanOrEqual(l: Literal, a) => LessThanOrEqual(a, l)
        case LessThan(l: Literal, a) => GreaterThan(a, l)
        case LessThanOrEqual(l: Literal, a) => GreaterThanOrEqual(a, l)
        case other => other
      }
      norm match {
        case LessThan(a: AttributeReference, l: Literal) if l.value != null =>
          minOf(a, byAttr).map(ae => ae -> LessThan(minChild(ae), l))
        case LessThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
          minOf(a, byAttr).map(ae => ae -> LessThanOrEqual(minChild(ae), l))
        case GreaterThan(a: AttributeReference, l: Literal) if l.value != null =>
          maxOf(a, byAttr).map(ae => ae -> GreaterThan(maxChild(ae), l))
        case GreaterThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
          maxOf(a, byAttr).map(ae => ae -> GreaterThanOrEqual(maxChild(ae), l))
        case _ => None
      }
    }

    val hits = splitConjunctivePredicates(cond).flatMap(tryDerive)
    if (hits.isEmpty) return None

    // Guard: every aggregate function in the output must be one of the
    // covered extrema (semantically). Otherwise dropping rows could
    // change an uncovered aggregate's value for a surviving group.
    val covered = hits.map(_._1.canonicalized)
    val allCovered = allAggs.nonEmpty &&
      allAggs.forall(ae => covered.contains(ae.canonicalized))
    if (!allCovered) return None

    val preds = hits.map(_._2)
    // derived predicates are over agg.child's output by construction;
    // require determinism so the filter can keep sinking to the scan
    if (!preds.forall(_.deterministic)) return None
    Some(preds.reduceLeft[Expression](Or))
  }

  /** The conjunct's attribute names a plain `min(x)` (no DISTINCT — a
    * distinct min is the same value, but keep the matched shape tight —
    * no FILTER clause, deterministic child). */
  private def minOf(a: AttributeReference,
      byAttr: Map[ExprId, AggregateExpression]): Option[AggregateExpression] =
    byAttr.get(a.exprId).collect {
      case ae @ AggregateExpression(Min(c), _, false, None, _)
          if c.deterministic => ae
    }

  private def maxOf(a: AttributeReference,
      byAttr: Map[ExprId, AggregateExpression]): Option[AggregateExpression] =
    byAttr.get(a.exprId).collect {
      case ae @ AggregateExpression(Max(c), _, false, None, _)
          if c.deterministic => ae
    }

  private def minChild(ae: AggregateExpression): Expression =
    ae.aggregateFunction.asInstanceOf[Min].child
  private def maxChild(ae: AggregateExpression): Expression =
    ae.aggregateFunction.asInstanceOf[Max].child
}
