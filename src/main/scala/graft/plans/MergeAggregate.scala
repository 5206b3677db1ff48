package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Aggregate-over-aggregate fusion (reference:
  * nereids/rules/rewrite/MergeAggregate.java — Doris collapses the
  * re-aggregation pattern `GROUP BY coarse over (GROUP BY fine)` into
  * one aggregate when every outer call is derivable from the inner
  * partials).
  *
  * The two-level shape is what BI tools and hand-layered CTEs emit
  * constantly; unfused it costs TWO full shuffles (fine keys, then
  * coarse keys). The fused plan is one aggregate over the base — one
  * shuffle on the coarse keys with map-side partials, strictly less
  * data motion at any scale.
  *
  * Derivations (outer over inner alias):
  *   SUM(SUM(x))     -> SUM(x)     (cast when decimal widening differs)
  *   SUM(COUNT(...)) -> COUNT(...)
  *   MIN(MIN(x))     -> MIN(x)      MAX(MAX(x)) -> MAX(x)
  *   MIN/MAX(k)      -> MIN/MAX(k)  for k an inner GROUP key
  *
  * Guards: outer group keys must resolve to inner group-key
  * attributes (plain attributes on both levels, so ids flow through);
  * outer group keys non-empty (a global SUM over COUNT partials is
  * NULL on empty input where the fused COUNT is 0); no
  * DISTINCT/FILTER on either level; only Project/SubqueryAlias
  * between the two aggregates. COUNT(*) at the outer level counts
  * inner GROUPS — not derivable, bail. */
object MergeAggregateRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case outer @ Aggregate(g2, a2, child, _) if g2.nonEmpty =>
        tryMerge(outer, g2, a2, child).getOrElse(outer)
    }

  /** strip attr-preserving layers between the two aggregates. */
  @annotation.tailrec
  private def unwrap(p: LogicalPlan): Option[Aggregate] = p match {
    case SubqueryAlias(_, c) => unwrap(c)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => unwrap(c)
    case a: Aggregate => Some(a)
    case _ => None
  }

  private def tryMerge(outer: Aggregate, g2: Seq[Expression],
                       a2: Seq[NamedExpression],
                       child: LogicalPlan): Option[LogicalPlan] = {
    val inner = unwrap(child) match {
      case Some(a) => a
      case None => return None
    }
    val Aggregate(g1, a1, base, _) = inner
    // both levels group by plain attributes -> attribute ids flow from
    // the base through the inner agg to the outer references untouched
    if (!g1.forall(_.isInstanceOf[AttributeReference]) ||
        !g2.forall(_.isInstanceOf[AttributeReference])) return None
    val innerGroupIds = g1.map(_.asInstanceOf[AttributeReference].exprId).toSet
    if (!g2.forall { case a: AttributeReference => innerGroupIds.contains(a.exprId) })
      return None
    // inner alias id -> its (non-distinct, unfiltered) aggregate call
    val innerAgg: Map[ExprId, AggregateExpression] = a1.collect {
      case al @ Alias(ae: AggregateExpression, _)
          if !ae.isDistinct && ae.filter.isEmpty =>
        al.exprId -> ae
    }.toMap
    // every inner output must be either a group attr or a plain
    // aggregate alias (anything fancier and the outer refs may lean on
    // per-group expressions we cannot reproduce on base rows)
    val innerOk = a1.forall {
      case a: AttributeReference => innerGroupIds.contains(a.exprId)
      case al: Alias => innerAgg.contains(al.exprId)
      case _ => false
    }
    if (!innerOk) return None

    def derive(ae: AggregateExpression): Option[AggregateExpression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      def innerOf(e: Expression): Option[AggregateExpression] = e match {
        case a: AttributeReference => innerAgg.get(a.exprId)
        case _ => None
      }
      def isInnerKey(e: Expression): Boolean = e match {
        case a: AttributeReference => innerGroupIds.contains(a.exprId)
        case _ => false
      }
      ae.aggregateFunction match {
        case Sum(e, mode) => innerOf(e) match {
          case Some(in) => in.aggregateFunction match {
            case Sum(y, _) => Some(in.copy(aggregateFunction = Sum(y, mode)))
            case _: Count => Some(in)
            case _ => None
          }
          case None => None
        }
        case Min(e) => innerOf(e) match {
          case Some(in) => in.aggregateFunction match {
            case Min(y) => Some(in.copy(aggregateFunction = Min(y)))
            case _ => None
          }
          case None if isInnerKey(e) => Some(ae)
          case None => None
        }
        case Max(e) => innerOf(e) match {
          case Some(in) => in.aggregateFunction match {
            case Max(y) => Some(in.copy(aggregateFunction = Max(y)))
            case _ => None
          }
          case None if isInnerKey(e) => Some(ae)
          case None => None
        }
        case _ => None
      }
    }

    // validate first: every attr OUTSIDE an aggregate call must be an
    // inner group key (ids flow to base), every aggregate derivable
    val valid = a2.forall {
      case a: AttributeReference => innerGroupIds.contains(a.exprId)
      case al: Alias =>
        val outside = al.child.transform { case _: AggregateExpression => Literal(0L) }
        outside.references.forall(r => innerGroupIds.contains(r.exprId)) &&
          al.child.collect { case ae: AggregateExpression => ae }
            .forall(derive(_).isDefined)
      case _ => false
    }
    if (!valid) return None
    // rewrite each outer output expression; keep its Alias/attr exprId
    // (the plan-substitution contract — parents never notice)
    val merged = a2.map {
      case a: AttributeReference => a
      case al: Alias =>
        val newChild = al.child.transformUp {
          case ae: AggregateExpression =>
            val m = derive(ae).get
            if (m.dataType == ae.dataType) m else Cast(m, ae.dataType)
        }
        Alias(newChild, al.name)(exprId = al.exprId): NamedExpression
    }
    Some(Aggregate(g2, merged, base))
  }
}
