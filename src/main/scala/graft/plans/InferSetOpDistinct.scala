package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Infer-set-operator-distinct (reference:
  * nereids/rules/rewrite/InferSetOperatorDistinct.java).
  *
  * UNION (distinct) plans a full-width dedup aggregate over the
  * concatenated inputs — at 100 TB that is a shuffle of every row on
  * every column for nothing when the inputs can't contain duplicates.
  * This rule removes the dedup when BOTH hold:
  *
  *  1. each branch is internally duplicate-free: the branch is
  *     Project/Filter over a single leaf scan and its output carries a
  *     column declared UNIQUE in the RELY registry
  *     ([[Constraints.uniqueKeys]] — same trust model as
  *     [[FkJoinEliminationRule]]);
  *  2. branches are pairwise disjoint: some output position projects a
  *     constant literal tag in every branch and the tags are pairwise
  *     distinct (the standard hand-written "source discriminator"
  *     UNION pattern).
  *
  * Then `Distinct(Union(...))` == `Union(...)` row-for-row and the
  * aggregate is dropped. */
object InferSetOpDistinctRule extends Rule[LogicalPlan] {

  /** pure-dedup aggregate: groups on exactly its child's output. */
  private def isDedup(agg: Aggregate): Boolean = {
    val out = agg.child.outputSet
    agg.aggregateExpressions.forall(_.isInstanceOf[Attribute]) &&
    agg.aggregateExpressions.size == agg.child.output.size &&
    agg.aggregateExpressions.map(_.exprId).toSet == agg.child.output.map(_.exprId).toSet &&
    agg.groupingExpressions.forall {
      case a: Attribute => out.contains(a)
      case _ => false
    } &&
    agg.groupingExpressions.map {
      case a: Attribute => a.exprId
    }.toSet == agg.child.output.map(_.exprId).toSet
  }

  /** branch is Project/Filter* over one leaf, and its output includes a
    * RELY-unique column (directly or under a renaming alias). */
  private def branchUnique(p: LogicalPlan): Boolean = {
    def base(x: LogicalPlan): Option[LogicalPlan] = x match {
      case Project(_, c) => base(c)
      case Filter(cond, c) if cond.deterministic => base(c)
      case l: LeafNode => Some(l)
      case _ => None
    }
    if (base(p).isEmpty) return false
    val outExprs: Seq[Expression] = p match {
      case Project(plist, _) => plist
      case other => other.output
    }
    outExprs.exists {
      case a: Attribute => Constraints.uniqueKeys.contains(a.name.toLowerCase)
      case Alias(a: Attribute, _) => Constraints.uniqueKeys.contains(a.name.toLowerCase)
      case _ => false
    }
  }

  /** some column position is a pairwise-distinct literal across branches. */
  private def disjointTags(children: Seq[LogicalPlan]): Boolean = {
    val arity = children.head.output.size
    (0 until arity).exists { i =>
      val tags = children.map {
        case Project(plist, _) => plist(i) match {
          case Alias(l: Literal, _) => Some(l)
          case _ => None
        }
        case _ => None
      }
      tags.forall(_.isDefined) && tags.flatten.distinct.size == children.size
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg @ Aggregate(_, _, u: Union, _)
          if isDedup(agg) && u.children.size >= 2 &&
            u.children.forall(branchUnique) && disjointTags(u.children) =>
        u
    }
}
