package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** TopN pushdown through outer/cross joins, and through DISTINCT over
  * an outer join or UNION ALL (reference:
  * nereids/rules/rewrite/PushDownTopNThroughJoin.java,
  * PushDownTopNDistinctThroughJoin.java,
  * PushDownTopNDistinctThroughUnion.java).
  *
  * `ORDER BY l.x LIMIT k` over `l LEFT JOIN r` joins ALL of `l` before
  * keeping k rows. When every sort key comes from the row-preserved side,
  * a copy of the TopN is valid on that side first: each preserved-side
  * row yields >= 1 output row carrying its sort-key values, so the n
  * globally-smallest output rows can only derive from the n
  * smallest-keyed preserved rows (ties at the boundary are arbitrary in
  * SQL LIMIT on either plan). The join input drops from |l| to k — at
  * 100 TB that turns a fact-sized shuffle join into a k-row broadcast
  * join. Spark's native LimitPushDown does this for bare LIMIT but not
  * for ORDER BY + LIMIT (TopN).
  *
  * Join safety table (mirrors the reference's switch):
  *  - LEFT OUTER, sort keys ⊆ left:  push to left (row-preserved).
  *  - RIGHT OUTER, sort keys ⊆ right: push to right.
  *  - CROSS with NO condition: either side — each side's rows survive
  *    whenever the other side is non-empty; if it IS empty both plans
  *    return 0 rows. A Cross WITH a condition (Spark keeps joinType
  *    Cross when PushPredicateThroughJoin fuses a WHERE into it) is
  *    inner-like and never safe.
  *  - INNER/semi/anti: never (a joined-away row may out-rank survivors).
  *
  * A bare UNION ALL is left alone: TakeOrderedAndProject is already a
  * per-partition top-k, and a per-branch copy won no measurable time
  * on a 25x set. Under DISTINCT the per-branch copy does win, because
  * it bounds what each branch feeds into the dedup shuffle.
  *
  * The child TopN is ADDED, never moved: the parent TopN still runs, so
  * the rewrite is exact for any deterministic sort key set. Offsets are
  * not matched (Spark plans them as a separate Offset node); non-literal
  * limits are not matched. */
object TopNPushdownRule extends Rule[LogicalPlan] {

  /** TopN above this many rows is left alone — pushing a huge top-k
    * duplicates sort work without reducing anything (the reference gates
    * the same way via topn_opt_limit_threshold). */
  private val Threshold = 16384L

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case topn @ GlobalLimit(IntegerLiteral(n),
          LocalLimit(IntegerLiteral(n2), s @ Sort(order, true, child, _)))
          if n == n2 && n <= Threshold && order.forall(_.child.deterministic) =>
        rewriteChild(n, order, child) match {
          case Some(newChild) =>
            GlobalLimit(Literal(n), LocalLimit(Literal(n), s.copy(child = newChild)))
          case None => topn
        }
    }

  private def topNOf(n: Int, order: Seq[SortOrder], child: LogicalPlan): LogicalPlan =
    GlobalLimit(Literal(n), LocalLimit(Literal(n), Sort(order, global = true, child)))

  /** The Aggregate is a full-row DISTINCT of `childOutput` (grouping =
    * every child column), optionally with a sub-projection of the group
    * keys as its output (CollapseProject folds a Project above
    * DISTINCT * into this shape) — and no aggregate calls. */
  private def isFullRowDistinct(g: Seq[Expression], a: Seq[NamedExpression],
                                childOutput: AttributeSet): Boolean = {
    val gAttrs = g.forall(_.isInstanceOf[Attribute]) && AttributeSet(g) == childOutput
    gAttrs && a.forall {
      case at: Attribute => childOutput.contains(at)
      case _ => false
    }
  }

  /** Already a limit? Then this TopN was pushed (or the user wrote one);
    * re-firing would loop the fixpoint batch. */
  private def isLimited(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit | _: LocalLimit => true
    case _ => false
  }

  private def rewriteChild(
      n: Int, order: Seq[SortOrder], child: LogicalPlan): Option[LogicalPlan] = {
    val sortRefs = AttributeSet(order.flatMap(_.references))
    child match {
      // TopN -> Join
      case j: Join => pushIntoJoin(n, order, sortRefs, j).map(nj => nj)

      // TopN -> Project -> Join: substitute project aliases into the
      // sort keys, then push the rewritten TopN below the project.
      case p @ Project(plist, j: Join) if plist.forall(_.deterministic) =>
        val sub = plist.collect { case a: Alias => a.toAttribute.exprId -> a.child }.toMap
        val mapped = order.map(so => so.copy(child = so.child.transform {
          case a: Attribute if sub.contains(a.exprId) => sub(a.exprId)
        }).asInstanceOf[SortOrder])
        val mappedRefs = AttributeSet(mapped.flatMap(_.references))
        if (!mappedRefs.subsetOf(j.outputSet)) None
        else pushIntoJoin(n, mapped, mappedRefs, j).map(nj => p.copy(child = nj))

      // TopN -> DISTINCT -> Union ALL (reference:
      // PushDownTopNDistinctThroughUnion.java). Every globally-distinct
      // row exists in >= 1 branch, and ranks there no worse than
      // globally, so per-branch distinct + TopN keeps every candidate;
      // the global Aggregate still dedups across branches and the
      // global TopN still applies. Each branch feeds at most n rows
      // into the distinct shuffle instead of its whole output (partial
      // aggregation dedups map-side but never LIMITS).
      // (Full-coverage guard mirrors the join case below: per-branch
      // dedup runs on the branch's whole output, which matches the
      // global distinct only when the GROUPING covers every union
      // column. The output list may be a sub-projection of the group
      // keys — CollapseProject folds `SELECT a,b FROM (DISTINCT *)`
      // into exactly that shape — but must carry no aggregate calls.)
      case agg @ Aggregate(g, a, u @ Union(children, false, false), _)
          if children.size >= 2 && !children.exists(isLimited) &&
             isFullRowDistinct(g, a, u.outputSet) &&
             sortRefs.subsetOf(agg.outputSet) =>
        val newChildren = children.map { c =>
          val remap = u.output.map(_.exprId).zip(c.output).toMap
          val childOrder = order.map(so => so.copy(child = so.child.transform {
            case at: Attribute if remap.contains(at.exprId) => remap(at.exprId)
          }).asInstanceOf[SortOrder])
          topNOf(n, childOrder,
            Aggregate(c.output, c.output, c))
        }
        Some(agg.copy(child = u.copy(children = newChildren)))

      // TopN -> DISTINCT -> outer Join (reference:
      // PushDownTopNDistinctThroughJoin.java). Pre-deduping the
      // preserved side on its full column set never changes the global
      // distinct (duplicate preserved rows only make duplicate joined
      // rows), and the preserved-side TopN keeps every candidate by
      // the same n-smallest argument as the plain join case — each of
      // the n smallest distinct OUTPUT rows traces to a distinct
      // preserved row that ranks within the side's top n. SOUND ONLY
      // when the distinct covers the join's FULL output (`DISTINCT *`):
      // a projected distinct can collapse several preserved rows into
      // one output row, and the side-local top n then under-counts —
      // e.g. left x-values (1,1,2), DISTINCT x LIMIT 2 must return
      // {1,2}, but a left top-2 keeps both x=1 rows and loses the 2.
      case agg @ Aggregate(g, a, j: Join, _)
          if isFullRowDistinct(g, a, j.outputSet) &&
             sortRefs.subsetOf(agg.outputSet) =>
        val pushed = j.joinType match {
          case LeftOuter if sortRefs.subsetOf(j.left.outputSet) && !isLimited(j.left) =>
            Some(j.copy(left = topNOf(n, order,
              Aggregate(j.left.output, j.left.output, j.left))))
          case RightOuter if sortRefs.subsetOf(j.right.outputSet) && !isLimited(j.right) =>
            Some(j.copy(right = topNOf(n, order,
              Aggregate(j.right.output, j.right.output, j.right))))
          case _ => None
        }
        pushed.map(nj => agg.copy(child = nj))

      case _ => None
    }
  }

  private def pushIntoJoin(
      n: Int, order: Seq[SortOrder], sortRefs: AttributeSet, j: Join): Option[Join] =
    j.joinType match {
      case LeftOuter if sortRefs.subsetOf(j.left.outputSet) && !isLimited(j.left) =>
        Some(j.copy(left = topNOf(n, order, j.left)))
      case RightOuter if sortRefs.subsetOf(j.right.outputSet) && !isLimited(j.right) =>
        Some(j.copy(right = topNOf(n, order, j.right)))
      // CROSS is only safe CONDITION-FREE: PushPredicateThroughJoin can
      // fuse a WHERE into the join condition while keeping joinType
      // Cross, making it inner-like — a side-local top-n could then keep
      // rows that fail the condition while dropping qualifying rows.
      // (The reference only reaches its CROSS_JOIN case for
      // condition-free joins because cross+filter normalizes to inner.)
      case Cross if j.condition.isEmpty &&
          sortRefs.subsetOf(j.left.outputSet) && !isLimited(j.left) =>
        Some(j.copy(left = topNOf(n, order, j.left)))
      case Cross if j.condition.isEmpty &&
          sortRefs.subsetOf(j.right.outputSet) && !isLimited(j.right) =>
        Some(j.copy(right = topNOf(n, order, j.right)))
      case _ => None
    }
}
