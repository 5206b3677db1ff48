package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Outer-join → anti-join conversion (reference:
  * nereids/rules/rewrite/ConvertOuterJoinToAntiJoin.java). The
  * "find the unmatched" idiom —
  *
  *   SELECT ... FROM l LEFT JOIN r ON l.k = r.k WHERE r.k IS NULL
  *
  * — runs natively in Spark as a full outer-join materialization (every
  * matched row built and null-extended, then discarded by the filter).
  * An equi-key `IS NULL` conjunct can only hold on UNMATCHED rows
  * (null keys never satisfy a plain `=`), so the plan is equivalent to
  * LEFT ANTI join, where the probe side short-circuits on first match
  * and never materializes matched output. At 100 TB the outer form
  * shuffles and builds the full match volume only to throw it away;
  * the anti form's output is bounded by the unmatched count.
  *
  * Rewrite: Filter(cond, Join(l, r, LEFT OUTER, jc)) where some
  * conjunct of `cond` is IsNull(a) with `a` a right-side attribute
  * appearing in a plain EqualTo conjunct of `jc` (EqualNullSafe does
  * NOT qualify — it matches nulls) becomes
  *
  *   Filter(cond, Project(l.output ++ nullsFor(r.output),
  *                        Join(l, r, LEFT ANTI, jc)))
  *
  * The null-literal Project reproduces exactly what the outer join
  * emitted for unmatched rows (all right columns null, same exprIds),
  * so the ORIGINAL filter — including conjuncts referencing right
  * columns — evaluates identically above it and the parent's schema is
  * untouched. RIGHT OUTER mirrors. Runs by default, as in Doris.
  */
object OuterToAntiRule extends Rule[LogicalPlan] {

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case o => Seq(o)
  }

  /** attributes of `side` that appear in a plain EqualTo conjunct of
    * the join condition — null-intolerant on matched rows. */
  private def equiKeys(jc: Expression, side: LogicalPlan): AttributeSet =
    AttributeSet(conjuncts(jc).flatMap {
      case EqualTo(a: Attribute, b: Attribute) =>
        Seq(a, b).filter(side.outputSet.contains)
      case _ => Nil
    })

  private def fires(cond: Expression, jc: Expression,
                    inner: LogicalPlan): Boolean = {
    val keys = equiKeys(jc, inner)
    keys.nonEmpty && conjuncts(cond).exists {
      case IsNull(a: Attribute) => keys.contains(a)
      case _ => false
    }
  }

  private def nullsFor(attrs: Seq[Attribute]): Seq[NamedExpression] =
    attrs.map(a => Alias(Literal(null, a.dataType), a.name)(exprId = a.exprId))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case Filter(cond, Join(l, r, LeftOuter, Some(jc), hint))
          if fires(cond, jc, r) =>
        Filter(cond, Project(
          l.output ++ nullsFor(r.output),
          Join(l, r, LeftAnti, Some(jc), hint)))
      case Filter(cond, Join(l, r, RightOuter, Some(jc), hint))
          if fires(cond, jc, l) =>
        // right anti = anti with sides swapped; restore column order
        Filter(cond, Project(
          nullsFor(l.output) ++ r.output,
          Join(r, l, LeftAnti, Some(jc), hint)))
    }
}
