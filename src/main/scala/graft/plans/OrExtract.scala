package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

object OrExtract {
  /** Apply-once marker (set even when nothing derives, so the fixpoint
    * never re-scans a Filter): see the convergence note on
    * [[OrExtractRule]]. */
  val Derived = TreeNodeTag[Boolean]("graft.orExtract.derived")
}

/** Derive pushable per-column predicates from disjunctions (reference:
  * nereids/rules/rewrite/ExtractSingleTableExpressionFromDisjunction.java
  * and InferInPredicateFromOr.java — from
  * `(x=1 AND p) OR (x=2 AND q)` Doris derives `x IN (1,2)` so the scan
  * can zonemap/segment-prune even though p/q are not index-evaluable).
  *
  * What Spark already does natively (probed, Spark 4.1): a disjunction
  * ABOVE A JOIN has its per-SIDE parts extracted and pushed by
  * PushPredicateThroughJoin via extractPredicatesWithinOutputSet. What
  * it does NOT do: when one leg of a single-table disjunction contains
  * any parquet-untranslatable conjunct (a UDF, arithmetic over columns),
  * DataSourceStrategy's Or translation fails wholesale and the scan gets
  * `PushedFilters: []` — every row group is read to evaluate a filter
  * that a derived `l_quantity IN (1,2)` would have pruned. At 100 TB
  * that is the difference between a stats-pruned scan and a full scan.
  *
  * Derivation, per conjunct of a Filter that is a disjunction
  * d1 OR … OR dn: split each disjunct into conjuncts and keep the
  * "simple" ones — deterministic comparisons/IN/IS [NOT] NULL/prefix
  * ops whose operands are one attribute and literals (exactly the
  * shapes DataSourceStrategy.translateFilter can push). For every
  * column that has at least one simple conjunct in EVERY disjunct,
  * emit `OR_i (AND of disjunct i's simple conjuncts on that column)`.
  *
  * Soundness (3VL): if the original disjunction evaluates TRUE, some
  * disjunct is TRUE, so all of its conjuncts are TRUE, so each derived
  * predicate has a TRUE leg — the derived conjunct is TRUE for every
  * row the Filter keeps. The rewrite ADDS the derived conjuncts and
  * keeps the original condition, so the kept row set is unchanged.
  *
  * Convergence: a rewritten Filter is tagged ([[OrExtract.Derived]],
  * mirroring MaxMinFilterRule) and never re-derived. The tag — not
  * same-Filter dedup — is what guarantees the fixpoint: native
  * PushDownPredicates can SEPARATE a derived conjunct from its source
  * Filter (e.g. a HAVING mixing grouping and aggregate columns), after
  * which conjunct-list dedup alone would re-add it every iteration.
  * The Doris reference likewise applies this rule exactly once.
  * Native PushDownPredicates then sinks the derived conjuncts to the
  * scan inside the same operator-optimization batch. */
object OrExtractRule
    extends Rule[LogicalPlan] with PredicateHelper {
  import OrExtract.Derived

  /** Bail out of pathological predicates instead of enumerating them. */
  private val MaxDisjuncts = 16

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case f @ Filter(cond, child) if f.getTagValue(Derived).isEmpty =>
        val conjuncts = splitConjunctivePredicates(cond)
        val derived = conjuncts.collect { case or: Or => deriveFromOr(or) }.flatten
        val fresh = derived.filterNot(d => conjuncts.exists(_.semanticEquals(d)))
          // distinct among themselves too (two Or-conjuncts can derive
          // the same per-column predicate)
          .foldLeft(Vector.empty[Expression]) { (acc, d) =>
            if (acc.exists(_.semanticEquals(d))) acc else acc :+ d
          }
        if (fresh.isEmpty) { f.setTagValue(Derived, true); f }
        else {
          val out = Filter(And(fresh.reduceLeft(And), cond), child)
          out.setTagValue(Derived, true)
          out
        }
    }

  /** One derived predicate per column carried by EVERY disjunct. */
  private def deriveFromOr(or: Or): Seq[Expression] = {
    val disjuncts = splitDisjunctivePredicates(or)
    if (disjuncts.size < 2 || disjuncts.size > MaxDisjuncts) return Nil
    val perDisjunct: Seq[Map[ExprId, Seq[Expression]]] = disjuncts.map { d =>
      splitConjunctivePredicates(d)
        .flatMap(c => simpleColumnOf(c).map(_ -> c))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    }
    val common = perDisjunct.map(_.keySet).reduce(_ intersect _)
    common.toSeq.sortBy(_.id).map { id =>
      perDisjunct
        .map(m => m(id).reduceLeft[Expression](And))
        .reduceLeft[Expression](Or)
    }
  }

  /** The single column a simple, source-translatable predicate is on:
    * a deterministic comparison / IN / IS [NOT] NULL / string-prefix op
    * whose operands are exactly one attribute plus literals. */
  private def simpleColumnOf(e: Expression): Option[ExprId] = {
    val shapeOk = e match {
      case _: EqualTo | _: EqualNullSafe | _: LessThan | _: LessThanOrEqual
         | _: GreaterThan | _: GreaterThanOrEqual | _: In | _: InSet
         | _: IsNull | _: IsNotNull | _: StartsWith | _: EndsWith
         | _: Contains => true
      case _ => false
    }
    if (!shapeOk || !e.deterministic) None
    else {
      val leavesOk = e.children.forall {
        case _: AttributeReference => true
        case l => l.foldable
      }
      val attrs = e.references.toSeq
      if (leavesOk && attrs.size == 1) Some(attrs.head.exprId) else None
    }
  }
}
