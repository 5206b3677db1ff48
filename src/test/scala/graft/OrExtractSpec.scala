package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{And, Expression, In, Or}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** plans/OrExtract.scala: disjunction-derived single-table predicates
  * (reference ExtractSingleTableExpressionFromDisjunction.java /
  * InferInPredicateFromOr.java). Soundness counter-examples, scan
  * pushdown, value identity with the rule on and excluded, and the
  * apply-once tag
  * (re-derivation after PushDownPredicates separates the derived
  * conjunct — the HAVING-mix shape). */
class OrExtractSpec extends AnyFunSuite {
  import TestSpark._

  private def withoutRule[T](f: => T): T =
    withoutRules(graft.plans.OrExtractRule.ruleName)(f)

  private def li = Tables.load(spark, sf, "lineitem")

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case x => Seq(x)
  }

  /** Count optimized-plan Filter conjuncts that are disjunctions over
    * ONLY the given column (the derived per-column predicates). */
  private def derivedOn(df: DataFrame, colName: String): Int =
    df.queryExecution.optimizedPlan.collect { case Filter(c, _) =>
      splitConjuncts(c).count {
        case o: Or => o.references.forall(_.name == colName) &&
          o.references.nonEmpty
        case i: In => i.references.forall(_.name == colName)
        case _ => false
      }
    }.sum

  test("untranslatable OR leg: derived band predicate reaches PushedFilters") {
    def q = li.filter(
        (col("l_quantity") === 4.0 &&
          col("l_extendedprice") * col("l_discount") > lit(50.0)) ||
        (col("l_quantity") === 5.0 && col("l_tax") > lit(0.05)))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("s"))
    val plain = withoutRule(q.collect().toSeq)
    // native Spark: the arithmetic conjunct blanks the Or translation
    val plainPhys = withoutRule(q.queryExecution.executedPlan.toString)
    assert(!plainPhys.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity.*"),
      s"premise broken — native Spark already pushes the band:\n$plainPhys")
    val (n, phys, rows) = {
      (derivedOn(q, "l_quantity"), q.queryExecution.executedPlan.toString,
        q.collect().toSeq)
    }
    assert(n >= 1, "no derived l_quantity disjunction in the optimized plan")
    assert(phys.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity.*"),
      s"derived band did not reach the scan:\n$phys")
    assert(rows == plain, "values changed with orExtract on")
  }

  test("soundness: an OR arm with no conjunct on the column must not derive") {
    // arm 2 carries no l_quantity conjunct -> any derived l_quantity
    // predicate would wrongly drop arm-2 rows
    def q = li.filter(
        (col("l_quantity") === 4.0 && col("l_tax") > lit(0.05)) ||
        (col("l_discount") > lit(0.09)))
      .agg(count(lit(1)).as("n"))
    val plain = withoutRule(q.collect().toSeq)
    val (n, rows) = (derivedOn(q, "l_quantity"), q.collect().toSeq)
    assert(n == 0, "derived a predicate from a non-covering disjunction")
    assert(rows == plain)
  }

  test("per-column derivation: every-arm columns derive, partial ones don't") {
    def q = li.filter(
        (col("l_quantity") === 4.0 && col("l_tax") > lit(0.05) &&
          col("l_returnflag") === "R") ||
        (col("l_quantity") === 5.0 && col("l_discount") > lit(0.01)))
      .agg(count(lit(1)).as("n"))
    val plain = withoutRule(q.collect().toSeq)
    val (nQty, nTax, rows) =
      (derivedOn(q, "l_quantity"), derivedOn(q, "l_tax"), q.collect().toSeq)
    assert(nQty >= 1, "l_quantity appears in every arm and must derive")
    assert(nTax == 0, "l_tax appears in only one arm and must not derive")
    assert(rows == plain)
  }

  test("HAVING mixing grouping and aggregate columns: fires once, converges") {
    // PushDownPredicates separates the derived grouping-column
    // disjunction from the HAVING filter; the apply-once tag keeps the
    // rule from re-deriving it every fixpoint iteration (the r8-advice
    // convergence hole). The derived l_quantity band must appear below
    // the Aggregate exactly once, and values must be unchanged.
    def q = li.groupBy(col("l_quantity"))
      .agg(sum(col("l_extendedprice")).as("rev"))
      .filter(
        (col("l_quantity") === 4.0 && col("rev") > lit(1000.0)) ||
        (col("l_quantity") === 5.0 && col("rev") > lit(2000.0)))
      .orderBy(col("l_quantity"))
    val plain = withoutRule(q.collect().toSeq)
    val (below, rows) = {
      val agg = q.queryExecution.optimizedPlan.collectFirst {
        case a: Aggregate => a
      }.getOrElse(fail("no Aggregate in plan"))
      val belowAgg = agg.collect { case Filter(c, _) =>
        splitConjuncts(c).count {
          case o: Or => o.references.nonEmpty &&
            o.references.forall(_.name == "l_quantity")
          case _ => false
        }
      }.sum
      (belowAgg, q.collect().toSeq)
    }
    assert(below == 1,
      s"derived grouping-column band should sit below the Aggregate exactly once, saw $below")
    assert(rows == plain)
  }

  test("pathological width: >16 disjuncts bail out unchanged") {
    // per-arm secondary conjuncts are all DISTINCT so native
    // BooleanSimplification cannot factor them into a pure l_quantity
    // disjunction on its own; the bail-out is asserted as "the rule
    // adds nothing over the flag-off plan"
    val wide = (1 to 20).map(i =>
        col("l_quantity") === i.toDouble && col("l_tax") > lit(0.001 * i))
      .reduce(_ || _)
    def q = li.filter(wide).agg(count(lit(1)).as("n"))
    val plain = withoutRule(q.collect().toSeq)
    val nOff = withoutRule(derivedOn(q, "l_quantity"))
    val (nOn, rows) = (derivedOn(q, "l_quantity"), q.collect().toSeq)
    assert(nOn == nOff, s"MaxDisjuncts bail-out did not hold: $nOff -> $nOn")
    assert(rows == plain)
  }
}
