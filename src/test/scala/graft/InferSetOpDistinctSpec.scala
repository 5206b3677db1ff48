package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Infer-set-operator-distinct (plans/InferSetOpDistinct.scala): the
  * UNION-dedup elimination must only fire when RELY uniqueness +
  * disjoint literal tags PROVE the dedup is a no-op — and must never
  * change values. */
class InferSetOpDistinctSpec extends AnyFunSuite {
  import TestSpark._

  private def withoutRule[T](f: => T): T =
    withoutRules(graft.plans.InferSetOpDistinctRule.ruleName)(f)

  private def sql(q: String): DataFrame = {
    Tables.registerAll(spark, sf)
    spark.sql(q)
  }

  private val tagged = """
    SELECT 'c' AS src, c_custkey AS k FROM customer
    UNION
    SELECT 's' AS src, s_suppkey AS k FROM supplier
    ORDER BY src, k"""

  test("fires on RELY-unique tagged branches; dedup gone; values identical") {
    val plain = withoutRule(sql(tagged).collect().toSeq)
    val (plan, rows) = {
      val df = sql(tagged)
      (df.queryExecution.optimizedPlan.toString, df.collect().toSeq)
    }
    assert(!plan.contains("Aggregate"), s"dedup survived:\n$plan")
    assert(rows == plain)
    assert(rows.nonEmpty)
  }

  test("never fires when disabled, on non-unique branches, or without disjoint tags") {
    def planOf(q: String) = sql(q).queryExecution.optimizedPlan.toString
    assert(withoutRule(planOf(tagged)).contains("Aggregate"), "fired while excluded")
    // l_partkey is NOT a declared unique key: branch rows can repeat
    val nonUnique = """
      SELECT 'a' AS src, l_partkey AS k FROM lineitem
      UNION
      SELECT 'b' AS src, s_suppkey AS k FROM supplier"""
    assert(planOf(nonUnique).contains("Aggregate"),
      "fired on a branch without RELY uniqueness")
    // same tag on both branches: cross-branch overlap possible
    val sameTag = """
      SELECT 'x' AS src, c_custkey AS k FROM customer
      UNION
      SELECT 'x' AS src, s_suppkey AS k FROM supplier"""
    assert(planOf(sameTag).contains("Aggregate"),
      "fired without disjoint tags")
    // no tag column at all
    val noTag = """
      SELECT c_custkey AS k FROM customer
      UNION
      SELECT s_suppkey AS k FROM supplier"""
    assert(planOf(noTag).contains("Aggregate"), "fired without tags")
    // UNION ALL has no dedup to remove and must be left alone
    val unionAll = """
      SELECT 'c' AS src, c_custkey AS k FROM customer
      UNION ALL
      SELECT 's' AS src, s_suppkey AS k FROM supplier"""
    val p = planOf(unionAll)
    assert(p.contains("Union") && !p.contains("Aggregate"))
  }

  test("joined branch does not count as unique even when a key column flows through") {
    // NOTE: a plain FK->PK dimension join (customer JOIN nation) is NOT
    // a valid negative case here — FkJoinEliminationRule (always-on)
    // removes it first, correctly leaving a provably-unique branch and
    // letting this rule fire. The composition is sound; the negative
    // case needs a join that genuinely duplicates rows:
    // one customer row per matching order — c_custkey repeats
    val joined = """
      SELECT 'a' AS src, c_custkey AS k FROM customer JOIN orders
        ON c_custkey = o_custkey
      UNION
      SELECT 'b' AS src, s_suppkey AS k FROM supplier"""
    val p = sql(joined).queryExecution.optimizedPlan.toString
    assert(p.contains("Aggregate"), s"fired through a duplicating join:\n$p")
  }
}
