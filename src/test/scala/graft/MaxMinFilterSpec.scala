package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Or
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** HAVING-on-extremum filter derivation (plans/MaxMinFilter.scala):
  * fires only when every aggregate in the output is a covered min/max,
  * pushes the DISJUNCTION of derived predicates, and never changes
  * values. */
class MaxMinFilterSpec extends AnyFunSuite {
  import TestSpark._

  private def withoutRule[T](f: => T): T =
    withoutRules(graft.plans.MaxMinFilterRule.ruleName)(f)

  /** Derived filters strictly below the first Aggregate that reference
    * the given column — by exact name, or by the rollup-prefixed name
    * (`__min_<col>`/`__max_<col>`) when the always-on MV best-index
    * rewrite has already substituted a registered rollup for the base
    * scan (the registry is JVM-global, so another spec's registration
    * can legitimately serve this aggregate; the composition is sound —
    * the HAVING-derived predicate then prunes the ROLLUP scan). */
  private def derivedFilters(df: DataFrame, colName: String): Seq[Filter] =
    df.queryExecution.optimizedPlan.collectFirst { case a: Aggregate => a }
      .toSeq.flatMap(_.collect {
        case f: Filter if f.condition.references.exists(a =>
          a.name == colName || a.name == "__min_" + colName ||
            a.name == "__max_" + colName) => f
      })

  private def li = Tables.load(spark, sf, "lineitem")

  test("HAVING min < k fires, reaches the scan, values identical") {
    def q = li.groupBy(col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("mn"))
      .filter(col("mn") < 2000.0)
      .orderBy(col("l_suppkey"))
    val plain = withoutRule(q.collect().toSeq)
    val (nDerived, rows) =
      (derivedFilters(q, "l_extendedprice").size, q.collect().toSeq)
    assert(nDerived == 1, "expected exactly one derived filter")
    assert(rows == plain)
  }

  test("HAVING max > k fires and values identical") {
    def q = li.groupBy(col("l_returnflag"))
      .agg(max(col("l_quantity")).as("mx"))
      .filter(col("mx") > 49.0)
      .orderBy(col("l_returnflag"))
    val plain = withoutRule(q.collect().toSeq)
    val (nDerived, rows) =
      (derivedFilters(q, "l_quantity").size, q.collect().toSeq)
    assert(nDerived == 1)
    assert(rows == plain)
  }

  test("min+max on one column derive a DISJUNCTION; the {1,10} conjunction counter-example stays correct") {
    // group {1, 10} passes HAVING (min<5, max>5) but no single row is
    // inside (x<5 AND x>5): a conjunction-push would empty the group.
    // (parquet-backed: over a LocalRelation the derived filter is
    // immediately constant-folded away by ConvertToLocalRelation and
    // the structural assert would see nothing)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maxmin").toString
    Seq(("a", 1), ("a", 10), ("b", 6), ("b", 7)).toDF("k", "x")
      .write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    def q = df.groupBy(col("k"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .filter(col("mn") < 5 && col("mx") > 5)
      .orderBy(col("k"))
    val plain = withoutRule(q.collect().toSeq)
    val (filters, rows) = (derivedFilters(q, "x"), q.collect().toSeq)
    assert(filters.size == 1 && filters.head.condition.isInstanceOf[Or],
      s"expected one OR-combined derived filter, got $filters")
    assert(rows == plain)
    assert(rows.map(_.getString(0)) == Seq("a")) // b fails min<5
  }

  test("no fire when an uncovered aggregate is present") {
    // count(*) changes under row removal: rule must not fire
    def q = li.groupBy(col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("mn"), count(lit(1)).as("n"))
      .filter(col("mn") < 2000.0)
      .orderBy(col("l_suppkey"))
    val plain = withoutRule(q.collect().toSeq)
    val (nDerived, rows) =
      (derivedFilters(q, "l_extendedprice").size, q.collect().toSeq)
    assert(nDerived == 0, "must not fire with count in the output")
    assert(rows == plain)
  }

  test("no fire on the wrong direction (min > k keeps rows below k relevant)") {
    // min(x) > k does NOT imply the minimal row satisfies x > k for
    // failing groups — pushing x > k would RESURRECT groups whose true
    // min is <= k by deleting their small rows. Must not fire.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("maxmin").toString
    Seq(("a", 1), ("a", 10)).toDF("k", "x").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    def q = df.groupBy(col("k")).agg(min(col("x")).as("mn"))
      .filter(col("mn") > 5)
    val plain = withoutRule(q.collect().toSeq)
    val (nDerived, rows) = (derivedFilters(q, "x").size, q.collect().toSeq)
    assert(nDerived == 0, "must not fire on min > k")
    assert(rows == plain)
    assert(rows.isEmpty) // group a has min 1, fails HAVING
  }

  test("global (ungrouped) extremum fires and stays correct") {
    def q = li.agg(min(col("l_extendedprice")).as("mn")).filter(col("mn") < 1e9)
    val plain = withoutRule(q.collect().toSeq)
    assert(derivedFilters(q, "l_extendedprice").size == 1)
    val rows = q.collect().toSeq
    assert(rows == plain)
  }

  test("literal-first comparison normalizes and fires") {
    def q = li.groupBy(col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("mn"))
      .filter(lit(2000.0) > col("mn"))
      .orderBy(col("l_suppkey"))
    val plain = withoutRule(q.collect().toSeq)
    val (nDerived, rows) =
      (derivedFilters(q, "l_extendedprice").size, q.collect().toSeq)
    assert(nDerived == 1)
    assert(rows == plain)
  }
}
