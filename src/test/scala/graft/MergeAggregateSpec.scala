package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Agg-over-agg fusion (plans/MergeAggregate.scala): the merge of
  * GROUP BY coarse over (GROUP BY fine) must collapse to one
  * Aggregate when derivable and NEVER change values; underivable
  * shapes must be left alone. */
class MergeAggregateSpec extends AnyFunSuite {
  import TestSpark._

  private def withoutRule[T](f: => T): T =
    withoutRules(graft.plans.MergeAggregateRule.ruleName)(f)

  private def nAggs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  private def inner: DataFrame =
    Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_orderkey"), col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"),
        min(col("l_discount")).as("mnd"), max(col("l_discount")).as("mxd"))

  test("fuses sum/count/min/max and inner-key min, values identical") {
    def q = inner.groupBy(col("l_returnflag"))
      .agg(sum(col("sq")).as("s"), sum(col("cnt")).as("n"),
        min(col("mnd")).as("mn"), max(col("mxd")).as("mx"),
        max(col("l_orderkey")).as("last_ord"))
      .orderBy(col("l_returnflag"))
    val plain = withoutRule(q.collect().toSeq)
    val (k, fused) = (nAggs(q), q.collect().toSeq)
    assert(k == 1, "expected a single fused Aggregate")
    assert(withoutRule(nAggs(q)) == 2, "baseline should keep two Aggregates")
    assert(fused == plain)
  }

  test("count(*) over inner groups does not fuse (counts groups, not rows)") {
    def q = inner.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_groups"))
      .orderBy(col("l_returnflag"))
    val plain = withoutRule(q.collect().toSeq)
    val (k, res) = (nAggs(q), q.collect().toSeq)
    assert(k == 2, "count(*) outer must not fuse")
    assert(res == plain)
  }

  test("avg over inner sum does not fuse") {
    def q = inner.groupBy(col("l_returnflag"))
      .agg(avg(col("sq")).as("a"))
      .orderBy(col("l_returnflag"))
    val plain = withoutRule(q.collect().toSeq)
    val (k, res) = (nAggs(q), q.collect().toSeq)
    assert(k == 2, "avg outer must not fuse")
    assert(res == plain)
  }

  test("global (no group key) outer aggregate does not fuse") {
    def q = inner.agg(sum(col("cnt")).as("n"))
    val plain = withoutRule(q.collect().toSeq)
    val (k, res) = (nAggs(q), q.collect().toSeq)
    assert(k == 2, "empty outer grouping must not fuse (NULL vs 0 on empty)")
    assert(res == plain)
  }

  test("expression over partials fuses and keeps output schema") {
    def q = inner.groupBy(col("l_returnflag"))
      .agg((sum(col("sq")) / sum(col("cnt"))).as("qty_per_row"))
      .orderBy(col("l_returnflag"))
    val plain = withoutRule(q.collect().toSeq)
    val (k, res, schema) = (nAggs(q), q.collect().toSeq, q.schema)
    assert(k == 1)
    assert(res == plain)
    assert(schema == withoutRule(q.schema))
  }
}
