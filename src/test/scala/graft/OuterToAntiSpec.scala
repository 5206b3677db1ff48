package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftOuter, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Outer-join -> anti-join conversion (plans/OuterToAnti.scala): fires
  * only when an IS NULL conjunct targets a plain equi-key of the
  * null-extended side, and never changes values. */
class OuterToAntiSpec extends AnyFunSuite {
  import TestSpark._

  private def withoutRule[T](f: => T): T =
    withoutRules(graft.plans.OuterToAntiRule.ruleName)(f)

  private def joinTypes(df: DataFrame) =
    df.queryExecution.optimizedPlan.collect { case j: Join => j.joinType }

  private def cust = Tables.load(spark, sf, "customer")
  private def ord = Tables.load(spark, sf, "orders")

  test("left outer + key IS NULL fires and values are identical") {
    def q = cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .filter(col("o_custkey").isNull)
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
    val plain = withoutRule(q.collect().toSeq)
    val (types, rows) = (joinTypes(q), q.collect().toSeq)
    assert(types.contains(LeftAnti) && !types.contains(LeftOuter),
      s"did not fire: $types")
    assert(rows == plain)
  }

  test("right outer mirror fires and agrees") {
    def q = ord.join(cust, col("o_custkey") === col("c_custkey"), "right")
      .filter(col("o_custkey").isNull)
      .select(col("c_custkey")).orderBy(col("c_custkey"))
    val plain = withoutRule(q.collect().toSeq)
    val (types, rows) = (joinTypes(q), q.collect().toSeq)
    assert(types.contains(LeftAnti) && !types.contains(RightOuter),
      s"did not fire: $types")
    assert(rows == plain)
  }

  test("residual conjuncts referencing the null-extended side stay correct") {
    def q = cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .filter(col("o_custkey").isNull && col("o_orderkey").isNull &&
        col("c_custkey") % 2 === 0)
      .select(col("c_custkey")).orderBy(col("c_custkey"))
    val plain = withoutRule(q.collect().toSeq)
    assert(joinTypes(q).contains(LeftAnti))
    val rows = q.collect().toSeq
    assert(rows == plain)
  }

  test("no-fire: non-key IS NULL, inner join, disabled") {
    // o_orderdate is not an equi-key: a matched row could (in general)
    // carry a null there, so IS NULL does not prove unmatched
    val nonKey = cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .filter(col("o_orderdate").isNull)
    assert(!joinTypes(nonKey).contains(LeftAnti), "fired on non-key IS NULL")
    val disabled = cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .filter(col("o_custkey").isNull)
    assert(!withoutRule(joinTypes(disabled)).contains(LeftAnti), "fired while excluded")
  }

  test("null-safe equality does NOT fire (it matches null keys) and values prove why") {
    import spark.implicits._
    val l = Seq((Some(1L), "a"), (None, "b"), (Some(3L), "c"))
      .toDF("k", "lv")
    val r = Seq((Some(1L), "x"), (None, "y")).toDF("k", "rv")
      .withColumnRenamed("k", "rk")
    def q = l.join(r, col("k") <=> col("rk"), "left")
      .filter(col("rk").isNull)
      .select(col("lv"), col("rv")).orderBy(col("lv"))
    val plain = withoutRule(q.collect().toSeq)
    val (types, rows) = (joinTypes(q), q.collect().toSeq)
    assert(!types.contains(LeftAnti), "fired on <=> — unsound")
    assert(rows == plain)
    // the semantic trap the guard avoids: the null-keyed left row DID
    // match under <=>, yet rk IS NULL holds on that matched row; an
    // anti join would have returned (b, null) with rv lost vs (b, y)
    assert(plain.exists(r => r.getString(0) == "b" && r.getString(1) == "y"))
  }
}
