package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join, Union}
import org.scalatest.funsuite.AnyFunSuite

/** TopN pushdown (plans/TopNPushdown.scala): the copy of ORDER BY +
  * LIMIT below outer/cross joins, and below DISTINCT over a join or
  * UNION ALL, must reduce join/branch input to k rows and NEVER change
  * values. */
class TopNPushdownSpec extends AnyFunSuite {
  import TestSpark._

  private def withoutRule[T](f: => T): T =
    withoutRules(graft.plans.TopNPushdownRule.ruleName)(f)

  private def sql(q: String): DataFrame = {
    Tables.registerAll(spark, sf)
    spark.sql(q)
  }

  /** limits sitting below a Join (on either side). */
  private def limitsUnderJoin(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join =>
      j.children.map(_.collect { case g: GlobalLimit => g }.size).sum
    }.sum

  private val leftOuterTopN = """
    SELECT o_orderkey, o_totalprice, c_name
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 15"""

  test("left-outer: TopN lands on the preserved side; values identical") {
    val plain = withoutRule(sql(leftOuterTopN).collect().toSeq)
    assert(withoutRule(limitsUnderJoin(sql(leftOuterTopN))) == 0, "baseline already limited")
    val (n, rows) =
      (limitsUnderJoin(sql(leftOuterTopN)), sql(leftOuterTopN).collect().toSeq)
    assert(n == 1, "TopN did not push below the left-outer join")
    assert(rows == plain)
    assert(rows.size == 15)
  }

  test("right-outer mirrors; a bare union-all is left to Spark's top-k") {
    val rightOuter = """
      SELECT o_orderkey, o_totalprice, c_name
      FROM customer RIGHT JOIN orders ON c_custkey = o_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""
    val plainR = withoutRule(sql(rightOuter).collect().toSeq)
    val (nR, rowsR) =
      (limitsUnderJoin(sql(rightOuter)), sql(rightOuter).collect().toSeq)
    assert(nR == 1, "TopN did not push below the right-outer join")
    assert(rowsR == plainR)

    val unionTopN = """
      SELECT * FROM (
        SELECT o_orderkey AS k, o_totalprice AS v FROM orders
        UNION ALL
        SELECT l_orderkey AS k, l_extendedprice AS v FROM lineitem
      ) ORDER BY v DESC, k LIMIT 7"""
    val plainU = withoutRule(sql(unionTopN).collect().toSeq)
    val u = sql(unionTopN).queryExecution.optimizedPlan.collectFirst {
      case un: Union => un
    }.getOrElse(fail("no Union in plan"))
    assert(!u.children.exists(_.exists { case _: GlobalLimit => true; case _ => false }),
      "TopN was copied into a bare union-all branch")
    val rowsU = sql(unionTopN).collect().toSeq
    assert(rowsU == plainU)
    assert(rowsU.size == 7)
  }

  test("distinct-over-union: per-branch distinct TopN; values identical") {
    val q = """
      SELECT DISTINCT * FROM (
        SELECT o_orderstatus AS a, o_orderpriority AS b FROM orders
        UNION ALL
        SELECT l_returnflag AS a, l_linestatus AS b FROM lineitem
      ) ORDER BY a, b LIMIT 5"""
    val plain = withoutRule(sql(q).collect().toSeq)
    val (allPushed, rows) = {
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      val u = sql(q).queryExecution.optimizedPlan.collectFirst {
        case un: Union => un
      }.getOrElse(fail("no Union in plan"))
      (u.children.forall(c =>
        c.exists { case _: GlobalLimit => true; case _ => false } &&
        c.exists { case _: Aggregate => true; case _ => false }),
        sql(q).collect().toSeq)
    }
    assert(allPushed, "distinct TopN did not reach every union branch")
    assert(rows == plain)
    assert(rows.size == 5)
  }

  test("distinct-over-join: full-output distinct pushes; subset distinct must NOT") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val full = """
      SELECT DISTINCT * FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"""
    val plain = withoutRule(sql(full).collect().toSeq)
    val (pushed, rows) = {
      val j = sql(full).queryExecution.optimizedPlan.collectFirst {
        case jn: Join => jn
      }.getOrElse(fail("no Join in plan"))
      (j.left.exists { case _: GlobalLimit => true; case _ => false } &&
        j.left.exists { case _: Aggregate => true; case _ => false },
        sql(full).collect().toSeq)
    }
    assert(pushed, "full-output distinct TopN did not push below the join")
    assert(rows == plain)

    // the soundness counter-example class: DISTINCT over a SUBSET can
    // collapse several preserved rows into one output row, so a
    // side-local top-n under-counts — the rule must not fire.
    val subset = """
      SELECT DISTINCT o_orderstatus FROM orders LEFT JOIN customer
        ON o_custkey = c_custkey
      ORDER BY o_orderstatus LIMIT 2"""
    val plainS = withoutRule(sql(subset).collect().toSeq)
    val (firedS, rowsS) =
      (limitsUnderJoin(sql(subset)) > 0, sql(subset).collect().toSeq)
    assert(!firedS, "fired on a subset distinct (unsound)")
    assert(rowsS == plainS)
  }

  test("cross join: condition-free pushes; filter-fused Cross condition must NOT") {
    // condition-free cross: every left row survives (right is non-empty),
    // so a left-local top-n is exact. Tie rows (one order x 5 regions)
    // compare as sorted sets.
    val free = """
      SELECT o_orderkey, o_totalprice, r_name
      FROM orders CROSS JOIN region
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 5"""
    val plainF = withoutRule(sql(free).collect().toSeq.sortBy(_.toString))
    val (nF, rowsF) =
      (limitsUnderJoin(sql(free)), sql(free).collect().toSeq.sortBy(_.toString))
    assert(nF >= 1, "TopN did not push below the condition-free cross join")
    assert(rowsF == plainF)

    // the r7-advice soundness hole: PushPredicateThroughJoin fuses a
    // WHERE into the join condition while KEEPING joinType Cross, making
    // it inner-like — a side-local top-n could keep rows that fail the
    // condition while dropping qualifying ones. Must no-fire.
    val fused = """
      SELECT o_orderkey, o_totalprice, c_name
      FROM orders CROSS JOIN customer
      WHERE o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 15"""
    val plain = withoutRule(sql(fused).collect().toSeq)
    val df = sql(fused)
    val j = df.queryExecution.optimizedPlan.collectFirst { case jn: Join => jn }
      .getOrElse(fail("no Join in plan"))
    assert(j.condition.nonEmpty, "premise: WHERE did not fuse into the join condition")
    assert(limitsUnderJoin(df) == 0,
      s"fired on a cross join WITH a condition (unsound): ${j.joinType}")
    assert(df.collect().toSeq == plain)
  }

  test("no-fire guards: disabled, inner join, sort key from the null-padded side") {
    assert(withoutRule(limitsUnderJoin(sql(leftOuterTopN))) == 0, "fired while excluded")
    val inner = """
      SELECT o_orderkey, o_totalprice, c_name
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 15"""
    assert(limitsUnderJoin(sql(inner)) == 0,
      "fired on an inner join (a joined-away row may out-rank survivors)")
    val nullPaddedKey = """
      SELECT o_orderkey, c_acctbal, c_name
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      ORDER BY c_acctbal DESC, o_orderkey LIMIT 15"""
    assert(limitsUnderJoin(sql(nullPaddedKey)) == 0,
      "fired with sort keys from the NULL-padded side")
    // idempotence under the fixpoint batch: exactly one pushed limit,
    // and the pushed plan still returns the un-pushed rows
    val once = sql(leftOuterTopN)
    assert(limitsUnderJoin(once) == 1)
  }
}
