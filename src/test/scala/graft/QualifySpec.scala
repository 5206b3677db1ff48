package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.plans.QualifySql

/** QUALIFY clause: text-rewrite unit cases + end-to-end SQL through the
  * injected parser (reference: LogicalQualify/QualifyToFilter). */
class QualifySpec extends AnyFunSuite {

  private lazy val spark = GraftSession.local(4)

  test("no QUALIFY: text passes through untouched (same reference)") {
    val q = "SELECT a FROM t WHERE b = 'plain' ORDER BY a"
    assert(QualifySql.rewrite(q) eq q)
    // the word inside a literal only defeats the fast path, not the result
    val q2 = "SELECT a FROM t WHERE b = 'qualify me' ORDER BY a"
    assert(QualifySql.rewrite(q2) == q2)
  }

  test("quoted/comment QUALIFY tokens are not clauses") {
    val q = "SELECT a, 'QUALIFY' AS s -- qualify?\nFROM t"
    assert(QualifySql.rewrite(q) == q)
  }

  test("alias predicate end-to-end") {
    val out = spark.sql(
      """SELECT a, row_number() OVER (ORDER BY b DESC) AS rk
         FROM VALUES (1,2),(3,4),(5,6) t(a,b) QUALIFY rk = 1""").collect()
    assert(out.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((5, 1)))
  }

  test("bare window predicate referencing non-projected columns") {
    val out = spark.sql(
      """SELECT a FROM VALUES (1,10),(2,10),(3,20) t(a,b)
         QUALIFY row_number() OVER (PARTITION BY b ORDER BY a) = 1
         ORDER BY a""").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 3))
  }

  test("helper column is dropped from the output schema") {
    val df = spark.sql(
      """SELECT a, max(b) AS m FROM VALUES (1,2),(1,9),(2,3) t(a,b)
         GROUP BY a QUALIFY rank() OVER (ORDER BY max(b) DESC) = 1""")
    assert(df.columns.toSeq == Seq("a", "m"))
    assert(df.collect().map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 9)))
  }

  test("QUALIFY inside a CTE body") {
    val out = spark.sql(
      """WITH best AS (
           SELECT a, b FROM VALUES (1,10),(2,10),(3,20) t(a,b)
           QUALIFY row_number() OVER (PARTITION BY b ORDER BY a DESC) = 1)
         SELECT sum(a) AS s FROM best""").collect()
    assert(out.head.getLong(0) == 5L) // 2 (b=10) + 3 (b=20)
  }

  test("QUALIFY on both branches of a union") {
    val out = spark.sql(
      """SELECT a FROM VALUES (1),(2) t(a) QUALIFY row_number() OVER (ORDER BY a) = 1
         UNION ALL
         SELECT a FROM VALUES (8),(9) t(a) QUALIFY row_number() OVER (ORDER BY a DESC) = 1
         ORDER BY a""").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(1, 9))
  }

  test("DISTINCT block: predicate over the distinct output") {
    val out = spark.sql(
      """SELECT DISTINCT b FROM VALUES (1,10),(2,10),(3,20) t(a,b)
         QUALIFY row_number() OVER (ORDER BY b DESC) = 1""").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(20))
  }

  test("ORDER BY and LIMIT tail survive the rewrite") {
    val out = spark.sql(
      """SELECT a, row_number() OVER (ORDER BY a) AS rk
         FROM VALUES (3),(1),(2),(4) t(a)
         QUALIFY rk <= 3 ORDER BY a DESC LIMIT 2""").collect()
    assert(out.map(_.getInt(0)).toSeq == Seq(3, 2))
  }
}
