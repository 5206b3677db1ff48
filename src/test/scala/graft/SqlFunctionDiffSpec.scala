package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FunctionRegistry

/** Differential spec for the SQL-bodied functions: each graft function
  * `f` (a builder over its parsed body) must return what Spark's own SQL
  * function returns for the same definition, created here as
  * `CREATE TEMPORARY FUNCTION ref_f ...`. The arguments are typed values
  * per parameter type: NULLs, inputs that need an implicit cast (DATE to
  * TIMESTAMP, INT to BIGINT, numeric STRING to INT, ...) and pre-1970
  * instants for the floor/ceil family. A call that fails must fail on
  * both sides. */
class SqlFunctionDiffSpec extends AnyFunSuite {
  import TestSpark._

  private val Signature = """(?s)\s*(\w+)\s*\((.*?)\)\s*RETURNS\s.*""".r

  /** SQL argument values per parameter type, NULL first. */
  private val values: Map[String, Seq[String]] = Map(
    "STRING" -> Seq("CAST(NULL AS STRING)", "'10.1.2.3'",
      "'http://www.shop.example.co.uk:8080/p/q?k=v&x=1#f'", "'Hello  World 42 a.b@c.org'",
      "'10.1.0.0/16'", "'12:34:56'", "'%Y-%m-%d %H:%i:%s'", "'2021-03-14'", "'7'", "''"),
    // numeric STRING to INT, TINYINT to INT
    "INT" -> Seq("CAST(NULL AS INT)", "3", "'7'", "-2", "CAST(1 AS TINYINT)", "0"),
    // INT to BIGINT
    "BIGINT" -> Seq("CAST(NULL AS BIGINT)", "12", "5L", "-3L", "1234567890123L", "0L"),
    // INT and DECIMAL to DOUBLE
    "DOUBLE" -> Seq("CAST(NULL AS DOUBLE)", "2.5D", "-1.25D", "3", "0.0D", "12345.678"),
    // DATE to TIMESTAMP; pre-1970 and unit-aligned instants
    "TIMESTAMP" -> Seq("CAST(NULL AS TIMESTAMP)", "TIMESTAMP '2021-03-14 15:09:26.535897'",
      "DATE '2020-02-29'", "TIMESTAMP '1969-07-20 20:17:40.5'",
      "TIMESTAMP '1900-01-01 00:00:00'", "TIMESTAMP '1969-12-31 23:00:00'",
      "TIMESTAMP '1969-12-31 23:59:59.999999'", "TIMESTAMP '2021-01-01 00:00:00'"),
    // STRING and TIMESTAMP to DATE
    "DATE" -> Seq("CAST(NULL AS DATE)", "DATE '2021-03-14'", "DATE '1965-01-01'",
      "'2023-01-01'", "DATE '2017-01-01'", "TIMESTAMP '2021-03-14 15:09:26'"),
    "BINARY" -> Seq("CAST(NULL AS BINARY)", "bitmap_from_string('1,3,5')",
      "bitmap_from_string('3,4')", "hll_hash('abc')", "X'0102FF'"),
    // ARRAY<INT> to ARRAY<BIGINT> / ARRAY<DOUBLE>
    "ARRAY<BIGINT>" -> Seq("CAST(NULL AS ARRAY<BIGINT>)", "array(3L, 1L, 2L)", "array(1, 2, 2)",
      "CAST(array() AS ARRAY<BIGINT>)", "array(4L, CAST(NULL AS BIGINT), 6L)"),
    "ARRAY<DOUBLE>" -> Seq("CAST(NULL AS ARRAY<DOUBLE>)", "array(1.0D, 2.0D, 3.0D)",
      "array(1, 2, 2)", "array(0.5D, -1.5D, 2.0D)"),
    "ARRAY<STRING>" -> Seq("CAST(NULL AS ARRAY<STRING>)", "array('pos', 'neg', 'mid')",
      "array('x', CAST(NULL AS STRING))"),
    // INT values to BIGINT
    "MAP<STRING,BIGINT>" -> Seq("CAST(NULL AS MAP<STRING,BIGINT>)", "map('a', 1L, 'b', 2L)",
      "map('a', 1)"),
    "MAP<STRING,STRING>" -> Seq("CAST(NULL AS MAP<STRING,STRING>)", "map('a', 'x', 'b', 'y')",
      "map('k', CAST(NULL AS STRING))"))

  /** Argument lists for a function: value i of every parameter, then
    * value i + j + 1 of parameter j, so values also meet out of step. */
  private def argLists(types: Seq[String]): Seq[String] =
    if (types.isEmpty) Seq("")
    else {
      val vs = types.map(t => values.getOrElse(t, fail(s"no test values for type $t")))
      val n = vs.map(_.size).max
      (0 until n).flatMap { i =>
        Seq(vs.map(v => v(i % v.size)), vs.zipWithIndex.map { case (v, j) => v((i + j + 1) % v.size) })
      }.distinct.map(_.mkString(", "))
    }

  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case d: Double if d.isNaN => "NaN"
    case s: scala.collection.Seq[_] => s.map(norm)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => norm(k) -> norm(x) }
    case r: Row => r.toSeq.map(norm)
    case o => o
  }

  /** Mismatches among `calls` (name, args): one query for all of them;
    * when it fails, one per call, and then each side on its own. */
  private def mismatches(calls: Seq[(String, String)]): Seq[String] = {
    val cols = calls.zipWithIndex.flatMap { case ((f, args), i) =>
      Seq(s"$f($args) AS g$i", s"ref_$f($args) AS r$i")
    }
    Try(spark.sql(s"SELECT ${cols.mkString(", ")}").head()).toOption match {
      case Some(row) =>
        calls.zipWithIndex.collect {
          case ((f, args), i) if norm(row.get(2 * i)) != norm(row.get(2 * i + 1)) =>
            s"$f($args): ${row.get(2 * i)} vs ref ${row.get(2 * i + 1)}"
        }
      case None if calls.size > 1 => calls.flatMap(c => mismatches(Seq(c)))
      case None =>
        val (f, args) = calls.head
        def eval(fn: String) = Try(norm(spark.sql(s"SELECT $fn($args)").head().get(0)))
        (eval(f), eval(s"ref_$f")) match {
          case (g, r) if g.isFailure && r.isFailure => Nil
          case (g, r) if g.toOption == r.toOption => Nil
          case (g, r) => Seq(s"$f($args): $g vs ref $r")
        }
    }
  }

  test("every SQL-bodied function matches Spark's SQL function of the same definition") {
    val defs = FunctionRegistry.sqlDefs
    assert(defs.size == 243)
    // four driver threads: each query is analysis and constant folding
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
      Await.result(Future.traverse(xs)(x => Future(f(x))), 5.minutes)
    val bad = try {
      val calls = inParallel(defs) { d =>
        val Signature(name, params) = d
        spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION ref_${d.trim}")
        val types = if (params.trim.isEmpty) Nil
          else CatalystSqlParser.parseTableSchema(params).fields.toSeq
            .map(_.dataType.sql.replace(" ", ""))
        argLists(types).map(name -> _)
      }
      assert(calls.map(_.head._1).distinct.size == 243)
      inParallel(calls)(mismatches).flatten
    } finally pool.shutdown()
    assert(bad.isEmpty, s"${bad.size} mismatches:\n${bad.take(20).mkString("\n")}")
  }

  test("a nondeterministic argument is evaluated once per row") {
    val text = "diff_twice(x DOUBLE) RETURNS ARRAY<DOUBLE> RETURN array(x, IF(x < 0.5, x, x))"
    val Seq((name, builder)) = FunctionRegistry.sqlFunctions(Seq(text))
    val id = FunctionIdentifier(name)
    spark.sessionState.functionRegistry.registerFunction(id, new ExpressionInfo("spec", name), builder)
    spark.sql(s"CREATE OR REPLACE TEMPORARY FUNCTION ref_$text")
    try {
      def pairs(sql: String) = spark.sql(sql).collect().map(_.getSeq[Double](0))
      // written out, each reference draws from its own generator
      assert(pairs("SELECT array(rand(7), IF(rand(7) < 0.5, rand(7), rand(7))) " +
        "FROM range(200)").exists(a => a(0) != a(1)))
      for (f <- Seq(name, s"ref_$name"))
        assert(pairs(s"SELECT $f(rand(7)) FROM range(200)").forall(a => a(0) == a(1)), f)
    } finally {
      spark.sessionState.functionRegistry.dropFunction(id)
      spark.sql(s"DROP TEMPORARY FUNCTION ref_$name")
    }
  }
}
