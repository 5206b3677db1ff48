package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedFunction}

/** private[sql] access shim: Column <-> Expression bridging lives in
  * org.apache.spark.sql.classic.ExpressionUtils (sql-package-private in
  * Spark 4). graft's codegen kernels (CellTopK, PqCodes) take a literal
  * centroid-set child that cannot be spelled through the public
  * `expr(...)` SQL string surface without serializing the whole matrix
  * to SQL text, so they are constructed as Expressions and wrapped here.
  * The function registry binds JVM UDFs the same way: `expression`
  * converts a UDF call Column to its ScalaUDF / ScalaAggregator, and a
  * call with the wrong argument count fails with Spark's own error.
  * No other internals touched.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)

  /** Argument count of a typed JVM UDF; None for a UDAF. */
  def arity(u: UserDefinedFunction): Option[Int] = u match {
    case f: SparkUserDefinedFunction => Some(f.inputEncoders.size)
    case _ => None
  }

  def wrongNumArgs(name: String, expected: Int, actual: Int): Throwable =
    QueryCompilationErrors.wrongNumArgsError(name, Seq(expected.toString), actual)
}
