package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Array/vector distance functions (reference:
  * be/src/exec/expr/../function/array/function_array_distance.cpp —
  * l1/l2/cosine/inner product; used by the ANN search path).
  *
  * Implemented as compositions of native higher-order functions
  * (zip_with + aggregate), so they stay inside whole-stage codegen —
  * no UDF serialization on the 100 TB scan path. The SQL surface is the
  * same bodies as SQL-bodied definitions, which inline to the same
  * codegen'd expressions.
  */
object VectorFunctions {

  private def d(c: Column): Column = transform(c, _.cast("double"))
  private def fsum(c: Column): Column =
    aggregate(c, lit(0.0), (acc, v) => acc + v)

  def innerProduct(a: Column, b: Column): Column =
    fsum(zip_with(d(a), d(b), (x, y) => x * y))

  def l1Distance(a: Column, b: Column): Column =
    fsum(zip_with(d(a), d(b), (x, y) => abs(x - y)))

  def l2Distance(a: Column, b: Column): Column =
    sqrt(fsum(zip_with(d(a), d(b), (x, y) => (x - y) * (x - y))))

  def cosineSimilarity(a: Column, b: Column): Column =
    innerProduct(a, b) /
      (sqrt(fsum(transform(d(a), x => x * x))) *
        sqrt(fsum(transform(d(b), x => x * x))))

  def cosineDistance(a: Column, b: Column): Column =
    lit(1.0) - cosineSimilarity(a, b)

  /** SQL surface; the RETURN bodies mirror the Column helpers exactly. */
  def sqlDefs: Seq[String] = Seq(
    "inner_product" ->
      "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)",
    "l1_distance" ->
      "aggregate(zip_with(a, b, (x, y) -> abs(x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)",
    "l2_distance" ->
      "sqrt(aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (acc, v) -> acc + v))",
    "cosine_distance" ->
      """1.0 - aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)
             / (sqrt(aggregate(transform(a, x -> x * x), CAST(0 AS DOUBLE), (acc, v) -> acc + v))
              * sqrt(aggregate(transform(b, x -> x * x), CAST(0 AS DOUBLE), (acc, v) -> acc + v)))""",
    // similarity form — NOT 1-cosine_distance (that round-trips through
    // two IEEE subtractions and can differ in the last ulp)
    "cosine_sim" ->
      """aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)
             / (sqrt(aggregate(transform(a, x -> x * x), CAST(0 AS DOUBLE), (acc, v) -> acc + v))
              * sqrt(aggregate(transform(b, x -> x * x), CAST(0 AS DOUBLE), (acc, v) -> acc + v)))"""
  ).map { case (name, body) =>
    s"$name(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN $body"
  }
}
