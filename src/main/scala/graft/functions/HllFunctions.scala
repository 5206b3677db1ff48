package graft.functions

import org.apache.datasketches.hll.HllSketch
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Doris HLL scalar codec surface (reference: be/src/exprs/function/
  * function_hll.cpp — hll_hash / hll_empty build single-value /
  * empty HLL columns that the HLL_UNION agg then merges).
  *
  * Spark's hll_sketch_agg/hll_union/hll_union_agg/hll_cardinality
  * builtins speak the DataSketches HllSketch wire format, so these two
  * scalar constructors (same lgK=12 default) compose with the native
  * functions exactly like Doris's scalar+agg HLL pipeline — sketches
  * built per-row here merge through the builtin union path.
  */
object HllFunctions {

  private val LgK = 12 // Spark's hll_* default lgConfigK

  def udfs: Seq[(String, UserDefinedFunction)] = Seq(
    "hll_hash" -> udf((s: String) => {
      val sk = new HllSketch(LgK)
      if (s != null) sk.update(s)
      sk.toUpdatableByteArray
    }),
    "hll_empty" -> udf(() => new HllSketch(LgK).toUpdatableByteArray))
}
