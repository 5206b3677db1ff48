package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Every class the engine generates for a repeated statement stays
  * compiled: Spark's JVM-wide codegen cache holds the working set of
  * the perfbench `analytics` keys, so running them again compiles
  * nothing. The cap is a static conf read once per JVM, when Spark's
  * `CodeGenerator` first initializes; it holds here because every test
  * session comes from `GraftSession.local` (TestSpark) before any
  * query runs. At Spark's default of 100 entries the second run
  * recompiles dozens of classes. */
class CodegenCacheSpec extends AnyFunSuite {
  import TestSpark._

  private val keys = Seq("q3_shipping_priority", "q6_forecast_revenue",
    "q18_large_orders", "ml_dedup_minhash", "ml_dedup_components")

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def runAll(): Unit = keys.foreach(k =>
    SparkEntry.queries(k)(spark, sf).write.format("noop").mode("overwrite").save())

  test("the session carries the engine's codegen cache cap") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
  }

  test("the analytics keys compile nothing when run a second time") {
    runAll()
    val before = compiles
    runAll()
    assert(compiles - before == 0L, "classes recompiled")
  }
}
