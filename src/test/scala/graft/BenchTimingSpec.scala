package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's best-of-N routine keeps each failure's cause: the metric
  * line still reads -1.0 for an entry whose every run failed, and the
  * exception class reaches the diag line's `errors` map. */
class BenchTimingSpec extends AnyFunSuite {
  import TestSpark._

  test("an unknown query key fails with its exception class") {
    val t = Bench.bestOf(2, 3)(Bench.timeOnce(spark, "no_such_query", sf))
    assert(t.best == -1.0 && t.ok.isEmpty)
    assert(t.error.exists(_.startsWith("java.util.NoSuchElementException")), t.error)
  }

  test("a missing data dir fails with its exception class") {
    val t = Bench.bestOf(1, 0)(
      Bench.timeOnce(spark, "q6_forecast_revenue", "target/no_such_sf_dir"))
    assert(t.best == -1.0)
    assert(t.error.exists(_.contains("AnalysisException")), t.error)
  }

  test("successful runs carry a time and no error") {
    val t = Bench.bestOf(2, 0)(Bench.timeOnce(spark, "q6_forecast_revenue", sf))
    assert(t.ok.size == 2 && t.best > 0 && t.error.isEmpty)
    assert((t ++ Bench.Timing(Nil, Some("x: y"))).best == t.best)
  }
}
