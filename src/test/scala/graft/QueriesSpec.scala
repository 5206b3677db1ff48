package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(4)
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** Runs `f` with the named optimizer rules excluded through Spark's
    * own switch, `spark.sql.optimizer.excludedRules`. */
  def withoutRules[T](rules: String*)(f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, rules.mkString(","))
    try f finally spark.conf.unset(key)
  }
}

/** Smoke: every declared query runs and (where meaningful) is non-empty.
  * Value-level correctness vs the DuckDB oracle is checked by the
  * `oracle` stage of scripts/gates.sh: `graft.Verify` writes every
  * result, then scripts/oracle_check.py compares it with DuckDB.
  */
class QueriesSpec extends AnyFunSuite {
  import TestSpark._

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      df.count() // executes; some adapted queries may legally be empty at tiny SF
    }
  }
}
