package graft

import org.scalatest.funsuite.AnyFunSuite

/** plans/LakehouseSql.scala MERGE dataflow — the r13-verdict perf-weak
  * item: the target⋈source join must evaluate ONCE per statement, not
  * once per probe (per-clause rows, insert anti-join, cardinality
  * probe, emptiness flags, the positional writer's matcher ≈ 6 target
  * scans in the r13 spelling). Pinned by MEASURING task input bytes
  * around the statement: at 100 TB a 6× constant factor on the target
  * scan is the difference between one pass and six.
  *
  * (Reference: the dedicated merge sink is one dataflow,
  * be/src/exec/operator/iceberg_merge_sink_operator.h:44.)
  */
class MergeOnePassSpec extends AnyFunSuite {
  import TestSpark._

  private def sql(s: String) = spark.sql(s)

  private def tableBytes(fmt: String, name: String): Long = {
    def walk(f: java.io.File): Long =
      Option(f.listFiles()).getOrElse(Array.empty).map { c =>
        if (c.isDirectory) walk(c)
        else if (c.getName.endsWith(".parquet")) c.length() else 0L
      }.sum
    walk(new java.io.File(s"target/lakehouse/$fmt/$name"))
  }

  /** Sum of task-level input bytes (file AND cached-block reads) during
    * `body`, with the async listener bus drained before reading. */
  private def measuredInputBytes(body: => Unit): Long =
    org.apache.spark.sql.graftshim.ListenerShim
      .sumTaskMetric(spark.sparkContext, _.inputMetrics.bytesRead)(body)._2

  private def fixture(fmt: String, name: String, pk: String): Unit = {
    spark.range(0, 300000)
      .selectExpr("id AS k", "CAST(id % 7 AS STRING) AS p",
        "CAST(id % 1000 AS INT) AS v",
        "repeat('x', 24) AS pad")
      .createOrReplaceTempView(s"mop_src_$name")
    sql(s"CREATE OR REPLACE TABLE graft_$fmt.$name $pk " +
      s"PARTITIONED BY (p) AS SELECT * FROM mop_src_$name")
    // a small source: 1500 matched keys (500 update / 500 delete /
    // 500 unclaimed) + 500 fresh keys for the NOT MATCHED half
    spark.range(0, 2000)
      .selectExpr("CASE WHEN id < 1500 THEN id * 100 ELSE 900000 + id END AS k",
        "CAST((CASE WHEN id < 1500 THEN id * 100 ELSE 900000 + id END) % 7 AS STRING) AS p",
        "CAST(id AS INT) AS v", "repeat('y', 24) AS pad")
      .createOrReplaceTempView(s"mop_upd_$name")
  }

  private def runMerge(fmt: String, name: String): Unit = {
    sql(s"MERGE INTO graft_$fmt.$name t USING mop_upd_$name s " +
      "ON t.k = s.k " +
      "WHEN MATCHED AND s.v % 3 = 0 THEN UPDATE SET v = s.v + 1000000 " +
      "WHEN MATCHED AND s.v % 3 = 1 THEN DELETE " +
      "WHEN NOT MATCHED AND s.k >= 900000 THEN INSERT *").collect(): Unit
  }

  private def check(fmt: String, pk: String): Unit = {
    val name = s"mop_$fmt"
    fixture(fmt, name, pk)
    val base = tableBytes(fmt, name)
    assert(base > (1L << 20), s"fixture too small to measure: $base bytes")
    val read = measuredInputBytes(runMerge(fmt, name))
    // one-pass bound: the target's parquet is scanned ONCE (the join);
    // everything else reads the persisted matched frame / the tiny
    // source. 2.5× leaves room for footer stats, the commit's metadata
    // reads and cache-report noise — the r13 multi-pass dataflow sat
    // at ≳4×.
    assert(read < (base * 2.5).toLong,
      s"$fmt MERGE read $read bytes against a $base-byte target — " +
        "the one-pass dataflow regressed to multi-scan")
    assert(read > base / 2,
      s"input-byte metric implausibly low ($read vs table $base) — " +
        "the gate is not measuring the scan")
    // value-exactness of the same statement (counts derived from the
    // fixture arithmetic: 1500 matched keys — 500 update (+1e6),
    // 500 delete, 500 unclaimed — plus 500 fresh inserted keys)
    val got = sql(s"SELECT count(*) AS n, sum(CASE WHEN v >= 1000000 THEN 1 " +
      s"ELSE 0 END) AS upd FROM graft_$fmt.$name").head()
    assert(got.getLong(0) == 300000L - 500L + 500L,
      s"$fmt row count after merge: ${got.getLong(0)}")
    assert(got.getLong(1) == 500L, s"$fmt updated-row count: ${got.getLong(1)}")
  }

  test("delta MERGE scans the target once (input-byte bound)") {
    check("delta", "")
  }

  test("iceberg MERGE scans the target once (input-byte bound)") {
    check("iceberg", "")
  }

  test("hudi PK MERGE scans the target once (input-byte bound)") {
    check("hudi", "PRIMARY KEY (k)")
  }
}
