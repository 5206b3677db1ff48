package graft

import org.scalatest.funsuite.AnyFunSuite

/** plans/LakehouseSql.scala DML target pruning on TRANSFORMED specs
  * beyond iceberg — the r14 "known remaining": delta/hudi/paimon DML
  * against a days(ts) table planned ALL files (correct, unpruned).
  * Delta stores the transformed partition value in its add entries, so
  * the same stored-value predicate the read path resolves now reaches
  * the writer's partFilter too. Pinned by MEASURING task input bytes
  * around the statement — at 100 TB a partition-scoped UPDATE that
  * scans the whole table is the difference between one partition's
  * files and ten thousand. */
class TransformDmlPruneSpec extends AnyFunSuite {
  import TestSpark._

  private def sql(s: String) = spark.sql(s)

  /** Task-level input RECORDS during `body` (bytesRead under-reports
    * on these local scans — records track the scanned row volume
    * exactly, which is what pruning bounds). */
  private def measuredInputRecords(body: => Unit): Long =
    org.apache.spark.sql.graftshim.ListenerShim
      .sumTaskMetric(spark.sparkContext, _.inputMetrics.recordsRead)(body)._2

  test("delta days(ts) UPDATE/DELETE scan only the conjunct's partitions") {
    // 20 daily partitions × 5k rows
    val total = 100000L
    spark.range(0, total)
      .selectExpr("id AS k",
        "timestamp(date_add(date'2024-01-01', CAST(id % 20 AS INT))) AS ts",
        "CAST(id AS INT) AS v",
        "repeat(sha2(CAST(id AS STRING), 256), 2) AS pad")
      .createOrReplaceTempView("tdp_src")
    sql("CREATE OR REPLACE TABLE graft_delta.tdp " +
      "PARTITIONED BY (days(ts)) AS SELECT * FROM tdp_src")
    // UPDATE scoped to 2 of 20 days: the probe read AND the writer's
    // matcher scan both carry the stored-value prune. Unpruned, the
    // matcher scan alone reads `total` records and the replacement-row
    // recompute another `total` (≥2× measured); pruned, both touch a
    // handful of partitions (measured ≈0.7× with probe overhead).
    val updRecords = measuredInputRecords {
      sql("UPDATE graft_delta.tdp SET v = v + 1000000 " +
        "WHERE ts >= '2024-01-03 00:00:00' AND ts < '2024-01-05 00:00:00'")
        .collect(): Unit
    }
    assert(updRecords < total,
      s"transformed UPDATE must prune its scans: read $updRecords of " +
        s"a $total-row table (unpruned ≥ 2×)")
    assert(updRecords > total / 5,
      s"the metric must bite (the pruned partitions' rows): $updRecords")
    assert(sql("SELECT count(*) AS n FROM graft_delta.tdp WHERE v >= 1000000")
      .head().getLong(0) == 10000L, "the update landed value-exact")
    // DELETE scoped to 1 day
    val delRecords = measuredInputRecords {
      sql("DELETE FROM graft_delta.tdp " +
        "WHERE ts >= '2024-01-10 00:00:00' AND ts < '2024-01-11 00:00:00'")
        .collect(): Unit
    }
    assert(delRecords < total * 60 / 100,
      s"transformed DELETE must prune its scans: read $delRecords of $total")
    assert(delRecords > total / 20,
      s"the metric must bite: $delRecords")
    assert(sql("SELECT count(*) AS n FROM graft_delta.tdp")
      .head().getLong(0) == 95000L, "the delete landed value-exact")
  }

  test("delta multi-field spec (days, bucket) prunes per component") {
    // 20 days × 4 buckets = 80 component cells (the day-range bound is
    // INCLUSIVE on its upper day, so a 1-day DELETE plans 2 of 20)
    val total = 40000L
    spark.range(0, total)
      .selectExpr("id AS k",
        "timestamp(date_add(date'2024-02-01', CAST(id % 20 AS INT))) AS ts",
        "CAST(id AS INT) AS v")
      .createOrReplaceTempView("tdpm_src")
    sql("CREATE OR REPLACE TABLE graft_delta.tdpm " +
      "PARTITIONED BY (days(ts), bucket(4, k)) AS SELECT * FROM tdpm_src")
    // every add action stamps BOTH components
    val adds = graft.ops.DeltaLite.planFilesWithCheckpoint(spark,
      graft.plans.LakehouseSql.tableDirOf(spark, "delta", "tdpm"))
    assert(adds.size >= 40, s"expected per-cell files, got ${adds.size}")
    assert(adds.forall(_._2.keySet == Set("ts_day", "k_bucket_4")),
      s"adds must stamp the full component map: ${adds.head._2}")
    // UPDATE keyed on the bucket component: reads ~1/4 of the table
    val updRecords = measuredInputRecords {
      sql("UPDATE graft_delta.tdpm SET v = v + 1000000 WHERE k = 777")
        .collect(): Unit
    }
    assert(updRecords < total,
      s"bucket-component UPDATE must prune: read $updRecords of $total")
    assert(sql("SELECT v FROM graft_delta.tdpm WHERE k = 777")
      .head().getInt(0) == 1000777, "the update landed value-exact")
    // DELETE scoped to 1 of 10 days: reads ~1/10 (probe + matcher)
    val delRecords = measuredInputRecords {
      sql("DELETE FROM graft_delta.tdpm " +
        "WHERE ts >= '2024-02-05 00:00:00' AND ts < '2024-02-06 00:00:00'")
        .collect(): Unit
    }
    assert(delRecords < total * 60 / 100,
      s"day-component DELETE must prune: read $delRecords of $total")
    assert(sql("SELECT count(*) AS n FROM graft_delta.tdpm")
      .head().getLong(0) == 38000L, "the delete landed value-exact")
    // INSERT re-lands under the spec; the appended day prunes its read
    sql("INSERT INTO graft_delta.tdpm SELECT id + 100000 AS k, " +
      "timestamp'2024-03-05 00:00:00' AS ts, CAST(id AS INT) AS v " +
      "FROM range(0, 100)")
    val readRecords = measuredInputRecords {
      assert(sql("SELECT count(*) AS n FROM graft_delta.tdpm " +
        "WHERE ts >= '2024-03-05 00:00:00' AND ts < '2024-03-06 00:00:00'")
        .head().getLong(0) == 100L, "the insert landed value-exact")
    }
    assert(readRecords < total / 2,
      s"the appended day's read must prune: $readRecords of $total")
    // MERGE with an ON day conjunct: one-commit update, pruned scan
    sql("SELECT id AS k, timestamp'2024-03-05 00:00:00' AS ts, 7 AS nv " +
      "FROM range(100000, 100050)").createOrReplaceTempView("tdpm_mrg")
    val mrgRecords = measuredInputRecords {
      sql("MERGE INTO graft_delta.tdpm t USING tdpm_mrg s " +
        "ON t.k = s.k AND t.ts >= '2024-03-05 00:00:00' " +
        "AND t.ts < '2024-03-06 00:00:00' " +
        "WHEN MATCHED THEN UPDATE SET v = s.nv").collect(): Unit
    }
    assert(mrgRecords < total / 2,
      s"the MERGE's target scans must prune on the ON day conjunct: " +
        s"$mrgRecords of $total")
    assert(sql("SELECT CAST(sum(v) AS BIGINT) AS sv FROM graft_delta.tdpm " +
      "WHERE ts = timestamp'2024-03-05 00:00:00'").head().getLong(0)
      == 50L * 7 + (50L * (50 + 99) / 2),
      "the merge landed value-exact")
    // OPTIMIZE re-stamps the full component map on the compacted
    // files — pruning must survive compaction (a compaction that lost
    // the spec would silently degrade every later scan to full-table)
    val preCount = sql("SELECT count(*) AS n FROM graft_delta.tdpm")
      .head().getLong(0)
    sql("OPTIMIZE graft_delta.tdpm")
    val adds2 = graft.ops.DeltaLite.planFilesWithCheckpoint(spark,
      graft.plans.LakehouseSql.tableDirOf(spark, "delta", "tdpm"))
    assert(adds2.forall(_._2.keySet == Set("ts_day", "k_bucket_4")),
      s"OPTIMIZE must re-stamp the component map: ${adds2.head._2}")
    assert(sql("SELECT count(*) AS n FROM graft_delta.tdpm")
      .head().getLong(0) == preCount, "OPTIMIZE preserves the rows")
    val postOpt = measuredInputRecords {
      sql("SELECT count(*) AS n FROM graft_delta.tdpm " +
        "WHERE ts >= '2024-02-10 00:00:00' AND ts < '2024-02-11 00:00:00'")
        .collect(): Unit
    }
    assert(postOpt < preCount / 2,
      s"pruning must survive OPTIMIZE: read $postOpt of $preCount")
  }

  test("paimon append-only multi-field spec prunes per component") {
    val total = 40000L
    spark.range(0, total)
      .selectExpr("id AS k",
        "timestamp(date_add(date'2024-05-01', CAST(id % 20 AS INT))) AS ts",
        "CAST(id AS INT) AS v")
      .createOrReplaceTempView("tppm_src")
    sql("CREATE OR REPLACE TABLE graft_paimon.tppm " +
      "PARTITIONED BY (days(ts), bucket(4, k)) AS SELECT * FROM tppm_src")
    // day-range read: 2 of 20 days (inclusive upper bound)
    val dayRecords = measuredInputRecords {
      assert(sql("SELECT count(*) AS n FROM graft_paimon.tppm " +
        "WHERE ts >= '2024-05-03 00:00:00' AND ts < '2024-05-04 00:00:00'")
        .head().getLong(0) == 2000L, "day read value-exact")
    }
    assert(dayRecords < total / 2,
      s"day-component read must prune: $dayRecords of $total")
    // bucket-equality read: 1 of 4 buckets
    val keyRecords = measuredInputRecords {
      assert(sql("SELECT v FROM graft_paimon.tppm WHERE k = 777")
        .head().getInt(0) == 777, "key read value-exact")
    }
    assert(keyRecords < total / 2,
      s"bucket-component read must prune: $keyRecords of $total")
    // append-only: row DML stays refused
    assert(intercept[Exception] {
      sql("DELETE FROM graft_paimon.tppm WHERE k = 777")
    }.getMessage.contains("append-only"))
  }

  test("iceberg multi-field OPTIMIZE re-stamps the partition tuple") {
    val total = 20000L
    spark.range(0, total)
      .selectExpr("id AS k",
        "timestamp(date_add(date'2024-04-01', CAST(id % 10 AS INT))) AS ts",
        "CAST(id AS INT) AS v")
      .createOrReplaceTempView("tipm_src")
    sql("CREATE OR REPLACE TABLE graft_iceberg.tipm " +
      "PARTITIONED BY (days(ts), bucket(4, k)) AS SELECT * FROM tipm_src")
    sql("OPTIMIZE graft_iceberg.tipm")
    val postOpt = measuredInputRecords {
      sql("SELECT count(*) AS n FROM graft_iceberg.tipm " +
        "WHERE ts >= '2024-04-03 00:00:00' AND ts < '2024-04-04 00:00:00'")
        .collect(): Unit
    }
    assert(postOpt < total / 2,
      s"iceberg pruning must survive OPTIMIZE: read $postOpt of $total")
    assert(sql("SELECT count(*) AS n FROM graft_iceberg.tipm")
      .head().getLong(0) == total, "OPTIMIZE preserves the rows")
  }
}
