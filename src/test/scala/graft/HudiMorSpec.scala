package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.HudiLite

/** ops/HudiLite.scala merge-on-read: log-block round trip, per-key
  * latest-record merge with delete blocks, multi-delta layering,
  * time travel, the file-slice rule (compaction orphans old logs), and
  * partition pruning composing with the merge. */
class HudiMorSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("p", StringType),
    StructField("v", IntegerType)))
  private val keySchema = StructType(Seq(StructField("k", LongType)))

  private lazy val tableDir: String = {
    val s2 = spark
    import s2.implicits._
    val df = Seq((1L, "A", 1)).toDF("k", "p", "v")
    val dir = new java.io.File("target/hudi/mor_spec").getAbsolutePath
    HudiLite.writeFixtureTable(spark, dir, df, Seq(
      HudiLite.Commit("001", Seq(
        ("A", "f1", Seq(Row(1L, "A", 10), Row(2L, "A", 20), Row(3L, "A", 30))),
        ("B", "f2", Seq(Row(4L, "B", 40), Row(5L, "B", 50)))))))
    HudiLite.writeDeltaCommits(dir, Seq(
      HudiLite.DeltaCommit("002", Seq(
        ("A", "f1", "001", Seq(
          HudiLite.LogBlock(HudiLite.BlockData, "002", Seq(Row(2L, "A", 200)), schema),
          HudiLite.LogBlock(HudiLite.BlockDelete, "002", Seq(Row(3L)), keySchema))),
        ("B", "f2", "001", Seq(
          HudiLite.LogBlock(HudiLite.BlockData, "002", Seq(Row(4L, "B", 400)), schema))))),
      HudiLite.DeltaCommit("003", Seq(
        ("A", "f1", "001", Seq(
          HudiLite.LogBlock(HudiLite.BlockData, "003",
            Seq(Row(2L, "A", 222), Row(9L, "A", 90)), schema)))))))
    dir
  }

  private def state(instant: Option[String],
                    part: Option[String => Boolean] = None): Map[Long, Int] =
    HudiLite.readSnapshotMor(spark, tableDir, Seq("k"), instant, part)
      .select(col("k"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("base-only time travel: no logs visible at the base instant") {
    assert(state(Some("001")) ==
      Map(1L -> 10, 2L -> 20, 3L -> 30, 4L -> 40, 5L -> 50))
  }

  test("delta commit merges: upsert overrides, delete drops, others survive") {
    assert(state(Some("002")) ==
      Map(1L -> 10, 2L -> 200, 4L -> 400, 5L -> 50), "k=3 deleted")
  }

  test("later delta layers on top; log-borne insert appears") {
    assert(state(None) ==
      Map(1L -> 10, 2L -> 222, 4L -> 400, 5L -> 50, 9L -> 90))
  }

  test("partition pruning composes with the merge") {
    assert(state(None, Some(_ == "B")) == Map(4L -> 400, 5L -> 50))
  }

  test("file-slice rule: a compaction rewrite orphans the old base's logs") {
    val s2 = spark
    import s2.implicits._
    val df = Seq((1L, "A", 1)).toDF("k", "p", "v")
    val dir = new java.io.File("target/hudi/mor_spec_compact").getAbsolutePath
    HudiLite.writeFixtureTable(spark, dir, df, Seq(
      HudiLite.Commit("001", Seq(("A", "f1", Seq(Row(1L, "A", 10)))))))
    HudiLite.writeDeltaCommits(dir, Seq(
      HudiLite.DeltaCommit("002", Seq(("A", "f1", "001", Seq(
        HudiLite.LogBlock(HudiLite.BlockData, "002", Seq(Row(1L, "A", 100)), schema)))))))
    // compaction: new base slice for f1 at 003 carrying the merged state
    val statsJson = """{"partitionToWriteStats":{"A":[{"fileId":"f1","path":"A/f1_0-0-0_003.parquet","numWrites":1}]}}"""
    val tmp = s"$dir/tmp_stage"
    spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(Row(1L, "A", 100))), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dir, "A/f1_0-0-0_003.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, ".hoodie", "003.commit"), statsJson)
    // the 002 log's baseInstant is 001; after the 003 rewrite it must
    // NOT attach to the new slice
    val plan = HudiLite.planFilesMor(dir)
    assert(plan.size == 1 && plan.head._4 == "003" && plan.head._5.isEmpty,
      s"old log must be orphaned by the new slice: $plan")
    val got = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 100)))
  }

  test("compaction rewrites logged groups; state is a no-op; history survives") {
    val s2 = spark
    import s2.implicits._
    val df = Seq((1L, "A", 1)).toDF("k", "p", "v")
    val dir = new java.io.File("target/hudi/mor_spec_compact2").getAbsolutePath
    HudiLite.writeFixtureTable(spark, dir, df, Seq(
      HudiLite.Commit("001", Seq(
        ("A", "f1", Seq(Row(1L, "A", 10), Row(2L, "A", 20))),
        ("B", "f2", Seq(Row(3L, "B", 30)))))))
    HudiLite.writeDeltaCommits(dir, Seq(
      HudiLite.DeltaCommit("002", Seq(("A", "f1", "001", Seq(
        HudiLite.LogBlock(HudiLite.BlockData, "002", Seq(Row(1L, "A", 100)), schema),
        HudiLite.LogBlock(HudiLite.BlockDelete, "002", Seq(Row(2L)), keySchema)))))))
    val before = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val compacted = HudiLite.compact(spark, dir, Seq("k"), "010")
    assert(compacted == Seq("f1"), "only the logged group rewrites")
    val plan = HudiLite.planFilesMor(dir)
    assert(plan.forall(_._5.isEmpty), s"post-compaction plan must carry no logs: $plan")
    assert(plan.find(_._3 == "f1").get._4 == "010" &&
      plan.find(_._3 == "f2").get._4 == "001",
      "unlogged group keeps its original slice")
    val after = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(after == before && after == Set((1L, 100), (3L, 30)),
      "compaction must be a state no-op")
    // pre-compaction time travel still merges the logs
    val at002 = HudiLite.readSnapshotMor(spark, dir, Seq("k"), Some("002"))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(at002 == Set((1L, 100), (3L, 30)))
    // nothing left to compact; a stale instant is rejected
    intercept[IllegalArgumentException] { HudiLite.compact(spark, dir, Seq("k"), "011") }
    intercept[IllegalArgumentException] { HudiLite.compact(spark, dir, Seq("k"), "005") }
  }

  test("incremental read ships log changes and fresh-group inserts, skips rewrites") {
    // main fixture: (001, 003] = deltacommits 002 (upsert k=2, delete
    // k=3, upsert k=4) and 003 (upsert k=2 again, insert-via-log k=9)
    val inc = HudiLite.readIncrementalMor(spark, tableDir, "001", "003")
      .select(col("k"), col("v"), col("_CHANGE_TYPE")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1),
        r.getString(2))).toSet
    assert(inc == Set((2L, 200, "upsert"), (3L, -1, "delete"),
      (4L, 400, "upsert"), (2L, 222, "upsert"), (9L, 90, "upsert")),
      s"every change in the window ships, including k=2 twice: $inc")
    // a window past a compaction skips the rewrite but ships the
    // fresh-group insert of a later commit
    val dir = new java.io.File("target/hudi/mor_spec_inc").getAbsolutePath
    val s2 = spark
    import s2.implicits._
    val df = Seq((1L, "A", 1)).toDF("k", "p", "v")
    HudiLite.writeFixtureTable(spark, dir, df, Seq(
      HudiLite.Commit("001", Seq(("A", "f1", Seq(Row(1L, "A", 10)))))))
    HudiLite.writeDeltaCommits(dir, Seq(
      HudiLite.DeltaCommit("002", Seq(("A", "f1", "001", Seq(
        HudiLite.LogBlock(HudiLite.BlockData, "002", Seq(Row(1L, "A", 100)), schema)))))))
    HudiLite.compact(spark, dir, Seq("k"), "003")
    // commit 004: a brand-new file group (fresh insert, not a rewrite)
    val statsJson = """{"partitionToWriteStats":{"B":[{"fileId":"f9","path":"B/f9_0-0-0_004.parquet","numWrites":1}]}}"""
    val tmp = s"$dir/tmp_stage"
    spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(Row(9L, "B", 90))), schema)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles().find(_.getName.endsWith(".parquet")).get
    new java.io.File(dir, "B").mkdirs()
    java.nio.file.Files.move(part.toPath, new java.io.File(dir, "B/f9_0-0-0_004.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, ".hoodie", "004.commit"), statsJson)
    val inc2 = HudiLite.readIncrementalMor(spark, dir, "002", "004")
      .select(col("k"), col("_CHANGE_TYPE")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(inc2 == Set((9L, "insert")),
      s"the 003 compaction rewrite must not ship as change: $inc2")
  }

  test("user-facing write path: createTable + upsert + deleteKeys round trip") {
    val s2 = spark
    import s2.implicits._
    val dir = new java.io.File("target/hudi/mor_user_write").getAbsolutePath
    val base = (1L to 20L).map(k => (k, if (k % 2 == 0) "A" else "B", k.toInt))
      .toDF("k", "p", "v")
    HudiLite.createTable(spark, dir, base, keyCols = Seq("k"), partCol = "p",
      instant = "001", groupsPerPart = 2)
    // base commit alone reads back exactly, split across file groups
    val plan0 = HudiLite.planFilesMor(dir)
    assert(plan0.size >= 3, s"groups split per partition: $plan0")
    def state: Map[Long, Int] = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(state == (1L to 20L).map(k => k -> k.toInt).toMap)
    // upsert: update existing keys + insert new ones (existing partitions)
    HudiLite.upsert(spark, dir,
      Seq((2L, "A", 200), (3L, "B", 300), (21L, "B", 210), (22L, "A", 220))
        .toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "002")
    val exp1 = ((1L to 20L).map(k => k -> k.toInt).toMap
      ++ Map(2L -> 200, 3L -> 300, 21L -> 210, 22L -> 220))
    assert(state == exp1, "updates override, inserts appear")
    // a second upsert of a log-born key must land in the SAME group
    // (the key index covers log-borne records)
    HudiLite.upsert(spark, dir, Seq((21L, "B", 999)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "003")
    assert(state(21L) == 999, "the log-borne key's group resolves stably")
    // delete: existing + log-born keys drop; unknown key is loud
    HudiLite.deleteKeys(spark, dir, Seq(4L, 21L).toDF("k"),
      keyCols = Seq("k"), instant = "004")
    assert(state == exp1 - 4L - 21L + (21L -> 999) - 21L)
    intercept[Exception] {
      HudiLite.deleteKeys(spark, dir, Seq(777L).toDF("k"),
        keyCols = Seq("k"), instant = "005")
    }
    // a NEVER-SEEN partition lays fresh base file groups in the same
    // deltacommit (lazy group creation, real Hudi's discipline)...
    HudiLite.upsert(spark, dir, Seq((50L, "Z", 1)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "006")
    assert(state(50L) == 1, "insert into a fresh partition lands")
    // ...and the fresh group is a REAL file group: a later upsert of
    // the key routes into it through the index
    HudiLite.upsert(spark, dir, Seq((50L, "Z", 5)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "007")
    assert(state(50L) == 5, "the lazy group resolves stably")
    // compaction folds the API-written logs; state is a no-op
    val before = state
    HudiLite.compact(spark, dir, Seq("k"), "900")
    assert(HudiLite.planFilesMor(dir).forall(_._5.isEmpty))
    assert(state == before)
  }

  test("volume-derived file groups: big partitions lay more; full partitions grow") {
    val s2 = spark
    import s2.implicits._
    spark.conf.set("spark.graft.hudi.group.targetRows", "100")
    try {
      val dir = new java.io.File("target/hudi/mor_volgroups").getAbsolutePath
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      // A: 1000 rows → ceil(1000/100) = 10 target groups; B: 50 rows →
      // the floor (2). The staged hash placement may merge a few
      // groups, so assert proportionate, not exact.
      val base = ((1L to 1000L).map(k => (k, "A", k.toInt)) ++
        (2001L to 2050L).map(k => (k, "B", k.toInt))).toDF("k", "p", "v")
      HudiLite.createTable(spark, dir, base, keyCols = Seq("k"),
        partCol = "p", instant = "001")
      val plan0 = HudiLite.planFilesMor(dir)
      val aGroups = plan0.count(_._2 == "A")
      assert(aGroups > 2, s"a big partition must lay >2 proportionate " +
        s"file groups, got $aGroups")
      assert(plan0.count(_._2 == "B") <= 3,
        "a small partition must stay near the floor")
      def state: Map[Long, Int] = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
        .select("k", "v").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(state.size == 1050 && state(7L) == 7, "volume layout reads exact")
      // FULL partitions grow: with the size bound below every base's
      // bytes, NEW keys lay fresh file groups instead of logging
      // against oversized bases; EXISTING keys still log in place
      spark.conf.set("spark.graft.hudi.group.targetBytes", "1")
      val fidsBefore = plan0.map(_._3).toSet
      HudiLite.upsert(spark, dir,
        ((5001L to 5020L).map(k => (k, "A", k.toInt)) :+ ((1L, "A", 111)))
          .toDF("k", "p", "v"),
        keyCols = Seq("k"), partCol = "p", instant = "002")
      val plan1 = HudiLite.planFilesMor(dir)
      val freshFids = plan1.map(_._3).toSet -- fidsBefore
      assert(freshFids.nonEmpty,
        "new keys into a FULL partition must lay additional file groups")
      assert(state(1L) == 111 && state(5005L) == 5005 && state.size == 1070,
        "existing keys log in place; fresh-group keys land")
      // the added group is a real file group: its keys update stably
      HudiLite.upsert(spark, dir, Seq((5005L, "A", 9)).toDF("k", "p", "v"),
        keyCols = Seq("k"), partCol = "p", instant = "003")
      assert(state(5005L) == 9, "the grown group resolves stably")
      // the MERGE path (stageMergeOnce) grows full partitions too —
      // its routing filter is separate code from the upsert path's
      val fidsBeforeMerge = HudiLite.planFilesMor(dir).map(_._3).toSet
      HudiLite.mergeCommit(spark, dir,
        upserts = Seq((1L, "A", 112), (6001L, "A", 61), (6002L, "A", 62))
          .toDF("k", "p", "v"),
        deleteKeysDf = Seq(2L).toDF("k"),
        keyCols = Seq("k"), partCol = "p", instant0 = "004"): Unit
      val mergeFresh = HudiLite.planFilesMor(dir).map(_._3).toSet --
        fidsBeforeMerge
      assert(mergeFresh.nonEmpty,
        "MERGE inserts into a FULL partition must lay fresh groups")
      assert(state(1L) == 112 && state(6001L) == 61 && !state.contains(2L),
        "merge updates log in place, deletes drop, fresh-group keys land")
    } finally {
      spark.conf.unset("spark.graft.hudi.group.targetRows")
      spark.conf.unset("spark.graft.hudi.group.targetBytes")
    }
  }

  test("cross-partition upsert of an existing key is loud, not a stale split-brain") {
    val s2 = spark
    import s2.implicits._
    val dir = new java.io.File("target/hudi/mor_xpart").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    HudiLite.createTable(spark, dir,
      Seq((1L, "A", 10), (2L, "B", 20)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "001")
    // k=1 lives in partition A: an upsert carrying p='B' would log it
    // against A's file group while a p='B' filtered read misses it (or
    // a bloom-missed route would duplicate the key) — refuse loudly
    val e = intercept[Exception] {
      HudiLite.upsert(spark, dir, Seq((1L, "B", 11)).toDF("k", "p", "v"),
        keyCols = Seq("k"), partCol = "p", instant = "002")
    }
    assert(e.getMessage.contains("across partitions"), e.getMessage)
    // same-partition upserts and genuinely new keys stay fine
    HudiLite.upsert(spark, dir,
      Seq((1L, "A", 12), (9L, "B", 90)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "003")
    val got = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 12, 2L -> 20, 9L -> 90), s"post-guard state: $got")
    // the explicit spelling works: DELETE + INSERT relocates the key
    HudiLite.deleteKeys(spark, dir, Seq(1L).toDF("k"), Seq("k"), "004")
    HudiLite.upsert(spark, dir, Seq((1L, "B", 13)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "005")
    val moved = HudiLite.readSnapshotMor(spark, dir, Seq("k"),
      partFilter = Some(_ == "B"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(moved == Map(1L -> 13, 2L -> 20, 9L -> 90),
      s"the relocated key must serve under its NEW partition's filter: $moved")
  }

  test("own-partition bloom FALSE POSITIVE cannot hide a moved key (backstop)") {
    val s2 = spark
    import s2.implicits._
    val dir = new java.io.File("target/hudi/mor_bloomfp").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    HudiLite.createTable(spark, dir,
      Seq((1L, "A", 10), (2L, "B", 20)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "001")
    // SATURATE partition B's bloom sidecars (all bits set): every key
    // now reads as an own-partition positive in B — the exact failure
    // mode of an undersized/aged sidecar. Partition-first alone would
    // skip the foreign sweep for k=1, never see its file group in A,
    // hash-route it as NEW into B, and leave a live stale copy in A.
    HudiLite.planFilesMor(dir).filter(_._2 == "B").foreach { s =>
      val f = new java.io.File(s._1 + ".bloom")
      val bytes = Array.fill[Byte](f.length().toInt)(-1)
      java.nio.file.Files.write(f.toPath, bytes)
    }
    val e = intercept[Exception] {
      HudiLite.upsert(spark, dir, Seq((1L, "B", 11)).toDF("k", "p", "v"),
        keyCols = Seq("k"), partCol = "p", instant = "002")
    }
    assert(e.getMessage.contains("across partitions"),
      s"the move guard must fire THROUGH the false positive: ${e.getMessage}")
    // in-place updates and genuinely new keys still land (the backstop
    // only re-sweeps what the exact scan failed to place)
    HudiLite.upsert(spark, dir,
      Seq((2L, "B", 22), (7L, "B", 70)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "003")
    val got = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 10, 2L -> 22, 7L -> 70), s"state: $got")
  }

  test("bloom sidecars size with the file's row count") {
    val s2 = spark
    import s2.implicits._
    val dir = new java.io.File("target/hudi/mor_bloomsize").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    spark.conf.set("spark.graft.hudi.group.targetRows", "200000")
    try {
      // one 10k-row partition and one 100-row partition, one group each
      HudiLite.createTable(spark, dir,
        ((1L to 10000L).map(k => (k, "BIG", k.toInt)) ++
          (20001L to 20100L).map(k => (k, "SMALL", k.toInt)))
          .toDF("k", "p", "v"),
        keyCols = Seq("k"), partCol = "p", instant = "001", groupsPerPart = 1)
      val byPart = HudiLite.planFilesMor(dir).groupBy(_._2)
      val bigBloom = new java.io.File(byPart("BIG").head._1 + ".bloom")
      val smallBloom = new java.io.File(byPart("SMALL").head._1 + ".bloom")
      // 10k keys want ≥ 160k bits = 32 KiB (next pow2 of 16 bits/key);
      // 100 keys keep the 8 KiB floor
      assert(bigBloom.length() == 32 * 1024,
        s"10k-key sidecar: ${bigBloom.length()} bytes")
      assert(smallBloom.length() == 8 * 1024,
        s"100-key sidecar keeps the floor: ${smallBloom.length()} bytes")
      // the sized blooms resolve existing keys (mod derives from length)
      HudiLite.upsert(spark, dir, Seq((5000L, "BIG", -1)).toDF("k", "p", "v"),
        keyCols = Seq("k"), partCol = "p", instant = "002")
      val got = HudiLite.readSnapshotMor(spark, dir, Seq("k"),
        partFilter = Some(_ == "BIG"))
        .filter(col("k") === 5000L).select("v").head().getInt(0)
      assert(got == -1)
    } finally spark.conf.unset("spark.graft.hudi.group.targetRows")
  }

  test("truncatePartition drops the partition's groups; travel and refill intact") {
    val s2 = spark
    import s2.implicits._
    val dir = new java.io.File("target/hudi/mor_truncpart").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    HudiLite.createTable(spark, dir,
      Seq((1L, "A", 10), (2L, "A", 20), (3L, "B", 30)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "001")
    HudiLite.upsert(spark, dir, Seq((1L, "A", 11)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "002")
    def state(at: Option[String] = None): Map[Long, Int] =
      HudiLite.readSnapshotMor(spark, dir, Seq("k"), instant = at)
        .select("k", "v").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(HudiLite.truncatePartition(dir, "A", "003") == 3L)
    assert(state() == Map(3L -> 30), "the partition's groups drop atomically")
    // time travel BEFORE the truncate still sees the partition + its logs
    assert(state(Some("002")) == Map(1L -> 11, 2L -> 20, 3L -> 30))
    // absent partition: standard no-op
    assert(HudiLite.truncatePartition(dir, "ZZ", "004") == -1L)
    // REFILL through lazy group creation: a truncated key re-inserts
    // as a new key — no pre-truncate state resurfaces
    HudiLite.upsert(spark, dir, Seq((1L, "A", 77)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "005")
    assert(state() == Map(1L -> 77, 3L -> 30), "refill lands fresh")
    // the incremental feed refuses across the partition replace
    val e = intercept[Exception] {
      HudiLite.readIncrementalMor(spark, dir, "001", "005")
    }
    assert(e.getMessage.contains("replace"), e.getMessage)
    // clean reclaims the truncated partition's orphaned slices
    val reclaimed = HudiLite.clean(dir)
    assert(reclaimed.nonEmpty, "truncated slices must reclaim")
    assert(state() == Map(1L -> 77, 3L -> 30), "state intact after clean")
  }

  test("cleaner reclaims superseded slices after compaction; state intact") {
    val s2 = spark
    import s2.implicits._
    val dir = new java.io.File("target/hudi/mor_clean").getAbsolutePath
    HudiLite.createTable(spark, dir,
      (1L to 10L).map(k => (k, "A", k.toInt)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "001", groupsPerPart = 2)
    HudiLite.upsert(spark, dir, Seq((2L, "A", 200)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "002")
    HudiLite.compact(spark, dir, Seq("k"), "003")
    def state: Map[Long, Int] = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val before = state
    val deleted = HudiLite.clean(dir)
    assert(deleted.exists(_.endsWith(".parquet")) &&
      deleted.exists(_.contains(".log.")),
      s"compaction-superseded base + its log must die: $deleted")
    assert(state == before, "the latest slices survive cleaning")
    // time travel to the cleaned instant now fails loudly
    intercept[Exception] {
      HudiLite.readSnapshotMor(spark, dir, Seq("k"),
        instant = Some("002")).collect()
    }
    // a live log's sidecar survives cleaning (its name holds ".log.")
    HudiLite.upsert(spark, dir, Seq((3L, "A", 300)).toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "004")
    HudiLite.clean(dir)
    val logs = HudiLite.planFilesMor(dir).flatMap(_._5)
    assert(logs.nonEmpty && logs.forall(l => new java.io.File(l + ".bloom").exists()),
      s"live logs lost their sidecars: $logs")
  }

  test("exactly-once batch sink: create-then-upsert, redelivery skipped") {
    val s2 = spark
    import s2.implicits._
    val dir = new java.io.File("target/hudi/mor_batch_sink").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    assert(HudiLite.appendBatch(spark, dir,
      Seq((1L, "A", 1), (2L, "A", 2)).toDF("k", "p", "v"),
      Seq("k"), "p", batchId = 0L).contains("001"))
    assert(HudiLite.appendBatch(spark, dir,
      Seq((2L, "A", 200), (3L, "A", 3)).toDF("k", "p", "v"),
      Seq("k"), "p", batchId = 1L).contains("002"))
    // redelivery of either batch is a no-op
    assert(HudiLite.appendBatch(spark, dir,
      Seq((9L, "A", 9)).toDF("k", "p", "v"), Seq("k"), "p", 0L).isEmpty)
    assert(HudiLite.appendBatch(spark, dir,
      Seq((9L, "A", 9)).toDF("k", "p", "v"), Seq("k"), "p", 1L).isEmpty)
    assert(HudiLite.committedBatchIds(dir) == Set(0L, 1L))
    assert(HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 1), (2L, 200), (3L, 3)))
    // the re-check under the commit CAS: a sink whose pre-check RACED a
    // concurrent commit of the same batch (so its instant resolved
    // fresh, here "003") must skip rather than double-commit — upsert
    // called directly with an already-committed id returns false, and
    // neither a timeline instant nor staged log files remain
    assert(!HudiLite.upsert(spark, dir,
      Seq((7L, "A", 7)).toDF("k", "p", "v"), Seq("k"), "p", "003",
      batchId = Some(1L)),
      "re-check under the CAS must skip an already-committed batch")
    assert(!new java.io.File(dir, ".hoodie/003.deltacommit").exists())
    assert(HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L),
      "the skipped batch must not surface")
  }

  test("concurrent upsert/upsert: loser re-stages on a fresh instant, both land") {
    val s2 = spark
    import s2.implicits._
    val dir = new java.io.File("target/hudi/mor_concurrent").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    HudiLite.createTable(spark, dir,
      Seq((1L, "A", 1), (2L, "A", 2), (3L, "B", 3)).toDF("k", "p", "v"),
      Seq("k"), "p", "001")
    // writer X stages instant 002 for {2 -> 200, 10(new)}; before its
    // CAS, writer Y commits 002 upserting {3 -> 300, 11(new)}; X must
    // re-stage against Y's state and land on 003
    assert(HudiLite.upsert(spark, dir,
      Seq((2L, "A", 200), (10L, "A", 10)).toDF("k", "p", "v"),
      Seq("k"), "p", "002",
      beforeCommit = () => {
        HudiLite.upsert(spark, dir,
          Seq((3L, "B", 300), (11L, "B", 11)).toDF("k", "p", "v"),
          Seq("k"), "p", "002"): Unit
      }))
    assert(new java.io.File(dir, ".hoodie/002.deltacommit").exists() &&
      new java.io.File(dir, ".hoodie/003.deltacommit").exists(),
      "winner at 002, retried loser at 003")
    val got = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == Set((1L, 1), (2L, 200), (3L, 300), (10L, 10), (11L, 11)),
      s"no lost update across the interleave: $got")
    // the loser's first staging (logs and their sidecars) is gone: every
    // sidecar belongs to a live file, and every live log has one
    val files = org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir),
      null, true).asScala.map(_.getAbsolutePath).toSet
    val orphans = files.filter(f => f.endsWith(".bloom") &&
      !files.contains(f.stripSuffix(".bloom")))
    assert(orphans.isEmpty, s"orphan sidecars after the lost CAS: $orphans")
    val liveLogs = HudiLite.planFilesMor(dir).flatMap(_._5)
    assert(liveLogs.size == 2 && liveLogs.forall(l => files.contains(l + ".bloom")),
      s"live logs without a sidecar: $liveLogs")
  }

  test("bloom index prunes the upsert's base scan to candidate files") {
    val s2 = spark
    import s2.implicits._
    val dir = new java.io.File("target/hudi/mor_bloom").getAbsolutePath
    HudiLite.createTable(spark, dir,
      (1L to 400L).map(k => (k, if (k % 2 == 0) "A" else "B", k.toInt))
        .toDF("k", "p", "v"),
      keyCols = Seq("k"), partCol = "p", instant = "001", groupsPerPart = 4)
    val slices = HudiLite.planFilesMor(dir)
    assert(slices.size >= 4, s"needs several groups to prune: $slices")
    assert(slices.forall(s => new java.io.File(s._1 + ".bloom").exists()),
      "every base file carries its bloom sidecar")
    // one existing key: candidates ⊊ all groups (bloom negatives are
    // exact; 8 KiB blooms over ≤100 keys ≈ zero false positives)
    val one = Seq((2L, "A", 999)).toDF("k", "p", "v")
    val cand = HudiLite.candidateBaseFids(spark, one, Seq("k"), Some("p"), slices).fids
    assert(cand.nonEmpty && cand.size < slices.size,
      s"one key must not candidate every group: ${cand.size}/${slices.size}")
    // an all-new batch: zero candidates, upsert still routes + lands
    val fresh = Seq((900L, "A", 1), (901L, "B", 2)).toDF("k", "p", "v")
    assert(HudiLite.candidateBaseFids(spark, fresh, Seq("k"), Some("p"), slices).fids.isEmpty,
      "bloom-negative keys are genuinely new — no base file opens")
    HudiLite.upsert(spark, dir, fresh, Seq("k"), "p", "002")
    HudiLite.upsert(spark, dir, one, Seq("k"), "p", "003")
    val got = HudiLite.readSnapshotMor(spark, dir, Seq("k"))
      .select("k", "v").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(2L) == 999 && got(900L) == 1 && got(901L) == 2 &&
      got.size == 402)
    // compaction refreshes blooms on the new bases
    HudiLite.compact(spark, dir, Seq("k"), "900")
    val after = HudiLite.planFilesMor(dir)
    assert(after.forall(s => new java.io.File(s._1 + ".bloom").exists()),
      "compacted bases re-carry blooms (folded log keys bloom-visible)")
    // the log-born key now candidates through the NEW base's bloom
    val cand2 = HudiLite.candidateBaseFids(spark,
      Seq((900L, "A", 0)).toDF("k", "p", "v"), Seq("k"), Some("p"), after).fids
    assert(cand2.nonEmpty, "post-compaction blooms must cover folded keys")
  }

  test("log sidecars: log-only keys update in place; tables without " +
    "sidecars route the same; a re-inserted key still trips the move guard") {
    val s2 = spark
    import s2.implicits._
    def state(dir: String): Seq[(Long, String, Int)] =
      HudiLite.readSnapshotMor(spark, dir, Seq("k")).select("k", "p", "v")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        .sortBy(_._1).toSeq
    def dropLogSidecars(dir: String): Unit =
      org.apache.commons.io.FileUtils.listFiles(new java.io.File(dir), null, true)
        .asScala.filter(f => f.getName.contains(".log.") && f.getName.endsWith(".bloom"))
        .foreach(_.delete())
    // the owning group of each key's records, from the live logs
    def logGroups(dir: String): Map[Long, Set[String]] =
      HudiLite.planFilesMor(dir).flatMap(s => s._5.flatMap { l =>
        HudiLite.parseLogBytes(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(l))).flatMap(_._4)
          .map(r => r.get("k").asInstanceOf[Long] -> s._3)
      }).groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).toSet }
    val base = (1L to 20L).map(k => (k, if (k % 2 == 0) "A" else "B", k.toInt))
    def run(dir: String, stripSidecars: Boolean): Unit = {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      HudiLite.createTable(spark, dir, base.toDF("k", "p", "v"), Seq("k"), "p", "001")
      def step(): Unit = if (stripSidecars) dropLogSidecars(dir)
      HudiLite.upsert(spark, dir, Seq((21L, "A", 21), (22L, "B", 22), (2L, "A", 200))
        .toDF("k", "p", "v"), Seq("k"), "p", "002"); step()
      HudiLite.upsert(spark, dir, Seq((21L, "A", 210), (22L, "B", 220), (23L, "A", 23))
        .toDF("k", "p", "v"), Seq("k"), "p", "003"); step()
      HudiLite.mergeCommit(spark, dir, Seq((23L, "A", 230)).toDF("k", "p", "v"),
        Seq(22L).toDF("k"), Seq("k"), "p", "004"): Unit; step()
      HudiLite.upsert(spark, dir, Seq((22L, "A", 2200), (21L, "A", 2100))
        .toDF("k", "p", "v"), Seq("k"), "p", "005"); step()
    }
    val model = (base ++ Seq((2L, "A", 200), (21L, "A", 2100), (22L, "A", 2200),
      (23L, "A", 230))).map(t => t._1 -> t).toMap.values.toSeq.sortBy(_._1)
    val withSidecars = new java.io.File("target/hudi/mor_logbloom").getAbsolutePath
    val stripped = new java.io.File("target/hudi/mor_logbloom_none").getAbsolutePath
    run(withSidecars, stripSidecars = false)
    run(stripped, stripSidecars = true)
    assert(state(withSidecars) == model, "one row per key, latest value wins")
    assert(state(stripped) == model, "no log sidecars: the same table")
    // the log-only keys 21 and 23 stayed in their first group; 22 was
    // deleted and re-inserted into partition A, a group of its own
    val groups = logGroups(withSidecars)
    assert(groups(21L).size == 1 && groups(23L).size == 1, s"$groups")
    assert(groups == logGroups(stripped), "the same routing without sidecars")
    // every writer's log carries a sidecar holding every key it logs
    val logs = HudiLite.planFilesMor(withSidecars).flatMap(_._5)
    logs.foreach { l =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(l + ".bloom"))
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val bits = Array.fill(bytes.length / 8)(bb.getLong)
      val keys = HudiLite.parseLogBytes(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(l))).flatMap(_._4).map(_.get("k").toString)
      assert(bytes.length < 1024 && keys.forall(HudiLite.bloomContains(bits, _, HudiLite.LogBloomHashes)),
        s"$l: ${bytes.length}-byte sidecar")
    }
    // the re-inserted key lives in A now: an upsert moving it back to
    // B is refused, with and without log sidecars
    for (dir <- Seq(withSidecars, stripped)) {
      val e = intercept[Exception] {
        HudiLite.upsert(spark, dir, Seq((22L, "B", 1)).toDF("k", "p", "v"),
          Seq("k"), "p", "006")
      }
      assert(e.getMessage.contains("across partitions"), e.getMessage)
    }
    // logs written by writeDeltaCommits carry no sidecar: their groups
    // stay candidates, so a key that lives only in such a log updates
    // in place
    val fixture = new java.io.File("target/hudi/mor_logbloom_fixture").getAbsolutePath
    HudiLite.writeFixtureTable(spark, fixture, Seq((1L, "A", 1)).toDF("k", "p", "v"),
      Seq(HudiLite.Commit("001", Seq(("A", "f1", Seq(Row(1L, "A", 10))),
        ("A", "f2", Seq(Row(2L, "A", 20)))))))
    HudiLite.writeDeltaCommits(fixture, Seq(HudiLite.DeltaCommit("002", Seq(
      ("A", "f1", "001", Seq(HudiLite.LogBlock(HudiLite.BlockData, "002",
        Seq(Row(9L, "A", 90)), schema)))))))
    HudiLite.upsert(spark, fixture, Seq((9L, "A", 99), (1L, "A", 11))
      .toDF("k", "p", "v"), Seq("k"), "p", "003")
    assert(state(fixture) == Seq((1L, "A", 11), (2L, "A", 20), (9L, "A", 99)))
    assert(logGroups(fixture)(9L) == Set("f1"), "the log-only key stays in f1")
  }

  test("log block framing round-trips multi-block files byte-exactly") {
    val path = new java.io.File("target/hudi/mor_block_rt.log").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    HudiLite.writeLogFile(path, Seq(
      HudiLite.LogBlock(HudiLite.BlockData, "010",
        Seq(Row(7L, null, 70), Row(8L, "X", null)), schema),
      HudiLite.LogBlock(HudiLite.BlockDelete, "010", Seq(Row(7L)), keySchema)))
    val blocks = HudiLite.parseLogBytes(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))
    assert(blocks.map(b => (b._1, b._2, b._3, b._4.size)) ==
      Seq((HudiLite.BlockData, "010", 0L, 2), (HudiLite.BlockDelete, "010", 1L, 1)))
    val r0 = blocks.head._4.head
    assert(r0.get("k") == 7L && r0.get("p") == null && r0.get("v") == 70)
  }
}
