package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The facade is the user-facing contract — exercise each entry point
  * through the public surface. */
class GraftFacadeSpec extends AnyFunSuite {
  import TestSpark._

  test("facade: sql functions + models + ops reachable") {
    Graft.registerTables(spark, sf)
    assert(spark.sql(
      "SELECT bitmap_count(bitmap_agg(c_custkey)) AS n FROM customer")
      .head().getLong(0) > 0)

    val docs = Tables.load(spark, sf, "documents")
    assert(Graft.minhashDedup(docs, "doc_id", "text").columns
      .sameElements(Array("id_a", "id_b", "jaccard")))

    val emb = Tables.load(spark, sf, "embeddings")
    assert(Graft.annTopK(emb, emb.filter(col("vec_id") < 2), 3).count() == 6)

    val rec = Graft.recursive(
      spark.range(1, 2).select(col("id").cast("int").as("n")),
      d => d.select((col("n") * 2).as("n")).filter(col("n") <= 16))
    assert(rec.collect().map(_.getInt(0)).sorted.sameElements(Array(1, 2, 4, 8, 16)))

    assert(docs.select(Graft.qualityScore(col("text"))).count() > 0)
  }

  test("facade: IVF search, batch decode, named datetime/HOF functions") {
    Graft.registerTables(spark, sf)
    val emb = Tables.load(spark, sf, "embeddings")
    val ivf = Graft.annTopKIvf(emb, emb.filter(col("vec_id") < 2),
      emb.filter(col("vec_id") < 8), nprobe = 2, k = 3)
    assert(ivf.columns.sameElements(Array("q_id", "rn", "vec_id", "sim")))
    assert(ivf.groupBy("q_id").count().collect().forall(_.getLong(1) <= 3))

    val docs = Tables.load(spark, sf, "documents").limit(5)
      .withColumn("blob", graft.ops.MultimodalOps.makeBlob(lit("IMG0"), col("text")))
    val dec = graft.ops.MultimodalOps.decodeBatch(docs, "doc_id", "blob")
    assert(dec.columns.sameElements(Array("doc_id", "format", "width", "height", "n_bytes")))
    assert(dec.count() == 5)

    // ceil of an unaligned instant moves UP to the next boundary (not
    // date_trunc), and an aligned instant is a fixed point
    assert(spark.sql(
      """SELECT hour_ceil(TIMESTAMP '2026-08-12 09:05:03') = TIMESTAMP '2026-08-12 10:00:00'
           AND minute_ceil(TIMESTAMP '2026-08-12 09:05:03') = TIMESTAMP '2026-08-12 09:06:00'
           AND day_ceil(TIMESTAMP '2026-08-12 09:05:03') = TIMESTAMP '2026-08-13 00:00:00'
           AND hour_ceil(TIMESTAMP '2026-08-12 09:00:00') = TIMESTAMP '2026-08-12 09:00:00'
           AS ok""").head().getBoolean(0))
    // strcmp: NULL propagates (MySQL/Doris), not ELSE-1
    assert(spark.sql("SELECT strcmp('a', CAST(NULL AS STRING)) AS s").head().isNullAt(0))
    assert(spark.sql(
      "SELECT array_exists(array(1, 2, 3), x -> x = 2) AS e").head().getBoolean(0))
  }

  test("facade: week() pins MySQL mode-0 vectors incl. Sunday-start years") {
    // Pinned MySQL WEEK(d, 0) outputs (independent of the SQL-UDF
    // arithmetic; ADVICE r03 — 2017/2023 start on Sunday, so there is
    // no week 0 and Jan 1-7 are week 1)
    val vec = Seq(
      "2023-01-01" -> 1, "2023-01-07" -> 1, "2023-01-08" -> 2,
      "2023-12-31" -> 53, "2017-01-01" -> 1, "2017-01-02" -> 1,
      "2024-01-01" -> 0, "2024-01-06" -> 0, "2024-01-07" -> 1,
      "2024-12-31" -> 52, "2020-05-15" -> 19, "2022-01-01" -> 0,
      "2022-01-02" -> 1
    )
    vec.foreach { case (d, w) =>
      assert(spark.sql(s"SELECT week(DATE '$d') AS w").head().getInt(0) == w,
        s"week($d)")
    }
    // sign-safe ceil: pre-1970 instants ceil UP toward zero
    assert(spark.sql(
      """SELECT hour_ceil(TIMESTAMP '1969-12-31 23:30:00') = TIMESTAMP '1970-01-01 00:00:00'
           AND minute_ceil(TIMESTAMP '1969-12-31 23:30:30') = TIMESTAMP '1969-12-31 23:31:00'
           AND day_ceil(TIMESTAMP '1969-12-30 12:00:00') = TIMESTAMP '1969-12-31 00:00:00'
           AND second_ceil(TIMESTAMP '1969-12-31 23:30:30.5') = TIMESTAMP '1969-12-31 23:30:31'
           AND hour_ceil(TIMESTAMP '1969-12-31 23:00:00') = TIMESTAMP '1969-12-31 23:00:00'
           AS ok""").head().getBoolean(0))
    // json mutation no-op contract (MySQL): valid non-object roots and
    // nested paths return the document unchanged; '$' root follows
    // set/replace-substitute, insert-noop
    val jm = spark.sql("""
      SELECT json_set('[1,2]', '$.k', '9') AS a,
             json_replace('{"k":1}', '$.a.b', '9') AS b,
             json_set('{"k":1}', '$', '42') AS c,
             json_insert('{"k":1}', '$', '42') AS d,
             json_set('not json', '$.k', '9') AS e
      """).head()
    assert(jm.getString(0) == "[1,2]")
    assert(jm.getString(1) == """{"k":1}""")
    assert(jm.getString(2) == "42")
    assert(jm.getString(3) == """{"k":1}""")
    assert(jm.isNullAt(4))
  }

  test("facade: reference edge semantics — sub_bitmap, bitmap_from_string, murmur seed") {
    // sub_bitmap: negative offset counts from the end; out-of-range and
    // non-positive limits are NULL (BitmapValue::offset_limit contract)
    val bm = spark.sql("""
      SELECT bitmap_to_string(sub_bitmap(bitmap_from_string('0,1,2,3,4'), -2, 3)) AS tail2,
             sub_bitmap(bitmap_from_string('0,1,2'), 5, 1) AS oor,
             sub_bitmap(bitmap_from_string('0,1,2'), 0, 0) AS zlim,
             sub_bitmap(bitmap_from_string('0,1,2'), -4, 2) AS negoor,
             bitmap_from_string('1,x,3') AS badtok,
             bitmap_count(bitmap_from_string('')) AS emptyn
      """).head()
    assert(bm.getString(0) == "3,4")
    assert(bm.isNullAt(1) && bm.isNullAt(2) && bm.isNullAt(3) && bm.isNullAt(4))
    assert(bm.getLong(5) == 0L)
    // murmur_hash3_32: 1-arg form matches the reference's published
    // vector for 'string1' (seed 104729); 2-arg chains strings
    val mm = spark.sql("""
      SELECT murmur_hash3_32('string1') AS h1,
             murmur_hash3_32('ab', 'c') AS chained
      """).head()
    assert(mm.getInt(0) == 1105201137)
    assert(mm.getInt(1) == graft.functions.Murmur3.hash32(
      "c".getBytes("UTF-8"),
      graft.functions.Murmur3.hash32("ab".getBytes("UTF-8"), 104729)))
    // xxhash_64: 1-arg = XXH3-64 seed 0; 2-arg chains (hash of arg N
    // seeded with the hash of args 1..N-1), mirroring the murmur forms
    val xx = spark.sql("""
      SELECT xxhash_64('hello') AS h1,
             xxhash_64('hello', 'world') AS chained,
             xxhash3_64('hello') AS alias1,
             xxhash_64('hello', NULL) AS nullprop
      """).head()
    assert(xx.getLong(0) == graft.functions.XxHash3.hashString("hello"))
    assert(xx.getLong(1) == graft.functions.XxHash3.hash(
      "world".getBytes("UTF-8"), graft.functions.XxHash3.hashString("hello")))
    assert(xx.getLong(2) == xx.getLong(0))
    assert(xx.isNullAt(3))
  }

  test("routine load: capped batches, contiguous offsets, resume is a no-op") {
    import graft.streaming.RoutineLoad
    import org.apache.spark.sql.functions._
    val out = "target/stream/out_routine_spec"
    val logDir = "target/stream/log_routine_spec"
    Seq(out, logDir).foreach { p =>
      val f = new java.io.File(p)
      if (f.exists()) new scala.reflect.io.Directory(f).deleteRecursively()
    }
    val src = Tables.load(spark, sf, "events")
    val n = src.count()
    val log = RoutineLoad.run(spark, src, "event_id",
      nPartitions = 4, nConsumers = 3, maxBatchRows = 100, out, logDir)
    // batch caps respected and everything loaded exactly once
    assert(log.forall(_.rows <= 100))
    assert(log.map(_.rows).sum == n)
    assert(spark.read.parquet(out).select(countDistinct(col("event_id")))
      .head().getLong(0) == n)
    // multiple batches actually happened (the cap bites at this sf)
    assert(log.map(_.batch).distinct.size > 1)
    // resume against the persisted log: nothing new to consume
    val again = RoutineLoad.run(spark, src, "event_id",
      nPartitions = 4, nConsumers = 3, maxBatchRows = 100, out, logDir)
    assert(again.isEmpty, s"resume re-consumed: $again")
    assert(spark.read.parquet(out).count() == n)
  }

  test("facade: connected components resolve duplicate clusters transitively") {
    import spark.implicits._
    // path 1-2-3 plus isolated pair 10-11: min-label must flow across
    // the chain (transitivity), not just within direct pairs
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("ida", "idb")
    val cc = Graft.dedupComponents(pairs, "ida", "idb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }
}
