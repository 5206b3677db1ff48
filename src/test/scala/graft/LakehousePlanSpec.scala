package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftshim.ListenerShim
import org.scalatest.funsuite.AnyFunSuite

/** Lakehouse statements plan from table metadata: no Spark job runs
  * only to list the files a table names or to infer a schema, and
  * upserts stay exact when a partition value needs URI escaping (Spark
  * reports `_metadata.file_path` escaped, the tables name files raw). */
class LakehousePlanSpec extends AnyFunSuite {
  import TestSpark._

  /** One started job: its description and, per stage, the Spark frame
    * that launched it (the first line of the stage's call site). */
  private case class Job(description: String, launchers: Seq[String])

  private def jobsOf(body: => Unit): Seq[Job] = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.add(Job(desc, js.stageInfos.map(
          _.details.linesIterator.nextOption().getOrElse("")))): Unit
      }
    }
    ListenerShim.flush(sc): Unit
    sc.addSparkListener(listener)
    try { body; ListenerShim.flush(sc): Unit }
    finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq
  }

  /** Listing jobs say so in their description; the only other jobs a
    * DataFrameReader starts while a read is planned infer its schema. */
  private def listing(j: Job) = j.description.startsWith("Listing leaf files")
  private def inference(j: Job) =
    !listing(j) && j.launchers.exists(_.contains("DataFrameReader"))

  test("iceberg and paimon INSERT + read cycles run no listing or " +
    "schema-inference job; the iceberg read's job count stays flat") {
    val parts = (0 until 6).map(i => s"p$i")
    def rows(keys: Range, v: Int) = keys.map(k =>
      s"($k, '${parts(k % parts.size)}', $v)").mkString(", ")
    spark.sql(s"SELECT * FROM VALUES ${rows(0 until 24, 0)} AS t(k, p, v)")
      .createOrReplaceTempView("lkplan_base")
    val ddl = Map(
      "iceberg" -> "PRIMARY KEY (k) PARTITIONED BY (p)",
      "paimon" -> "PRIMARY KEY (p, k) PARTITIONED BY (p)")
    ddl.foreach { case (f, d) =>
      spark.sql(s"CREATE OR REPLACE TABLE graft_$f.lkplan_t $d " +
        "AS SELECT * FROM lkplan_base").collect()
    }
    val all = Seq.newBuilder[(String, Job)]
    val icebergReadJobs = (1 to 6).map { cycle =>
      // half the keys are updates, half new; every partition gets files
      spark.sql(s"SELECT * FROM VALUES ${rows(cycle * 6 until cycle * 6 + 12, cycle)} " +
        "AS t(k, p, v)").createOrReplaceTempView("lkplan_ins")
      ddl.keys.toSeq.sorted.map { f =>
        jobsOf(spark.sql(s"INSERT INTO graft_$f.lkplan_t SELECT * FROM lkplan_ins")
          .collect()).foreach(j => all += s"${f}_insert" -> j)
        val read = jobsOf(spark.sql("SELECT p, count(*) AS n, sum(v) AS s " +
          s"FROM graft_$f.lkplan_t GROUP BY p").collect())
        read.foreach(j => all += s"${f}_read_agg" -> j)
        f -> read.size
      }.toMap.apply("iceberg")
    }
    val jobs = all.result()
    val listed = jobs.filter(x => listing(x._2))
    assert(listed.isEmpty, s"listing jobs: ${listed.mkString("; ")}")
    val inferred = jobs.filter(x => inference(x._2))
    assert(inferred.isEmpty, s"schema-inference jobs: ${inferred.mkString("; ")}")
    assert(icebergReadJobs(5) == icebergReadJobs(1),
      s"iceberg read jobs per cycle: ${icebergReadJobs.mkString(", ")}")
    // every key once: the 24 seeded plus the new ones (keys 24 to 47)
    ddl.keys.foreach { f =>
      val got = spark.sql(s"SELECT count(*), count(DISTINCT k) " +
        s"FROM graft_$f.lkplan_t").head()
      assert(got.getLong(0) == 48L && got.getLong(1) == 48L, s"$f: $got")
    }
  }

  test("hudi INSERT of new keys runs at most 5 jobs, and neither the " +
    "INSERT's nor the read's job count grows with the log count") {
    val parts = Seq("p0", "p1", "p2")
    def rows(keys: Range, v: Int) = keys.map(k =>
      s"($k, '${parts(k % parts.size)}', $v)").mkString(", ")
    spark.sql(s"SELECT * FROM VALUES ${rows(0 until 24, 0)} AS t(k, p, v)")
      .createOrReplaceTempView("lkplan_hbase")
    spark.sql("CREATE OR REPLACE TABLE graft_hudi.lkplan_hj PRIMARY KEY (k) " +
      "PARTITIONED BY (p) AS SELECT * FROM lkplan_hbase").collect()
    val counts = (1 to 6).map { cycle =>
      // every key new, every partition and file group gets a log
      spark.sql(s"SELECT * FROM VALUES ${rows(cycle * 24 until cycle * 24 + 24, cycle)} " +
        "AS t(k, p, v)").createOrReplaceTempView("lkplan_hins")
      val insert = jobsOf(spark.sql(
        "INSERT INTO graft_hudi.lkplan_hj SELECT * FROM lkplan_hins").collect())
      val read = jobsOf(spark.sql("SELECT p, count(*) AS n, sum(v) AS s " +
        "FROM graft_hudi.lkplan_hj GROUP BY p").collect())
      (insert.size, read.size)
    }
    assert(counts.forall(_._1 <= 5) && counts(5) == counts(1),
      s"(insert, read) jobs per cycle: ${counts.mkString(", ")}")
    val got = spark.sql("SELECT count(*), count(DISTINCT k) " +
      "FROM graft_hudi.lkplan_hj").head()
    assert(got.getLong(0) == 168L && got.getLong(1) == 168L, s"$got")
  }

  test("after a table's first INSERT, later INSERTs compile no new " +
    "generated class, on all four formats") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val ddl = Map(
      "iceberg" -> "PRIMARY KEY (k) PARTITIONED BY (p)",
      "delta" -> "PARTITIONED BY (p)",
      "paimon" -> "PRIMARY KEY (p, k) PARTITIONED BY (p)",
      "hudi" -> "PRIMARY KEY (k) PARTITIONED BY (p)")
    def batch(from: Int) = (from until from + 8).map(k =>
      s"($k, 'p${k % 2}', $k)").mkString(", ")
    spark.sql(s"SELECT * FROM VALUES ${batch(0)} AS t(k, p, v)")
      .createOrReplaceTempView("lkplan_cg")
    for ((f, d) <- ddl.toSeq.sortBy(_._1)) {
      val t = s"graft_$f.lkplan_cg"
      spark.sql(s"CREATE OR REPLACE TABLE $t $d AS SELECT * FROM lkplan_cg").collect()
      // each statement's answer runs to the noop sink, as perfbench's do
      def insert(i: Int): Unit = {
        spark.sql(s"SELECT * FROM VALUES ${batch(i * 8)} AS t(k, p, v)")
          .createOrReplaceTempView("lkplan_cg_ins")
        spark.sql(s"INSERT INTO $t SELECT * FROM lkplan_cg_ins")
          .write.format("noop").mode("overwrite").save()
      }
      insert(1)
      val before = compiles
      insert(2)
      insert(3)
      assert(compiles - before == 0L, s"classes compiled by the $f INSERTs")
      assert(spark.sql(s"SELECT count(*) FROM $t").head().getLong(0) == 32L, f)
    }
  }

  test("a hudi table in perfbench's shape compiles no new generated class " +
    "after its first INSERT of new keys, nor after its first update") {
    import org.apache.spark.metrics.source.CodegenMetrics
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val schema = StructType(Seq(StructField("k", LongType), StructField("c", LongType),
      StructField("p", StringType), StructField("v", DoubleType)))
    val rng = new scala.util.Random(12)
    // a key keeps its partition: an update may not move it
    def rows(keys: Seq[Long]) = spark.createDataFrame(java.util.Arrays.asList(keys.map(k =>
      Row(k, rng.nextInt(1000000).toLong, Seq("F", "O", "P")((k % 3).toInt),
        (100000 + rng.nextInt(49900000)) / 100.0)): _*), schema)
    rows(0L until 1200L).createOrReplaceTempView("lkplan_hcg_base")
    val t = "graft_hudi.lkplan_hcg"
    spark.sql(s"CREATE OR REPLACE TABLE $t PRIMARY KEY (k) PARTITIONED BY (p) " +
      "AS SELECT * FROM lkplan_hcg_base").collect()
    // one perfbench pass on the table: an INSERT, then the aggregate read
    def cycle(keys: Seq[Long]): Unit = {
      rows(keys).createOrReplaceTempView("lkplan_hcg_ins")
      Seq(s"INSERT INTO $t SELECT * FROM lkplan_hcg_ins",
        s"SELECT p, count(*) AS n, sum(c) AS s_ck, " +
          s"CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s_tp FROM $t GROUP BY p")
        .foreach(spark.sql(_).write.format("noop").mode("overwrite").save())
    }
    def fresh(i: Int) = (0 until 200).map(1000000000L + i * 200 + _)
    cycle(fresh(0))
    val before = compiles
    (1 to 4).foreach(i => cycle(fresh(i)))
    assert(compiles - before == 0L, "classes compiled by INSERTs of new keys")
    // an update opens the file groups through the key index, as a new
    // key does when a bloom sidecar falsely claims it
    cycle(0L until 200L)
    val beforeUpdates = compiles
    cycle(200L until 400L)
    assert(compiles - beforeUpdates == 0L, "classes compiled by updates")
    val got = spark.sql(s"SELECT count(*), count(DISTINCT k) FROM $t").head()
    assert(got.getLong(0) == 2200L && got.getLong(1) == 2200L, s"$got")
  }

  // a space, `%`, `=` and non-ASCII text: each is spelled differently
  // in `_metadata.file_path` than in the table's own file list
  private val awkward = Seq("4-NOT SPECIFIED", "50%off", "a=b", "ünï cødé", "plain")

  for (fmt <- Seq("iceberg", "hudi"))
    test(s"$fmt upserts keep one row per key on partition values that " +
      "need URI escaping") {
      val t = s"graft_$fmt.lkplan_awk"
      def batch(v: Int) = awkward.indices.flatMap(i => (0 until 4).map { j =>
        val k = i * 4 + j
        s"($k, '${awkward(i)}', $v)"
      }).mkString(", ")
      spark.sql(s"SELECT * FROM VALUES ${batch(0)} AS t(k, p, v)")
        .createOrReplaceTempView("lkplan_awk0")
      spark.sql(s"CREATE OR REPLACE TABLE $t PRIMARY KEY (k) PARTITIONED BY (p) " +
        "AS SELECT * FROM lkplan_awk0").collect()
      for (v <- 1 to 2) {
        spark.sql(s"SELECT * FROM VALUES ${batch(v)} AS t(k, p, v)")
          .createOrReplaceTempView("lkplan_awk1")
        spark.sql(s"INSERT INTO $t SELECT * FROM lkplan_awk1").collect()
      }
      val got = spark.sql(s"SELECT k, p, v FROM $t").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1).toSeq
      val model = awkward.indices.flatMap(i =>
        (0 until 4).map(j => (i * 4 + j, awkward(i), 2)))
      assert(got == model)
    }
}
