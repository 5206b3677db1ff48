package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side: set-up, the timed closed loop, the
  * traced passes and the output checks of one run. It writes
  * `record.json` (and `spans.jsonl` when traced) to `--out`; `run.py`
  * turns the record into the reported metrics.
  *
  * Usage: perfbench.Main --workload analytics|lakehouse_dml --data DIR
  *   [--base DIR] --seed N --seconds S --trace 0|1 --out DIR
  *   [--setups N] [--passes N]
  */
object Main {
  /** Session set-ups per run; setup_s takes their median. */
  val SetupReps = 2
  /** Timed passes per run, at the least. */
  val MinPasses = 4

  final case class Exec(id: Int, pass: Int, traced: Boolean, stmt: Stmt,
                        startMs: Double, buildEndMs: Double, endMs: Double, cpuS: Double,
                        error: Option[String]) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  private val n0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - n0) / 1e6

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  /** CPU time the hypervisor gave to other guests, all CPUs, seconds. */
  def stealS(): Double =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toDouble / 100
    catch { case _: Throwable => 0.0 }

  /** CPU time of the whole JVM: every thread, compiler and GC included. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def errorOf(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = Option(t.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")
    s"${t.getClass.getName}: $msg" +
      (if (root ne t) s" (cause ${root.getClass.getName}: ${Option(root.getMessage).getOrElse("")
        .linesIterator.take(2).mkString(" | ")})" else "")
  }

  /** Row count plus an order-independent hash of every row, computed
    * by the engine. Used to show repeated executions agree. */
  def digest(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h =
      try xxhash64(d.columns.toIndexedSeq.map(col): _*)
      catch { case _: Throwable => xxhash64(to_json(struct(d.columns.toIndexedSeq.map(col): _*))) }
    val r = d.agg(count(lit(1)), sum(h.cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }

  def main(args: Array[String]): Unit = run(args)

  /** One run of one workload. */
  def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wname = a("workload")
    val dataDir = a("data")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val setupReps = a.get("setups").fold(SetupReps)(_.toInt)
    val minPasses = a.get("passes").fold(MinPasses)(_.toInt)
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val cores = Runtime.getRuntime.availableProcessors()
    val machine = mutable.LinkedHashMap[String, Any](
      "nproc" -> cores, "cores_used" -> cores,
      "jvm_version" -> System.getProperty("java.version"),
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "loadavg_start" -> loadavg())

    val workload: Workload = wname match {
      case "analytics" => new AnalyticsWorkload(dataDir)
      case "lakehouse_dml" => new LakehouseWorkload(dataDir, sliceRows = 5000, insertRows = 200)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val rng = new Random(seed)
    val failures = mutable.ArrayBuffer.empty[Map[String, Any]]

    /** Issue one statement. Its output goes to the noop sink, or to
      * parquet at `sink` in the warm-up pass, for the output checks. */
    def issue(id: Int, pass: Int, tr: Boolean, s: Stmt, spark: SparkSession,
              sink: Option[String] = None): Exec = {
      val c0 = cpuNs()
      val t0 = nowMs()
      var tb = t0
      val err = try {
        val df = s.build(spark)
        tb = nowMs()
        sink match {
          case Some(p) => df.write.mode("overwrite").parquet(p)
          case None => df.write.format("noop").mode("overwrite").save()
        }
        if (tr) collector.qes.add(Collector.event(df.queryExecution, None))
        None
      } catch { case t: Throwable => Some(errorOf(t)) }
      val e = Exec(id, pass, tr, s, t0, tb, nowMs(), (cpuNs() - c0) / 1e9, err)
      err.foreach(m => failures += Map("key" -> s.key, "pass" -> pass, "error" -> m))
      e
    }
    lazy val collector = new Collector

    // ---- set-up: the session is built setupReps times (the last one
    // stays for the timed loop); then every input is loaded and the
    // untimed warm-up passes run
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    val jit0 = jitMs()
    for (_ <- 0 until setupReps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = GraftSession.local(cores)
      val t1 = System.nanoTime()
      GraftSession.install(spark)
      val t2 = System.nanoTime()
      spark.catalog.listDatabases().count()
      val t3 = System.nanoTime()
      setups += Map("session_s" -> (t3 - t0) / 1e9, "session.build_s" -> (t1 - t0) / 1e9,
        "session.install_s" -> (t2 - t1) / 1e9, "session.first_catalog_s" -> (t3 - t2) / 1e9)
    }
    val loaded = workload.load(spark)
    val results = out.resolve("results")
    // the first warm-up pass writes every query's output for the checks;
    // the later ones execute each all-pairs dedup statement again, and
    // their digests must repeat the first output's
    val repeatDigests = mutable.Map.empty[String, Seq[Try[(Long, String)]]].withDefaultValue(Nil)
    val w0 = System.nanoTime()
    for (w <- 0 until workload.warmupPasses) workload.nextPass(spark, rng).foreach { s =>
      if (w == 0) issue(-1, -1, false, s, spark,
        sink = if (s.kind == "query") Some(results.resolve(s.key).toString) else None)
      else if (a.contains("base") && AnalyticsWorkload.allPairsKeys(s.key))
        repeatDigests(s.key) :+= Try(digest(s.build(spark)))
      else issue(-1, -1, false, s, spark)
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[perfbench] set-up done, warm-up $warmupS%.1f s")
    val jitSetupMs = jitMs() - jit0

    // ---- timed closed loop: one client, next statement only after the
    // previous returns; whole passes until the deadline
    val execs = mutable.ArrayBuffer.empty[Exec]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val lake = workload match { case l: LakehouseWorkload => Some(l); case _ => None }
    def dirFiles(): Map[String, Long] = lake.toSeq.flatMap { l =>
      l.formats.flatMap { f =>
        val root = Paths.get(l.tableDir(f))
        if (!Files.exists(root)) Nil
        else Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => p.toString -> Files.size(p)).toSeq
      }
    }.toMap
    var lakeWritten = 0L
    var lakeSubmittedBytes = 0L
    var id = 0
    val gcStart = gcMs()
    val jitStart = jitMs()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    // at least minPasses, so the medians pass over the first timed pass,
    // which still runs partly compiled code; in a traced run, passes
    // alternate untraced / traced so the run itself shows the tracing
    // overhead, and untraced passes on both sides of a traced one cancel
    // the drift of a warming JVM
    while (pass < minPasses || System.nanoTime() < deadline) {
      val tr = traced && pass % 2 == 1
      val stmts = workload.nextPass(spark, rng)
      val before = if (traced && lake.isDefined) dirFiles() else Map.empty[String, Long]
      if (tr) { spark.sparkContext.addSparkListener(collector); spark.listenerManager.register(collector) }
      val la0 = loadavg()
      val steal0 = stealS()
      val jit0 = jitMs()
      val p0 = nowMs()
      stmts.foreach { s => execs += issue(id, pass, tr, s, spark); id += 1 }
      val p1 = nowMs()
      if (tr) {
        collector.drain()
        spark.sparkContext.removeSparkListener(collector)
        spark.listenerManager.unregister(collector)
      }
      lake.filter(_ => traced).foreach { l =>
        val after = dirFiles()
        lakeWritten += after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum
        lakeSubmittedBytes += l.formats.size * parquetBytes(spark, l.lastSubmitted, l.schema, out)
      }
      passes += Map("pass" -> pass, "traced" -> tr, "start_ms" -> p0, "end_ms" -> p1,
        "seconds" -> (p1 - p0) / 1e3, "loadavg_start" -> la0, "loadavg_end" -> loadavg(),
        "jit_s" -> (jitMs() - jit0) / 1e3, "cpu_steal_s" -> (stealS() - steal0))
      pass += 1
    }
    val gcTimedMs = gcMs() - gcStart
    val jitTimedMs = jitMs() - jitStart

    val checks0 = System.nanoTime()
    // ---- output checks, outside the timed region
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    workload match {
      case q: AnalyticsWorkload =>
        // the warm-up output is checked against the oracle on the same
        // data, except for the all-pairs dedup oracles: those run on the
        // 1x base data, and the replicated output must repeat exactly in
        // the later warm-up passes
        q.keys.foreach { k =>
          try {
            val warm = results.resolve(k).toString
            val base = a.get("base").filter(_ => AnalyticsWorkload.allPairsKeys.contains(k))
            val repeats = base.toSeq.flatMap(_ =>
              digest(spark.read.parquet(warm)) +: repeatDigests(k).map(_.get))
            val oracleOut = base.map { b =>
              val p = results.resolve(s"${k}_base").toString
              SparkEntry.queries(k)(spark, b).write.mode("overwrite").parquet(p)
              p
            }.getOrElse(warm)
            checks += Map("key" -> k, "parquet" -> oracleOut, "oracle_dir" -> base.getOrElse(dataDir),
              "oracle_sql" -> SparkEntry.oracleSql.get(k), "rows" -> repeats.headOption.map(_._1),
              "repeat_digests" -> repeats.map(d => s"${d._1}:${d._2}"),
              "repeat_ok" -> (repeats.distinct.size <= 1))
          } catch {
            case t: Throwable =>
              checks += Map("key" -> k, "repeat_ok" -> false, "error" -> errorOf(t))
          }
        }
      case l: LakehouseWorkload =>
        l.formats.foreach { f =>
          val m = try l.mismatch(spark, f) catch { case t: Throwable => Some(errorOf(t)) }
          checks += Map("key" -> s"${f}_model", "model_ok" -> m.isEmpty, "error" -> m)
        }
    }

    machine("check_s") = (System.nanoTime() - checks0) / 1e9
    // ---- the record
    val timed = execs.toSeq
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def med(xs: Seq[Double]): Double = Stats.median(xs)
    setups.head.keys.toSeq.sorted.foreach(k => layer(k) = med(setups.map(_(k)).toSeq))
    layer("setup.warmup_s") = warmupS
    layer ++= loaded
    layer("jvm.jit_s") = jitSetupMs / 1e3
    layer("jvm.gc_s") = gcTimedMs / 1e3 / passes.size
    layer("jvm.jit_timed_s") = jitTimedMs / 1e3 / passes.size
    layer("jvm.heap_peak_mb") = heapPeakMb()
    layer("jvm.peak_rss_mb") = peakRssMb()
    if (workload.isInstanceOf[AnalyticsWorkload])
      layer("ops.dedup_pairs_out") = checks
        .filter(_("key") == "ml_dedup_minhash")
        .flatMap(_("rows").asInstanceOf[Option[Long]]).map(_.toDouble).sum

    val plainOk = timed.filter(e => !e.traced && e.error.isEmpty)
    val (tailS, tailPct) = Stats.tail(plainOk.map(_.seconds))
    val byStmt = plainOk.groupBy(_.stmt.key).values.toSeq
    val stmtMedians = byStmt.map(es => med(es.map(_.seconds)))
    val stmtCpuMedians = byStmt.map(es => med(es.map(_.cpuS)))
    // a pass is the pass a client sees when every statement takes its
    // median time: a sum of per-statement medians over a handful of
    // passes uses every sample, where the median of whole passes keeps
    // the noise of whichever single pass it picks. The CPU pass is the
    // gated figure: when the hypervisor starved the VM for minutes, wall
    // time grew by up to 90% and CPU time by 20%
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (med(setups.map(_("session_s")).toSeq) + loaded.values.sum + warmupS),
      "pass_cpu_s" -> stmtCpuMedians.sum,
      "stmt_cpu_geomean_s" -> Stats.geomean(stmtCpuMedians),
      "pass_s" -> stmtMedians.sum,
      "stmt_geomean_s" -> Stats.geomean(stmtMedians),
      "stmt_p50_s" -> med(plainOk.map(_.seconds)),
      "stmt_tail_s" -> tailS)
    val tailInfo = Map("percentile" -> tailPct, "samples" -> plainOk.size)
    if (traced) layer ++= Attribution.layers(workload, timed, passes.toSeq, collector, cores)
    lake.filter(_ => traced).foreach { l =>
      val files = dirFiles()
      def isMeta(p: String): Boolean = {
        val parts = p.split('/').toSet
        Seq("metadata", "_delta_log", ".hoodie", "manifest", "snapshot", "schema", "index")
          .exists(parts.contains) || p.endsWith(".json") || p.endsWith(".crc") || p.endsWith(".avro")
      }
      val (meta, data) = files.partition { case (p, _) => isMeta(p) }
      layer("ops.lake_data_files") = data.size.toDouble
      layer("ops.lake_meta_files") = meta.size.toDouble
      layer("ops.lake_data_bytes") = data.values.sum.toDouble
      layer("ops.lake_meta_bytes") = meta.values.sum.toDouble
      val liveBytes = parquetBytes(spark, l.modelRows, l.schema, out)
      layer("space_amp") = files.values.sum.toDouble / (l.formats.size * liveBytes)
      layer("write_amp") = lakeWritten.toDouble / lakeSubmittedBytes
    }
    machine("loadavg_end") = loadavg()
    // noisy: loadavg above the core count, or a tenth of the CPU time
    // stolen by the hypervisor during a pass
    machine("noisy") = (passes.map(_("loadavg_end").asInstanceOf[Double]) ++
      Seq(machine("loadavg_start").asInstanceOf[Double], machine("loadavg_end").asInstanceOf[Double]))
      .exists(_ > cores) || passes.exists(p => p("cpu_steal_s").asInstanceOf[Double] >
        0.1 * cores * p("seconds").asInstanceOf[Double])
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload.name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "machine" -> machine,
      "setups" -> setups,
      "passes" -> passes,
      "executions" -> timed.map(e => Map("key" -> e.stmt.key, "kind" -> e.stmt.kind,
        "fmt" -> e.stmt.fmt, "pass" -> e.pass, "traced" -> e.traced, "seconds" -> e.seconds,
        "build_s" -> (e.buildEndMs - e.startMs) / 1e3, "cpu_s" -> e.cpuS, "error" -> e.error)),
      "failures" -> failures,
      "checks" -> checks,
      "end_to_end" -> e2e,
      "stmt_tail" -> tailInfo,
      "layers" -> layer)
    if (traced) Spans.write(out.resolve("spans.jsonl"), timed, collector)
    Files.writeString(out.resolve("record.json"), Json.write(record))
    spark.stop()
  }

  /** Bytes of `rows` written once as one plain, snappy parquet file. */
  def parquetBytes(spark: SparkSession, rows: Seq[org.apache.spark.sql.Row],
                   schema: org.apache.spark.sql.types.StructType, out: Path): Long = {
    if (rows.isEmpty) return 0L
    val p = out.resolve("plain_parquet")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1)
      .write.mode("overwrite").parquet(p.toString)
    Files.walk(p).iterator().asScala.filter(f => f.toString.endsWith(".parquet"))
      .map(Files.size).sum
  }
}

/** The run that trains the class-data sharing archive: a short run of
  * each workload in one JVM, so the archive holds the classes both load.
  * Usage: perfbench.Train (WORKLOAD DATA_DIR OUT_DIR)... */
object Train {
  def main(args: Array[String]): Unit =
    args.grouped(3).foreach { case Array(w, data, out) =>
      Main.run(Array("--workload", w, "--data", data, "--seed", "0", "--seconds", "0",
        "--trace", "0", "--setups", "1", "--passes", "1", "--out", out))
    }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest order statistic with at least ten samples beyond it,
    * with its percentile; the maximum when there are fewer than eleven. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    if (xs.isEmpty) return (Double.NaN, Double.NaN)
    val s = xs.sorted
    val i = (s.size - 11) max 0 min (s.size - 1)
    (s(if (s.size >= 11) i else s.size - 1), if (s.size >= 11) 100.0 * (i + 1) / s.size else 100.0)
  }

  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
