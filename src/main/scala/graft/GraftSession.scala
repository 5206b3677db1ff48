package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}

/** Session factory: one place that wires the graft engine into Spark —
  * the whole function surface + optimizer rules via SparkSessionExtensions,
  * and scale-appropriate defaults (AQE on, shuffle partitions sized for
  * the local core count rather than the 200 default).
  *
  * On a real cluster the same extensions class is passed via
  * `spark.sql.extensions=graft.GraftExtensions`, which carries the same
  * function surface; nothing here is local-mode-specific except the
  * master URL.
  */
object GraftSession {

  /** best-effort: drop hive_ms dirs left by dead JVMs (each run creates
    * a pid-suffixed Derby + warehouse; without this they accumulate). */
  private def cleanStaleMetastores(): Unit =
    try {
      val root = new java.io.File("target/hive_ms")
      val self = ProcessHandle.current().pid()
      Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
        val pid = f.getName.replaceAll("^(pid_|warehouse_)", "")
        if (pid.forall(_.isDigit) && pid.nonEmpty && pid.toLong != self &&
            ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false) == false) {
          def rm(x: java.io.File): Unit = {
            Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
            x.delete(); ()
          }
          rm(f)
        }
      }
    } catch { case _: Throwable => () }

  /** Engine config applied to every session [[local]] builds. */
  private def configure(b: SparkSession.Builder): SparkSession.Builder = {
    cleanStaleMetastores()
    b
    .config("spark.sql.session.timeZone", "UTC")
    // Real Hive-metastore catalog (reference: HMS external catalog,
    // fe/fe-core/.../datasource/hive/HMSExternalCatalog.java) — the jar
    // set ships spark-hive + Derby + datanucleus, so managed tables,
    // bucketed tables, and SHOW/DDL surface go through a genuine
    // HiveExternalCatalog instead of the in-memory one. Embedded Derby
    // is per-process (pid-suffixed path): concurrent JVMs (driver
    // verify + local sbt test) must not contend on one Derby lock.
    // Lazy: HMS starts only when a query first touches the catalog
    // (~6-9s once per JVM); plain parquet reads and temp views never
    // pay it.
    .config("spark.sql.catalogImplementation", "hive")
    .config("spark.hadoop.javax.jdo.option.ConnectionURL",
      s"jdbc:derby:;databaseName=target/hive_ms/pid_${ProcessHandle.current().pid()};create=true")
    .config("spark.hadoop.datanucleus.schema.autoCreateAll", "true")
    .config("spark.hadoop.hive.metastore.schema.verification", "false")
    // pid-suffixed warehouse: managed-table data dirs must not collide
    // between concurrent JVMs (each has its own Derby catalog, but the
    // default spark-warehouse/ path is shared)
    .config("spark.sql.warehouse.dir",
      s"target/hive_ms/warehouse_${ProcessHandle.current().pid()}")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
    .config("spark.sql.parquet.filterPushdown", "true")
    // events.parquet stores ts as TIMESTAMP(NANOS); Spark has no nanos
    // timestamp — read as long and convert in Tables.load.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.aggregatePushdown", "true")
    // The lakehouse readers name every live file from table metadata,
    // so there is no directory to discover; above Spark's default of 32
    // paths the named files were still listed by a Spark job. On a
    // 4-core host that job cost 2.2 s of CPU for a 108-file Paimon
    // scan, against 0.06 s to list the same files on the driver.
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      Int.MaxValue.toString)
    .config("spark.sql.cbo.enabled", "true")
    .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // Whole-stage codegen stands in for precompiled vectorized kernels,
    // so a class the engine reuses must stay compiled. Spark keeps the
    // compiled classes in one JVM-wide cache capped at 100 entries. One
    // perfbench `analytics` pass needs 146 distinct classes and a
    // `lakehouse_dml` pass about 127. At the default a timed pass
    // compiled 37-122 classes (`analytics`) and 7-57 (`lakehouse_dml`)
    // on a 4-core host, most of them compiled the pass before; at 1024
    // a pass compiles only a statement shape's first run. 100 thrashes
    // even below a working set of 100: the cache is a segmented Guava
    // cache that evicts per segment, so it can evict before it holds
    // its cap. 1024 is about 7x either working set; the cost is
    // Metaspace for the classes kept. The 146 classes belong to
    // distinct plan shapes, so no plan edit brings the set under 100.
    // This is a static conf that Spark reads once per JVM, when the
    // `CodeGenerator` object initializes (`SQLConf.get` in its static
    // initializer, spark-catalyst 4.1.2). It takes effect only if a
    // session built here exists before the JVM's first codegen;
    // CodegenCacheSpec pins it.
    .config("spark.sql.codegen.cache.maxEntries", "1024")
    .config("spark.ui.enabled", "false")
    .withExtensions(new GraftExtensions)
  }

  /** Settings written "k=v;k2=v2", as SPARK_GRAFT_CONF carries them.
    * Empty segments are skipped; an entry with no `=` or no key fails
    * naming it, so a mistyped setting is never silently left out. */
  private[graft] def parseConf(text: String): Seq[(String, String)] =
    text.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { entry =>
      entry.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => (k.trim, v.trim)
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_CONF entry '$entry' is not key=value")
      }
    }

  /** The one session factory: `local[cores]` with shuffle partitions
    * sized to the core count, the engine config, then `conf` (a caller's
    * own settings, e.g. SpillProbe's constrained memory budget), then
    * SPARK_GRAFT_CONF, each overriding the one before. [[GraftExtensions]]
    * gives the session the whole function surface. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            conf: Map[String, String] = Map.empty): SparkSession = {
    val b = configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString))
    val s = (conf.toSeq ++ sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseConf))
      .foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Gives a session built without [[GraftExtensions]] (a host
    * application's plain session) the function surface the extensions
    * inject: registers each graft function its registry lacks. A no-op
    * on a session built with the extensions. */
  def install(spark: SparkSession): SparkSession = {
    graft.functions.FunctionRegistry.install(spark)
    spark
  }
}

/** Injected engine surface (reference FE: BuiltinScalarFunctions.java
  * registry + Nereids rewrite rules — here re-expressed as Catalyst
  * extensions). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    graft.functions.FunctionRegistry.registerExtensions(e)
    // QUALIFY clause (reference: LogicalQualify + QualifyToFilter):
    // pre-parse text rewrite to a windowed-subquery filter; also binds
    // the cdc_stream('name') TVF at parse time (CdcStreamTvf.scala —
    // reference CdcStream.java; must precede ResolveFunctions' fail-fast)
    e.injectParser((s, delegate) => new graft.plans.GraftSqlParser(delegate, () => s))
    // transparent MV rewrite (reference: nereids/rules/exploration/mv/)
    e.injectOptimizerRule(s => new graft.plans.MvRewriteRule(s))
    // score() -> per-row BM25 with scalar-subquery corpus stats
    // (reference: function_score.cpp + the FE's virtual-slot binding)
    e.injectOptimizerRule(s => new graft.plans.ScoreRewriteRule(s))
    // PK-FK / unique join elimination over declared RELY constraints
    // (reference: EliminateJoinByFK.java + EliminateJoinByUnique.java)
    e.injectOptimizerRule(s => new graft.plans.FkJoinEliminationRule(s))
    GraftExtensions.measuredRules.foreach(r => e.injectOptimizerRule(_ => r))
  }
}

object GraftExtensions {
  import graft.plans._
  import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  import org.apache.spark.sql.catalyst.rules.Rule

  /** Rewrites that run in every session because each measurably helps:
    * each made its demo query faster on a 25x key-shifted TPC-H set in
    * at least 9 of 10 interleaved pairs (CHANGES.md has the figures).
    * RuleDifferentialSpec checks them against Spark's plans with the
    * same rules excluded. */
  val measuredRules: Seq[Rule[LogicalPlan]] = Seq(
    // outer-join + equi-key IS NULL filter -> anti join (reference:
    // ConvertOuterJoinToAntiJoin.java)
    OuterToAntiRule,
    // drop the UNION dedup aggregate when RELY-unique branches carry
    // pairwise-distinct literal tags (reference:
    // InferSetOperatorDistinct.java)
    InferSetOpDistinctRule,
    // GROUP BY coarse over (GROUP BY fine) -> one aggregate when every
    // outer call derives from the inner partials (reference:
    // MergeAggregate.java)
    MergeAggregateRule,
    // ORDER BY + LIMIT pushed below outer/cross joins (row-preserved
    // side), and below DISTINCT over such a join or over UNION ALL
    // (reference: PushDownTopNThroughJoin.java +
    // PushDownTopNDistinctThrough{Join,Union}.java)
    TopNPushdownRule,
    // HAVING min(a) < k derives row predicate a < k below the agg, down
    // to the parquet scan (reference: MaxMinFilterPushDown.java)
    MaxMinFilterRule,
    // derive per-column pushable predicates from OR-of-AND filters so
    // untranslatable legs stop blanking PushedFilters (reference:
    // ExtractSingleTableExpressionFromDisjunction.java /
    // InferInPredicateFromOr.java)
    OrExtractRule)
}
