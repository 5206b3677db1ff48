package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.ops.{AsofJoin, Dedup, RecursiveCte, TableModels, TextOps, VectorSearch}
import graft.plans.MaterializedViews

/** Public facade — the surface a reference (Doris) user programs
  * against after switching to this library. One import gives:
  * a configured session with the SQL function surface
  * (`Graft.session()`; `install` adds the surface to a session built
  * without `GraftExtensions`), table-model views, MVs with
  * transparent rewrite, as-of joins, recursive CTEs, and the
  * training-pipeline operator set.
  *
  * {{{
  * val spark = Graft.session()
  * Graft.registerTables(spark, "/data/sf100")
  * spark.sql("SELECT bitmap_count(bitmap_agg(user_id)) FROM events")
  * val dups = Graft.minhashDedup(docs, "doc_id", "text")
  * }}}
  */
object Graft {

  /** Engine-configured local session (cluster deploys pass
    * `spark.sql.extensions=graft.GraftExtensions` instead). */
  def session(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    GraftSession.local(cores)

  /** Register the full custom function surface on a session built
    * without `GraftExtensions`. */
  def install(spark: SparkSession): SparkSession = GraftSession.install(spark)

  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.registerAll(spark, dir)

  // ---- table models (reference: KeysType.java) ----
  def uniqueView(df: DataFrame, keys: Seq[String], seqCol: String): DataFrame =
    TableModels.uniqueView(df, keys, seqCol)
  def aggView(df: DataFrame, keys: Seq[String], seqCol: String,
              specs: Seq[(String, TableModels.AggType)]): DataFrame =
    TableModels.aggView(df, keys, seqCol, specs)

  // ---- materialized views + transparent rewrite ----
  def createMv(spark: SparkSession, name: String, baseDir: String, table: String,
               groupCols: Seq[String], sumCols: Seq[String] = Nil,
               minCols: Seq[String] = Nil, maxCols: Seq[String] = Nil,
               filterSql: Option[String] = None): Unit =
    MaterializedViews.create(spark, name, baseDir, table, groupCols, sumCols,
      minCols, maxCols, filterSql = filterSql)
  def refreshMv(spark: SparkSession, name: String): Unit =
    MaterializedViews.refresh(spark, name)
  def dropMv(name: String): Unit = MaterializedViews.drop(name)

  // ---- joins / recursion the reference has as operators ----
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String, payload: Seq[String],
               inner: Boolean = false): DataFrame =
    AsofJoin.asofBackward(left, right, keys, leftTime, rightTime, payload, inner)
  def recursive(anchor: DataFrame, step: DataFrame => DataFrame,
                maxIter: Int = 100): DataFrame =
    RecursiveCte.iterate(anchor, step, maxIter)

  // ---- training-pipeline operators ----
  def minhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, threshold: Double = 0.5): DataFrame =
    Dedup.minhashPairs(docs, idCol, textCol, shingleSize, threshold)
  def simhashDedup(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3): DataFrame =
    Dedup.simhashPairs(docs, idCol, textCol, maxDist)
  def annTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    VectorSearch.topK(corpus, queries, k)
  def annTopKLsh(corpus: DataFrame, queries: DataFrame, dim: Int, k: Int): DataFrame =
    VectorSearch.topKLsh(corpus, queries, dim, k)
  def annTopKIvf(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                 nprobe: Int, k: Int): DataFrame =
    VectorSearch.topKIvf(corpus, queries, centroids, nprobe, k)
  def cosineNearDups(corpus: DataFrame, threshold: Double): DataFrame =
    VectorSearch.nearDupPairsIvf(corpus, threshold)
  def cosineNearDupsBrute(corpus: DataFrame, threshold: Double): DataFrame =
    VectorSearch.nearDupPairsBrute(corpus, threshold)
  def dedupComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    Dedup.connectedComponents(pairs, aCol, bCol)
  def langId(text: Column): Column = TextOps.langId(text)
  def qualityScore(text: Column): Column = TextOps.qualityScore(text)
  def fingerprint(text: Column): Column = TextOps.fingerprint(text)

  /** Replace emails / national ids / IPv4s / phone numbers with typed
    * placeholders (codegen regexes, one projection — see
    * ops.PipelineOps for the pattern contract). */
  def redactPii(text: Column): Column = graft.ops.PipelineOps.redactPii(text)

  /** Table-stream CDC surface (cdc_stream('name') in SQL): create a
    * commit-versioned stream over a directory table. */
  def createTableStream(spark: SparkSession, name: String, root: String,
      keys: Seq[String], seqCol: String, delCol: String,
      showInitialRows: Boolean = false): Unit =
    graft.streaming.TableStream.create(
      spark, name, root, keys, seqCol, delCol, showInitialRows)
  def readTableStream(spark: SparkSession, name: String): DataFrame =
    graft.streaming.TableStream.read(spark, name)
}
