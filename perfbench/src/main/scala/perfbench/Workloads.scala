package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}

/** One statement a pass issues. `kind` is "query", "commit" or "read";
  * `fmt` names the table format for lakehouse statements. */
final case class Stmt(key: String, kind: String, fmt: String, build: SparkSession => DataFrame)

/** A workload: how its inputs are loaded in set-up and which
  * statements a pass issues. */
trait Workload {
  def name: String
  /** First load of every input; returns per-layer timings. */
  def load(spark: SparkSession): Map[String, Double]
  /** Statements of the next pass, in issue order. Any input the client
    * prepares for them (a batch of new rows) is made here, untimed. */
  def nextPass(spark: SparkSession, rng: Random): Seq[Stmt]
  /** Untimed passes in set-up, after the inputs are loaded. */
  def warmupPasses: Int = 1
}

/** Queries from `SparkEntry.queries` over the generated fixture tables.
  * Every pass issues each key once, in a seeded order. */
final class AnalyticsWorkload(dir: String) extends Workload {
  val name = "analytics"
  val keys: Seq[String] = AnalyticsWorkload.keys
  /** The JIT still speeds the queries up through a third pass. */
  override def warmupPasses: Int = 3

  def load(spark: SparkSession): Map[String, Double] = {
    val t0 = System.nanoTime()
    Tables.names.foreach(n => Tables.load(spark, dir, n).schema)
    Map("tables.load_s" -> (System.nanoTime() - t0) / 1e9)
  }

  def stmt(k: String, at: String): Stmt =
    Stmt(k, "query", "", s => SparkEntry.queries(k)(s, at))

  def nextPass(spark: SparkSession, rng: Random): Seq[Stmt] =
    rng.shuffle(keys).map(stmt(_, dir))
}

object AnalyticsWorkload {
  val keys: Seq[String] = Seq(
    "q3_shipping_priority", "q6_forecast_revenue", "q18_large_orders",
    "ml_dedup_minhash", "ml_dedup_components")

  /** Keys whose oracle compares all pairs of documents, which only the
    * 1x base data keeps tractable. */
  val allPairsKeys: Set[String] = Set("ml_dedup_minhash", "ml_dedup_components")
}

/** Write-path workload over the four in-repo table formats, driven
  * through their SQL route. Set-up creates one table per format from a
  * slice of `orders`; each pass then runs, per format and in a seeded
  * format order, one INSERT of new keys and one full aggregate read.
  * The same inserts are applied to an in-memory model, which the final
  * table contents must equal. */
final class LakehouseWorkload(dir: String, val sliceRows: Int, val insertRows: Int)
    extends Workload {
  val name = "lakehouse_dml"
  val formats: Seq[String] = Seq("iceberg", "delta", "paimon", "hudi")
  val statuses: Seq[String] = Seq("F", "O", "P")
  val table = "pb_orders"

  /** Live rows by key: (custkey, status, totalprice). */
  val model = mutable.LongMap.empty[(Long, String, Double)]
  private var nextKey = 0L
  /** Rows the last pass's write statements submitted, per format. */
  var lastSubmitted: Seq[Row] = Nil

  val schema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType)))

  private def ddl(fmt: String): String = fmt match {
    // the Delta route has no PRIMARY KEY; Paimon's key must include
    // the partition column
    case "delta" => "PARTITIONED BY (o_orderstatus)"
    case "paimon" => "PRIMARY KEY (o_orderstatus, o_orderkey) PARTITIONED BY (o_orderstatus)"
    case _ => "PRIMARY KEY (o_orderkey) PARTITIONED BY (o_orderstatus)"
  }

  def load(spark: SparkSession): Map[String, Double] = {
    val t0 = System.nanoTime()
    val base = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_orderkey") < sliceRows)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    base.createOrReplaceTempView("pb_base")
    model.clear()
    base.collect().foreach(r => model(r.getLong(0)) = (r.getLong(1), r.getString(2), r.getDouble(3)))
    nextKey = 1000000000L
    val t1 = System.nanoTime()
    formats.foreach(f =>
      spark.sql(s"CREATE OR REPLACE TABLE graft_$f.$table ${ddl(f)} AS SELECT * FROM pb_base").collect())
    Map("tables.load_s" -> (t1 - t0) / 1e9, "ops.lake_create_s" -> (System.nanoTime() - t1) / 1e9)
  }

  /** Where the SQL route keeps `fmt`'s table: under the lakehouse
    * directory, relative to the working directory by default. */
  def tableDir(fmt: String): String = {
    val wh = SparkSession.active.conf.getOption("spark.graft.lakehouse.dir").getOrElse("target/lakehouse")
    new java.io.File(s"$wh/$fmt/$table").getAbsolutePath
  }

  def nextPass(spark: SparkSession, rng: Random): Seq[Stmt] = {
    val ins = (0 until insertRows).map { i =>
      Row(nextKey + i, rng.nextInt(1000000).toLong,
        statuses(rng.nextInt(statuses.size)), (100000 + rng.nextInt(49900000)) / 100.0)
    }
    spark.createDataFrame(java.util.Arrays.asList(ins: _*), schema).createOrReplaceTempView("pb_ins")
    ins.foreach(r => model(r.getLong(0)) = (r.getLong(1), r.getString(2), r.getDouble(3)))
    nextKey += insertRows
    lastSubmitted = ins
    rng.shuffle(formats).flatMap { f =>
      val t = s"graft_$f.$table"
      Seq(
        Stmt(s"${f}_insert", "commit", f, _.sql(s"INSERT INTO $t SELECT * FROM pb_ins")),
        Stmt(s"${f}_read_agg", "read", f, _.sql(
          s"SELECT o_orderstatus, count(*) AS n, sum(o_custkey) AS s_ck, " +
            s"CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s_tp " +
            s"FROM $t GROUP BY o_orderstatus")))
    }
  }

  /** Rows of `fmt`'s table that differ from the model, as a message, or
    * None when the table equals the model. */
  def mismatch(spark: SparkSession, fmt: String): Option[String] = {
    val got = spark.sql(s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice " +
      s"FROM graft_$fmt.$table").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getDouble(3)))
    val gotMap = got.toMap
    val dupKeys = got.length - gotMap.size
    val missing = model.keys.count(k => !gotMap.contains(k))
    val extra = gotMap.keys.count(k => !model.contains(k))
    val wrong = gotMap.count { case (k, v) => model.get(k).exists(_ != v) }
    if (dupKeys + missing + extra + wrong == 0) None
    else Some(s"$fmt table differs from the model: ${got.length} rows vs ${model.size}; " +
      s"duplicate keys $dupKeys, missing $missing, extra $extra, wrong values $wrong")
  }

  /** Live model rows, for the plain-parquet size the amplification
    * ratios divide by. */
  def modelRows: Seq[Row] =
    model.toSeq.sortBy(_._1).map { case (k, (ck, p, tp)) => Row(k, ck, p, tp) }
}
