package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented capability's query + DuckDB oracle from
  * the per-family objects under graft.queries.
  */
object SparkEntry {

  private def families: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (graft.queries.TpchQueries.queries, graft.queries.TpchQueries.oracle),
      (graft.queries.OperatorQueries.queries, graft.queries.OperatorQueries.oracle),
      (graft.queries.AggQueries.queries, graft.queries.AggQueries.oracle),
      (graft.queries.WindowQueries.queries, graft.queries.WindowQueries.oracle),
      (graft.queries.GeneratorQueries.queries, graft.queries.GeneratorQueries.oracle),
      (graft.queries.ScalarQueries.queries, graft.queries.ScalarQueries.oracle),
      (graft.queries.FunctionQueries.queries, graft.queries.FunctionQueries.oracle),
      (graft.queries.MlQueries.queries, graft.queries.MlQueries.oracle),
      (graft.queries.ModelQueries.queries, graft.queries.ModelQueries.oracle),
      (graft.streaming.StreamQueries.queries, graft.streaming.StreamQueries.oracle),
      (graft.queries.MvQueries.queries, graft.queries.MvQueries.oracle),
      (graft.queries.MiscQueries.queries, graft.queries.MiscQueries.oracle),
      (graft.queries.StateQueries.queries, graft.queries.StateQueries.oracle),
      (graft.queries.SourceQueries.queries, graft.queries.SourceQueries.oracle),
      (graft.queries.ExtrasQueries.queries, graft.queries.ExtrasQueries.oracle),
      (graft.queries.BucketQueries.queries, graft.queries.BucketQueries.oracle),
      (graft.queries.DsQueries.queries, graft.queries.DsQueries.oracle),
      (graft.queries.Extras2Queries.queries, graft.queries.Extras2Queries.oracle),
      (graft.queries.Extras3Queries.queries, graft.queries.Extras3Queries.oracle),
      (graft.queries.DateJsonQueries.queries, graft.queries.DateJsonQueries.oracle),
      (graft.queries.SafeMathQueries.queries, graft.queries.SafeMathQueries.oracle),
      (graft.queries.Final1Queries.queries, graft.queries.Final1Queries.oracle),
      (graft.queries.SubqueryQueries.queries, graft.queries.SubqueryQueries.oracle),
      (graft.queries.Round2Queries.queries, graft.queries.Round2Queries.oracle),
      (graft.queries.Round2bQueries.queries, graft.queries.Round2bQueries.oracle),
      (graft.queries.Round2cQueries.queries, graft.queries.Round2cQueries.oracle),
      (graft.queries.Round3Queries.queries, graft.queries.Round3Queries.oracle),
      (graft.queries.Round3bQueries.queries, graft.queries.Round3bQueries.oracle),
      (graft.queries.Round4Queries.queries, graft.queries.Round4Queries.oracle),
      (graft.queries.Round4bQueries.queries, graft.queries.Round4bQueries.oracle),
      (graft.queries.Round4cQueries.queries, graft.queries.Round4cQueries.oracle),
      (graft.queries.Round4dQueries.queries, graft.queries.Round4dQueries.oracle),
      (graft.queries.Round4eQueries.queries, graft.queries.Round4eQueries.oracle),
      (graft.queries.Round4fQueries.queries, graft.queries.Round4fQueries.oracle),
      (graft.queries.Round4gQueries.queries, graft.queries.Round4gQueries.oracle),
      (graft.queries.Round4hQueries.queries, graft.queries.Round4hQueries.oracle),
      (graft.queries.Round4iQueries.queries, graft.queries.Round4iQueries.oracle),
      (graft.queries.Round5aQueries.queries, graft.queries.Round5aQueries.oracle),
      (graft.queries.Round5bQueries.queries, graft.queries.Round5bQueries.oracle),
      (graft.queries.Round6Queries.queries, graft.queries.Round6Queries.oracle),
      (graft.queries.Round6dsQueries.queries, graft.queries.Round6dsQueries.oracle),
      (graft.queries.Round6ds2Queries.queries, graft.queries.Round6ds2Queries.oracle),
      (graft.queries.Round6ds3Queries.queries, graft.queries.Round6ds3Queries.oracle),
      (graft.queries.Round6ds4Queries.queries, graft.queries.Round6ds4Queries.oracle),
      (graft.queries.Round6ds5Queries.queries, graft.queries.Round6ds5Queries.oracle),
      (graft.queries.Round6ds6Queries.queries, graft.queries.Round6ds6Queries.oracle),
      (graft.queries.TpchTailQueries.queries, graft.queries.TpchTailQueries.oracle),
      (graft.queries.SsbQueries.queries, graft.queries.SsbQueries.oracle),
      (graft.queries.ClickBenchQueries.queries, graft.queries.ClickBenchQueries.oracle),
      (graft.queries.RealDataQueries.queries, graft.queries.RealDataQueries.oracle),
      (graft.queries.PipelineQueries.queries, graft.queries.PipelineQueries.oracle),
      (graft.queries.Round7Queries.queries, graft.queries.Round7Queries.oracle),
      (graft.queries.Round7bQueries.queries, graft.queries.Round7bQueries.oracle),
      (graft.queries.Round7cQueries.queries, graft.queries.Round7cQueries.oracle),
      (graft.queries.Round8Queries.queries, graft.queries.Round8Queries.oracle),
      (graft.queries.Round8bQueries.queries, graft.queries.Round8bQueries.oracle),
      (graft.queries.Round8cQueries.queries, graft.queries.Round8cQueries.oracle),
      (graft.queries.Round9Queries.queries, graft.queries.Round9Queries.oracle),
      (graft.queries.Round9bQueries.queries, graft.queries.Round9bQueries.oracle),
      (graft.queries.Round10Queries.queries, graft.queries.Round10Queries.oracle),
      (graft.queries.Round11Queries.queries, graft.queries.Round11Queries.oracle),
      (graft.queries.Round12Queries.queries, graft.queries.Round12Queries.oracle),
      (graft.queries.Round13Queries.queries, graft.queries.Round13Queries.oracle),
      (graft.queries.Round13bQueries.queries, graft.queries.Round13bQueries.oracle),
      (graft.queries.Round14Queries.queries, graft.queries.Round14Queries.oracle),
      (graft.queries.Round15Queries.queries, graft.queries.Round15Queries.oracle),
      (graft.queries.Round16Queries.queries, graft.queries.Round16Queries.oracle)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    GraftSession.install(spark)
    graft.queries.TpchQueries.queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. A duplicate
    * key across families would silently shadow a query under Map ++, so
    * uniqueness is asserted — losing a declared capability without
    * noticing is worse than failing fast. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = families.flatMap(_._1.keys)
    val dups = all.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate query keys across families: ${dups.mkString(", ")}")
    families.map(_._1).reduce(_ ++ _)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys → driver rows-only check. */
  def oracleSql: Map[String, String] = {
    val all = families.flatMap(_._2.keys)
    val dups = all.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    require(dups.isEmpty, s"duplicate oracle keys across families: ${dups.mkString(", ")}")
    families.map(_._2).reduce(_ ++ _)
  }

  /** Headline subset for Bench. TPC-H core plus the ml/ds paths the
    * round-5 verdict asked to put under the bench lens: the two LSH
    * dedup pipelines (so a banding/plan regression shows up as wall
    * time, not just a plan assert), three TPC-DS heavies covering
    * union+rollup legs, the wide resale multi-join, and the
    * year-over-year CTE chain, and two ClickBench heavies (the 90-sum
    * codegen-width scan and the full-cardinality two-key group-by). */
  def benchQueries: Seq[String] = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q9_product_profit", "q13_customer_distribution",
    "q18_large_orders", "q21_waiting_supplier",
    "ml_dedup_minhash", "ml_embed_neardup_lsh",
    "ds_channel_rollup_net", "ds_wide_resale", "ds_two_channel_growth",
    "cb_q29", "cb_q32",
    "ml_pii_redact", "ml_quality_gopher",
    "ml_segment_dedup", "ml_kmeans_assign", "ml_ann_ivfpq",
    "ml_line_dedup", "ml_c4_filter", "ml_perplexity_bucket",
    "ml_substring_dedup",
    // r17 (r16-verdict #6): the iterative label-propagation path gets a
    // driver-visible timing so regressions in the per-round join/agg
    // shape show up as wall time.
    "ml_dedup_components")
}
