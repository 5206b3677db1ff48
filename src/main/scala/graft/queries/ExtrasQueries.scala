package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q._

/** Coverage extras: VARIANT (Spark 4 semi-structured type — reference:
  * be/src/core/column/column_variant.h:76, function_variant_element.cpp),
  * json_tuple lateral, CTE reuse (MultiCastDataStreamer analog), query
  * cache (CacheSource analog -> df.persist), partitioned-write
  * pruning (RANGE partitions analog), and UNIQUE-model delete sign
  * (MoW delete bitmap analog: __DORIS_DELETE_SIGN__).
  */
object ExtrasQueries {

  // QUALIFY shapes — one SQL text, both engines (ANSI + QUALIFY)
  val qualifyTopnSql: String = """
    SELECT c_nationkey, c_name, c_acctbal,
           row_number() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS rk
    FROM customer QUALIFY rk <= 2 ORDER BY c_nationkey, rk"""

  val qualifyAggSql: String = """
    SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
    QUALIFY rank() OVER (ORDER BY count(*) DESC, o_custkey) <= 5
    ORDER BY n DESC, o_custkey"""

  // QUALIFY inside a CTE body: the rewrite must bind to the CTE's own
  // query block, and the outer aggregate consumes the filtered rows
  val qualifyCteSql: String = """
    WITH top2 AS (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rk
      FROM customer QUALIFY rk <= 2)
    SELECT c_nationkey, count(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
    FROM top2 GROUP BY c_nationkey ORDER BY c_nationkey"""

  // QUALIFY on the right branch of a set operation: binds to its own
  // branch, not the union; bare window (no select-list alias)
  val qualifyUnionSql: String = """
    SELECT * FROM (
      SELECT s_suppkey AS k, s_acctbal AS bal, 'sup' AS side
      FROM supplier WHERE s_acctbal > 5000
      UNION ALL
      SELECT c_custkey AS k, c_acctbal AS bal, 'cust' AS side FROM customer
      QUALIFY row_number() OVER (ORDER BY c_acctbal DESC, c_custkey) <= 3
    ) u ORDER BY side, bal DESC, k"""

  // QUALIFY on BOTH branches (each over its own aggregate): the rewrite
  // loop must fix the left branch without swallowing the UNION tail,
  // then the right branch on the next pass
  val qualifyUnion2Sql: String = """
    SELECT * FROM (
      SELECT s_nationkey AS k, count(*) AS n, 'sup' AS side FROM supplier
      GROUP BY s_nationkey
      QUALIFY rank() OVER (ORDER BY count(*) DESC, s_nationkey) <= 4
      UNION ALL
      SELECT c_nationkey AS k, count(*) AS n, 'cust' AS side FROM customer
      GROUP BY c_nationkey
      QUALIFY rank() OVER (ORDER BY count(*) DESC, c_nationkey) <= 4
    ) u ORDER BY side, n DESC, k"""

  private val mkJson =
    """concat('{"k":', CAST(pmod(event_id, 50) AS STRING),
              ',"tags":["t', CAST(pmod(event_id, 3) AS STRING), '","x"]',
              ',"nest":{"v":', CAST(user_id AS STRING), '}}')"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // VARIANT: parse once, extract typed subcolumns by path.
    "extra_variant" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(s"""
        WITH j AS (SELECT event_id, $mkJson AS doc FROM events WHERE event_id < 500)
        SELECT event_id,
               CAST(variant_get(parse_json(doc), '$$.k') AS BIGINT) AS k,
               CAST(variant_get(parse_json(doc), '$$.tags[0]') AS STRING) AS t0,
               CAST(variant_get(parse_json(doc), '$$.nest.v') AS BIGINT) AS v
        FROM j ORDER BY event_id""")
    }),

    "extra_json_tuple" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT t.k2, count(*) AS n, sum(CAST(t.k2 AS BIGINT)) AS sk
        FROM events
        LATERAL VIEW json_tuple(props, 'k') t AS k2
        GROUP BY t.k2 ORDER BY CAST(t.k2 AS BIGINT)""")
    }),

    // CTE consumed twice (reference: multi_cast_data_streamer.h:57).
    "extra_cte_reuse" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        WITH seg AS (SELECT c_nationkey, count(*) AS n,
                            CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
                     FROM customer GROUP BY c_nationkey)
        SELECT a.c_nationkey, a.n, a.bal,
               round(a.bal / b.tot_bal, 9) AS share
        FROM seg a CROSS JOIN (SELECT sum(bal) AS tot_bal, sum(n) AS tot_n FROM seg) b
        ORDER BY a.c_nationkey"""
      )
    }),

    // QUALIFY clause (plans/QualifySql.scala — LogicalQualify +
    // QualifyToFilter analog, parser-injected): the SQL text below runs
    // verbatim on BOTH engines (DuckDB has native QUALIFY; ours is the
    // pre-parse rewrite), so the oracle is the same string.
    // alias form: predicate references a window alias from the select list
    "extra_qualify_topn" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(ExtrasQueries.qualifyTopnSql)
    }),
    // missing-slot form: bare window over an aggregated block
    // (FillUpQualifyMissingSlot.java case)
    "extra_qualify_agg" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(ExtrasQueries.qualifyAggSql)
    }),
    // recursion paths of the rewrite, pinned by oracle: CTE body…
    "extra_qualify_cte" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(ExtrasQueries.qualifyCteSql)
    }),
    // …and a set-operation branch
    "extra_qualify_union" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(ExtrasQueries.qualifyUnionSql)
    }),
    // …and both branches of one union
    "extra_qualify_union2" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql(ExtrasQueries.qualifyUnion2Sql)
    }),

    // PK-FK join elimination (plans/FkJoinElimination.scala —
    // EliminateJoinByFK.java analog): only lineitem columns are
    // consumed, so the optimizer must DROP the orders join entirely
    // (no-join plan assert in PlanShapeSpec). The oracle RUNS the join,
    // so hash-equality proves the elimination returns identical rows.
    "opt_fk_join_elim" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          dbl(sum(money(col("l_quantity")))).as("sq"))
        .orderBy(col("l_returnflag"))
    }),
    // unique-key LEFT JOIN elimination (EliminateJoinByUnique.java
    // analog): the nation side is unique on the join key and unused, so
    // the left join can neither filter nor duplicate — dropped.
    "opt_unique_join_elim" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          dbl(sum(money(col("c_acctbal")))).as("bal"))
        .orderBy(col("c_mktsegment"))
    }),

    // aggregate over the lineitem-orders join, the shape eager
    // aggregation targets (reference PushDownAggThroughJoinOneSide.java).
    // Spark plans it as a join then one aggregate, which measured
    // faster on a 25x set than pre-aggregating lineitem below the join.
    "opt_eager_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber").cast("long")).as("sl"),
          min(col("l_quantity")).as("mnq"),
          max(col("l_quantity")).as("mxq"))
        .orderBy(col("o_orderpriority"))
    }),

    // query-cache analog: persist a base, serve two shapes from it.
    // OR-expansion join (ops/OrJoin.scala — OrExpansion.java analog):
    // a disjunctive equi-join spelled as a union of hash joins with
    // first-match exclusion filters; plan-asserted no nested-loop in
    // PlanShapeSpec. Disjuncts chosen independent of each other
    // (nation vs account-balance bucket).
    "extra_or_join" -> ((s, dir) => {
      graft.ops.OrJoin.expand(t(s, dir, "supplier"), t(s, dir, "customer"), Seq(
        col("s_nationkey") === col("c_nationkey"),
        floor(col("s_acctbal") / 1000) === floor(col("c_acctbal") / 1000)))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_matches"),
          countDistinct(col("c_custkey")).as("n_cust"))
        .orderBy(col("s_suppkey"))
    }),

    // SQL result cache (SqlCache.scala — FE SqlCacheContext + BE
    // CacheSource/SinkOperatorX analog): same statement twice; the
    // second serve must be a HIT whose plan reads the cache
    // materialization and never scans the base table (asserted
    // inline; invalidation-on-change is covered by SqlCacheSpec).
    "extra_sql_cache" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      graft.plans.SqlCache.reset()
      val q = """SELECT event_type, count(*) AS n,
                        CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
                 FROM events GROUP BY event_type"""
      graft.plans.SqlCache.cachedSql(s, q).count() // populate (miss)
      val out = graft.plans.SqlCache.cachedSql(s, q) // must hit
      require(graft.plans.SqlCache.hits == 1 && graft.plans.SqlCache.misses == 1,
        s"expected 1 hit / 1 miss, got ${graft.plans.SqlCache.hits}/${graft.plans.SqlCache.misses}")
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("sqlcache"),
        s"cache hit must serve from the materialization:\n$plan")
      require(!plan.contains("events.parquet"),
        s"cache hit must not scan the base table:\n$plan")
      out.orderBy(col("event_type"))
    }),

    "extra_cache" -> ((s, dir) => {
      val base = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= "1995-01-01")
        .select(col("l_returnflag"), col("l_linestatus"), money(col("l_extendedprice")).as("p"))
        .persist()
      val byFlag = base.groupBy(col("l_returnflag"))
        .agg(dbl(sum(col("p"))).as("v"), count(lit(1)).as("n"))
        .withColumn("dim", lit("flag")).withColumnRenamed("l_returnflag", "key")
      val byStatus = base.groupBy(col("l_linestatus"))
        .agg(dbl(sum(col("p"))).as("v"), count(lit(1)).as("n"))
        .withColumn("dim", lit("status")).withColumnRenamed("l_linestatus", "key")
      byFlag.unionByName(byStatus).orderBy(col("dim"), col("key"))
    }),

    // hive-style partitioned write + partition-pruned read
    // (reference: RangePartitionInfo.java:45 partition pruning).
    "extra_partition_prune" -> ((s, dir) => {
      val out = "target/sources/orders_by_status"
      t(s, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out).filter(col("o_orderstatus") === "F")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dbl(sum(money(col("o_totalprice")))).as("tot"))
        .orderBy(col("o_orderpriority"))
    }),

    // UNIQUE keys + delete sign: highest-seq version wins, then
    // deleted keys drop out (merge-on-write delete-bitmap semantics).
    "extra_unique_delete" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        WITH loads AS (
          SELECT o_orderkey, o_orderstatus, 1 AS seq, 0 AS del FROM orders
          UNION ALL
          SELECT o_orderkey, 'U', 2, 0 FROM orders WHERE o_orderkey % 5 = 0
          UNION ALL
          SELECT o_orderkey, NULL, 3, 1 FROM orders WHERE o_orderkey % 20 = 0),
        v AS (SELECT * FROM (
          SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
          FROM loads) x WHERE rn = 1 AND del = 0)
        SELECT o_orderstatus, count(*) AS n FROM v
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")
    })
  )

  def oracle: Map[String, String] = Map(
    "extra_variant" -> """
      WITH j AS (SELECT event_id,
        concat('{"k":', CAST(event_id % 50 AS VARCHAR),
               ',"tags":["t', CAST(event_id % 3 AS VARCHAR), '","x"]',
               ',"nest":{"v":', CAST(user_id AS VARCHAR), '}}') AS doc
        FROM events WHERE event_id < 500)
      SELECT event_id,
             CAST(json_extract_string(doc, '$.k') AS BIGINT) AS k,
             json_extract_string(doc, '$.tags[0]') AS t0,
             CAST(json_extract_string(doc, '$.nest.v') AS BIGINT) AS v
      FROM j ORDER BY event_id""",

    "extra_json_tuple" -> """
      SELECT k2, count(*) AS n, CAST(sum(CAST(k2 AS BIGINT)) AS BIGINT) AS sk FROM (
        SELECT json_extract_string(props, '$.k') AS k2 FROM events) t
      GROUP BY k2 ORDER BY CAST(k2 AS BIGINT)""",

    "extra_cte_reuse" -> """
      WITH seg AS (SELECT c_nationkey, count(*) AS n,
                          CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
                   FROM customer GROUP BY c_nationkey)
      SELECT a.c_nationkey, a.n, a.bal, round(a.bal / b.tot_bal, 9) AS share
      FROM seg a CROSS JOIN (SELECT sum(bal) AS tot_bal, sum(n) AS tot_n FROM seg) b
      ORDER BY a.c_nationkey""",

    "extra_qualify_topn" -> qualifyTopnSql,
    "extra_qualify_agg" -> qualifyAggSql,
    "extra_qualify_cte" -> qualifyCteSql,
    "extra_qualify_union" -> qualifyUnionSql,
    "extra_qualify_union2" -> qualifyUnion2Sql,

    "opt_fk_join_elim" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sq
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_returnflag ORDER BY l_returnflag""",
    "opt_unique_join_elim" -> """
      SELECT c_mktsegment, count(*) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS bal
      FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "opt_eager_agg" -> """
      SELECT o_orderpriority, count(*) AS n,
             CAST(sum(l_linenumber) AS BIGINT) AS sl,
             min(l_quantity) AS mnq, max(l_quantity) AS mxq
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "extra_or_join" -> """
      SELECT s_suppkey, count(*) AS n_matches,
             count(DISTINCT c_custkey) AS n_cust
      FROM supplier JOIN customer
        ON s_nationkey = c_nationkey
        OR floor(s_acctbal / 1000) = floor(c_acctbal / 1000)
      GROUP BY s_suppkey ORDER BY s_suppkey""",

    "extra_sql_cache" -> """
      SELECT event_type, count(*) AS n,
             CAST(SUM(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY event_type ORDER BY event_type""",

    "extra_cache" -> """
      SELECT key, v, n, dim FROM (
        SELECT l_returnflag AS key,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS v,
               count(*) AS n, 'flag' AS dim
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' GROUP BY 1
        UNION ALL
        SELECT l_linestatus,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE),
               count(*), 'status'
        FROM lineitem WHERE l_shipdate >= TIMESTAMP '1995-01-01' GROUP BY 1) u
      ORDER BY dim, key""",

    "extra_partition_prune" -> """
      SELECT o_orderpriority, count(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS tot
      FROM orders WHERE o_orderstatus = 'F'
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "extra_unique_delete" -> """
      WITH loads AS (
        SELECT o_orderkey, o_orderstatus, 1 AS seq, 0 AS del FROM orders
        UNION ALL
        SELECT o_orderkey, 'U', 2, 0 FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, NULL, 3, 1 FROM orders WHERE o_orderkey % 20 = 0),
      v AS (SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        FROM loads) x WHERE rn = 1 AND del = 0)
      SELECT o_orderstatus, count(*) AS n FROM v
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""
  )
}
