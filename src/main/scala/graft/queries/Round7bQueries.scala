package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{PipelineOps, VectorSearch}
import Q.t

/** Round-7 batch 2 — vector/text top-n and training-pipeline corpus
  * ops. Every key oracle-exact vs DuckDB.
  *
  * opt_vector_topn: `ORDER BY graft_l2sq(embedding, const) LIMIT k`,
  * planned as Spark's TakeOrderedAndProject over one scan. The oracle
  * computes the same top-k by brute force. A cell-pruned index scan
  * (reference: PushDownVectorTopNIntoOlapScan.java) measured slower
  * than that scan on a 25x embeddings set.
  */
object Round7bQueries {

  /** Fixed 64-dim query point, interpolated VERBATIM into both the
    * engine expression and the oracle SQL (shared-constant discipline,
    * same as the PII regex patterns). */
  val QVec: Seq[Double] = Vector.tabulate(64)(i => ((i % 7) - 3) / 20.0)

  private def qArrSql: String = QVec.mkString("array(", "D, ", "D)")
  private def qListSql: String = QVec.mkString("[", ", ", "]::DOUBLE[]")
  /** dot(q, q), precomputed driver-side (same left-to-right order). */
  private def qq: Double = QVec.foldLeft(0.0)((a, x) => a + x * x)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "opt_vector_topn" -> ((s, dir) => {
      // sort key: the squared distance (monotone in L2, no sqrt).
      // output dist: the EXPANSION dot(e,e) - 2*dot(e,q) + dot(q,q) in
      // left-to-right graft_dot order — bit-identical to the oracle's
      // list_inner_product spelling (direct vs expansion differ at
      // ~1e-12; round(,6) must see the same double on both engines).
      val de = "transform(embedding, x -> cast(x as double))"
      t(s, dir, "embeddings")
        .orderBy(expr(s"graft_l2sq(embedding, $qArrSql)"), col("vec_id"))
        .limit(10)
        .select(col("vec_id"),
          round(sqrt(expr(s"graft_dot($de, $de) - 2 * graft_dot($de, $qArrSql) + ${qq}D")), 6)
            .as("dist"))
    }),

    // SemDeDup (Abbas et al. '23): semantic dedup = cluster the
    // embedding space, then drop near-duplicates WITHIN each cluster
    // only — the O(N^2/k) scale trick that makes embedding dedup
    // feasible at corpus scale. Composition of the IVF cell machinery
    // (nprobe=1 -> pure cluster assignment) with min-id greedy keep:
    // a vector is dropped when a smaller-id same-cluster neighbor has
    // cosine >= tau (0.40 on this synthetic corpus); kept_by is the smallest such neighbor. One
    // centroid broadcast + one cell-bounded pair join — no cartesian.
    "ml_semdedup" -> ((s, dir) => {
      val pairs = VectorSearch.nearDupPairsIvf(
        t(s, dir, "embeddings"), threshold = 0.40, nCells = 8, nprobe = 1)
      val w = Window.partitionBy(col("id_b")).orderBy(col("id_a"))
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("id_b").as("vec_id"), col("id_a").as("kept_by"), col("sim"))
        .orderBy("vec_id")
    }),

    // BPE first-iteration merge statistics: adjacent character-pair
    // frequencies across the corpus — the count table the first merge
    // of byte-pair-encoding tokenizer training reads. One explode +
    // one pair-keyed aggregate (map-side partial), top-20 by count.
    "ml_bpe_pairs" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 1)
        .select(col("w"), explode(expr("sequence(1, length(w) - 1)")).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(20)
    }),

    // second BPE iteration: apply the round-1 winning merge (the pair
    // becomes one symbol, spelled with a marker char absent from the
    // corpus) and recount — the trainer's apply-merge-recount loop,
    // unrolled once in pure relational form. The merge choice rides a
    // broadcast single-row join; replace() is left-to-right
    // non-overlapping in both engines.
    "ml_bpe_merge2" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 1)
      def pairCounts(df: DataFrame, wcol: String): DataFrame = df
        .select(col(wcol), explode(expr(s"sequence(1, length($wcol) - 1)")).as("i"))
        .select(expr(s"substring($wcol, i, 2)").as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("cnt"))
      val top1 = pairCounts(words, "w")
        .orderBy(col("cnt").desc, col("pair")).limit(1)
        .select(col("pair").as("merge1"))
      val merged = words.crossJoin(broadcast(top1))
        .select(col("merge1"), expr("replace(w, merge1, '¤')").as("w2"))
        .filter(length(col("w2")) > 1)
      pairCounts(merged, "w2")
        .crossJoin(broadcast(top1))
        .select(col("merge1"), col("pair"), col("cnt"))
        .orderBy(col("cnt").desc, col("pair")).limit(10)
    }),

    // adjacent-word PMI (phrase mining / tokenizer-merge signal):
    // pmi(x,y) = ln(p(xy) / (p(x) p(y))) over corpus bigrams, computed
    // from exact BIGINT counts with ONE ln at the end so both engines
    // feed the identical double into the transcendental. Support floor
    // c_xy >= 5 (the standard phrase-mining cut). Scale: two
    // word-keyed aggregates + broadcast scalar totals.
    "ml_cooccur_pmi" -> ((s, dir) => {
      val ws = t(s, dir, "documents").select(split(col("text"), " ").as("ws"))
      val uni = ws.select(explode(col("ws")).as("w"))
        .groupBy("w").agg(count(lit(1)).as("cw"))
      val nUni = uni.agg(sum(col("cw")).as("n_uni"))
      val bi = ws.filter(size(col("ws")) > 1)
        .select(explode(PipelineOps.bigrams(col("ws"))).as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("cxy"))
        .filter(col("cxy") >= 5)
        .select(expr("split(bg, ' ')[0]").as("w1"),
          expr("split(bg, ' ')[1]").as("w2"), col("cxy"))
      val nBi = ws.filter(size(col("ws")) > 1)
        .select((size(col("ws")) - 1).cast("long").as("nb"))
        .agg(sum(col("nb")).as("n_bi"))
      bi.join(uni.select(col("w").as("w1"), col("cw").as("c1")), "w1")
        .join(uni.select(col("w").as("w2"), col("cw").as("c2")), "w2")
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
        .select(col("w1"), col("w2"), col("cxy"),
          round(log(
            (col("cxy") * col("n_uni") * col("n_uni")).cast("double") /
              (col("n_bi") * col("c1") * col("c2")).cast("double")), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("w1"), col("w2")).limit(20)
    }),

    // agg-over-agg fusion (reference MergeAggregate.java): the BI
    // re-aggregation pattern GROUP BY coarse over (GROUP BY fine)
    // collapses to ONE aggregate — one shuffle instead of two. The
    // optimized plan is asserted to hold a single logical Aggregate;
    // the oracle runs the unfused two-level SQL, so the hash match
    // certifies the fusion is semantics-preserving.
    "opt_merge_agg" -> ((s, dir) => {
      val inner = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).as("sq"), count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("mnp"), max(col("l_extendedprice")).as("mxp"))
      val df = inner.groupBy(col("l_linestatus"))
        .agg(round(sum(col("sq")), 6).as("sum_qty"),
          sum(col("cnt")).as("n_rows"),
          round(min(col("mnp")), 6).as("min_price"),
          round(max(col("mxp")), 6).as("max_price"),
          min(col("l_orderkey")).as("first_order"))
        .orderBy(col("l_linestatus"))
      val aggs = df.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }
      require(aggs.size == 1,
        s"agg-over-agg did not fuse (${aggs.size} Aggregates):\n" +
          df.queryExecution.optimizedPlan)
      df
    }),

    // semi-join transpose through aggregate (reference
    // TransposeAggSemiJoin.java): a LEFT SEMI filter on the group key
    // must run BELOW the aggregate so the hash agg only sees surviving
    // rows. Native in Spark (PushDownLeftSemiAntiJoin) — this key
    // plan-asserts the transpose happened and oracle-locks the values.
    "opt_semi_transpose" -> ((s, dir) => {
      val aggd = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(round(sum(col("o_totalprice")), 6).as("spend"),
          count(lit(1)).as("n_orders"))
      val sel = t(s, dir, "customer").filter(col("c_nationkey") < 5)
        .select(col("c_custkey"))
      val df = aggd
        .join(sel, col("o_custkey") === col("c_custkey"), "left_semi")
        .filter(col("o_custkey") < 3000)
        .orderBy(col("o_custkey"))
      val agg = df.queryExecution.optimizedPlan.collectFirst {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
      }.getOrElse(throw new IllegalStateException("no Aggregate in plan"))
      val semiBelowAgg = agg.exists {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi
        case _ => false
      }
      require(semiBelowAgg,
        s"semi join did not transpose below the aggregate:\n" +
          df.queryExecution.optimizedPlan)
      df
    }),

    // transparent JOIN-MV rewrite (reference: MTMV over multi-table
    // SELECTs, nereids/rules/exploration/mv/ aggregate-on-join rules):
    // an Aggregate over the lineitem⋈orders equi-join is served from
    // the pre-joined rollup — the join and both its shuffles are paid
    // once at refresh. Plan-asserted: neither base table is scanned.
    "mv_join_rewrite" -> ((s, dir) => {
      graft.plans.MaterializedViews.createJoin(s, "mv_li_ord", dir,
        "lineitem", "orders", Seq("l_orderkey"), Seq("o_orderkey"),
        groupCols = Seq("o_orderpriority", "l_returnflag"),
        sumCols = Seq("l_quantity", "l_extendedprice"))
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val df = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"), col("l_returnflag"))
        .agg(round(sum(col("l_quantity")), 6).as("sq"),
          count(lit(1)).as("n"),
          round(avg(col("l_extendedprice")), 6).as("ap"))
        .orderBy(col("o_orderpriority"), col("l_returnflag"))
      try {
        val plan = df.queryExecution.optimizedPlan.toString
        // fired = the scan reads MV partial columns and the join is
        // gone (no join-key attrs survive anywhere in the plan)
        require(plan.contains("__sum_l_quantity") && !plan.contains("l_orderkey"),
          s"join-MV rewrite did not fire:\n$plan")
        val rows = df.collect() // executes the join-free plan
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      } finally graft.plans.MaterializedViews.drop("mv_li_ord")
    }),

    // GROUP BY d, year(d), month(d): the shape group-key
    // simplification targets (reference SimplifyAggGroupBy.java).
    // Grouping by d alone won no measurable time on a 25x set, so
    // Spark groups by all three keys; the oracle runs the same SQL.
    "opt_simplify_groupby" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderdate"),
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(round(sum(col("o_totalprice")), 6).as("sp"), count(lit(1)).as("n"))
        .orderBy(col("o_orderdate"))
    }),

    // CREATE TABLE AS SELECT through the Hive metastore catalog
    // (reference: CTAS into an OLAP table, CreateTableAsSelectStmt):
    // the aggregate materializes as a managed parquet table registered
    // in HMS, then reads back through the catalog.
    "src_ctas" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("DROP TABLE IF EXISTS graft_ctas")
      s.sql("""CREATE TABLE graft_ctas USING parquet AS
               SELECT o_orderstatus, count(*) AS n,
                      round(sum(o_totalprice), 6) AS sp
               FROM orders GROUP BY o_orderstatus""")
      s.sql("SELECT * FROM graft_ctas ORDER BY o_orderstatus")
    }),

    // partial-column update on a unique-key table (reference: partial
    // update on MoW unique tables): the update load carries only
    // (key, o_orderstatus); untouched columns keep stored values, new
    // keys insert with NULL untouched columns. One key-partitioned
    // full-outer join, presence-based column replacement.
    "x4_partial_update" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
      val upd = base.filter(col("o_orderkey") % 5 === 0)
        .select(col("o_orderkey"), lit("X").as("o_orderstatus"))
        .unionByName(
          base.filter(col("o_orderkey") % 7 === 0)
            .select((col("o_orderkey") + 9000000L).as("o_orderkey"),
              lit("NEW").as("o_orderstatus")))
      graft.ops.TableModels.partialUpdate(base, upd, Seq("o_orderkey"))
        .filter(col("o_orderkey") < 2000 || col("o_orderkey") >= 9000000L)
        .orderBy(col("o_orderkey")).limit(800)
    }),

    // external-process UDF (reference function_rpc.cpp /
    // function_python_udf.cpp): rows stream through a real subprocess
    // per partition via RDD.pipe — POSIX tr as the stand-in executor.
    // The corpus is ASCII, so tr a-z A-Z == SQL upper() and the oracle
    // can certify the round-trip through the process boundary.
    "x4_pipe_udf" -> ((s, dir) => {
      graft.ops.ExternalUdf.pipeTransform(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", Seq("tr", "a-z", "A-Z"), "utext")
        .withColumn("n_up",
          length(regexp_replace(col("utext"), "[^A-Z]", "")).cast("long"))
        .orderBy(col("doc_id"))
    })
  )

  def oracle: Map[String, String] = Map(

    "opt_vector_topn" -> s"""
      SELECT vec_id,
             round(sqrt(list_inner_product(e, e) - 2 * list_inner_product(e, $qListSql)
                        + ${qq}), 6) AS dist
      FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
      ORDER BY (list_inner_product(e, e) - 2 * list_inner_product(e, $qListSql)) ASC,
               vec_id
      LIMIT 10""",

    "ml_semdedup" -> """
      WITH prep AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings),
      cent AS (SELECT id AS cid, v AS cv, nrm AS cn FROM prep ORDER BY id LIMIT 8),
      assign AS (
        SELECT id, cid FROM (
          SELECT p.id, c.cid,
                 row_number() OVER (PARTITION BY p.id
                   ORDER BY (list_inner_product(p.v, c.cv) / (p.nrm * c.cn)) DESC,
                            c.cid) AS crn
          FROM prep p CROSS JOIN cent c) x
        WHERE crn = 1),
      pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               round(list_inner_product(pa.v, pb.v) / (pa.nrm * pb.nrm), 6) AS sim
        FROM assign a JOIN assign b ON a.cid = b.cid AND a.id < b.id
        JOIN prep pa ON pa.id = a.id
        JOIN prep pb ON pb.id = b.id)
      SELECT id_b AS vec_id, id_a AS kept_by, sim FROM (
        SELECT id_b, id_a, sim,
               row_number() OVER (PARTITION BY id_b ORDER BY id_a) AS rn
        FROM pairs WHERE sim >= 0.40) z
      WHERE rn = 1
      ORDER BY vec_id""",

    "ml_bpe_pairs" -> """
      WITH words AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      pl AS (
        SELECT unnest(list_transform(range(1, length(w)),
                                     i -> substring(w, CAST(i AS INT), 2))) AS pair
        FROM words WHERE length(w) > 1)
      SELECT pair, count(*) AS cnt
      FROM pl GROUP BY pair
      ORDER BY cnt DESC, pair LIMIT 20""",

    "ml_bpe_merge2" -> """
      WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      w1 AS (SELECT w FROM words WHERE length(w) > 1),
      p1 AS (
        SELECT unnest(list_transform(range(1, length(w)),
                 i -> substring(w, CAST(i AS INT), 2))) AS pair
        FROM w1),
      top1 AS (
        SELECT pair AS merge1 FROM (
          SELECT pair, count(*) AS cnt FROM p1 GROUP BY pair
          ORDER BY cnt DESC, pair LIMIT 1)),
      w2 AS (
        SELECT merge1, replace(w, merge1, '¤') AS w2
        FROM w1 CROSS JOIN top1),
      p2 AS (
        SELECT merge1, unnest(list_transform(range(1, length(w2)),
                 i -> substring(w2, CAST(i AS INT), 2))) AS pair
        FROM w2 WHERE length(w2) > 1)
      SELECT merge1, pair, count(*) AS cnt
      FROM p2 GROUP BY merge1, pair
      ORDER BY cnt DESC, pair LIMIT 10""",

    "ml_cooccur_pmi" -> """
      WITH ws AS (SELECT string_split(text, ' ') AS ws FROM documents),
      uni AS (SELECT unnest(ws) AS w FROM ws),
      ucnt AS (SELECT w, count(*) AS cw FROM uni GROUP BY w),
      nu AS (SELECT sum(cw) AS n_uni FROM ucnt),
      bi AS (
        SELECT unnest(list_transform(range(1, len(ws)),
                 i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1])) AS bg
        FROM ws WHERE len(ws) > 1),
      bcnt AS (SELECT bg, count(*) AS cxy FROM bi GROUP BY bg HAVING count(*) >= 5),
      nb AS (SELECT sum(len(ws) - 1) AS n_bi FROM ws WHERE len(ws) > 1)
      SELECT w1, w2, cxy,
             round(ln(CAST(cxy * n_uni * n_uni AS DOUBLE)
                      / CAST(n_bi * c1 * c2 AS DOUBLE)), 6) AS pmi
      FROM (SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2, cxy
            FROM bcnt) b
      JOIN (SELECT w AS w1, cw AS c1 FROM ucnt) u1 USING (w1)
      JOIN (SELECT w AS w2, cw AS c2 FROM ucnt) u2 USING (w2)
      CROSS JOIN nu CROSS JOIN nb
      ORDER BY pmi DESC, w1, w2 LIMIT 20""",

    "opt_merge_agg" -> """
      SELECT l_linestatus,
             round(sum(sq), 6) AS sum_qty,
             CAST(sum(cnt) AS BIGINT) AS n_rows,
             round(min(mnp), 6) AS min_price,
             round(max(mxp), 6) AS max_price,
             min(l_orderkey) AS first_order
      FROM (
        SELECT l_orderkey, l_linestatus, sum(l_quantity) AS sq,
               count(*) AS cnt, min(l_extendedprice) AS mnp,
               max(l_extendedprice) AS mxp
        FROM lineitem GROUP BY l_orderkey, l_linestatus) i
      GROUP BY l_linestatus ORDER BY l_linestatus""",

    "opt_semi_transpose" -> """
      SELECT o_custkey, round(sum(o_totalprice), 6) AS spend,
             count(*) AS n_orders
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_nationkey < 5)
        AND o_custkey < 3000
      GROUP BY o_custkey ORDER BY o_custkey""",

    "mv_join_rewrite" -> """
      SELECT o_orderpriority, l_returnflag,
             round(sum(l_quantity), 6) AS sq, count(*) AS n,
             round(avg(l_extendedprice), 6) AS ap
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority, l_returnflag
      ORDER BY o_orderpriority, l_returnflag""",

    "opt_simplify_groupby" -> """
      SELECT o_orderdate, year(o_orderdate) AS y, month(o_orderdate) AS m,
             round(sum(o_totalprice), 6) AS sp, count(*) AS n
      FROM orders
      GROUP BY o_orderdate, year(o_orderdate), month(o_orderdate)
      ORDER BY o_orderdate""",

    "src_ctas" -> """
      SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 6) AS sp
      FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "x4_partial_update" -> """
      WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders),
      upd AS (
        SELECT o_orderkey, 'X' AS s FROM base WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey + 9000000, 'NEW' FROM base WHERE o_orderkey % 7 = 0)
      SELECT COALESCE(b.o_orderkey, u.o_orderkey) AS o_orderkey,
             CASE WHEN u.o_orderkey IS NOT NULL THEN u.s
                  ELSE b.o_orderstatus END AS o_orderstatus,
             b.o_totalprice, b.o_orderpriority
      FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
      WHERE COALESCE(b.o_orderkey, u.o_orderkey) < 2000
         OR COALESCE(b.o_orderkey, u.o_orderkey) >= 9000000
      ORDER BY o_orderkey LIMIT 800""",

    "x4_pipe_udf" -> """
      SELECT doc_id, upper(text) AS utext,
             length(regexp_replace(upper(text), '[^A-Z]', '', 'g')) AS n_up
      FROM documents WHERE doc_id < 200 ORDER BY doc_id"""
  )
}
