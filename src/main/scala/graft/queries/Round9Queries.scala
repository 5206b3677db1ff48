package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q.t

/** Round-9 additions: disjunction-derived single-table predicates
  * reaching the parquet scan (plans/OrExtract.scala — reference:
  * nereids/rules/rewrite/ExtractSingleTableExpressionFromDisjunction
  * .java + InferInPredicateFromOr.java), plus the non-equi chain shape
  * UnequalPredicateInfer targets and a native-coverage probe for
  * CountLiteralRewrite.
  */
object Round9Queries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Disjunctive-band filter where one OR leg carries a parquet-
    // untranslatable conjunct (column arithmetic): Spark's native
    // DataSourceStrategy fails the whole Or translation and the scan
    // gets PushedFilters: [] — every row group is read. The
    // OrExtract rule derives the per-column disjunction
    // (l_quantity=4 OR l_quantity=5 OR l_quantity=6), which IS
    // translatable and sinks to PushedFilters, so zonemap/dictionary
    // pruning works again. At 100 TB this is the difference between a
    // stats-pruned scan and a full fact scan on banded OR queries.
    "opt_or_extract_scan" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
        .filter(
          (col("l_quantity") === 4.0 &&
            col("l_extendedprice") * col("l_discount") > lit(50.0)) ||
          (col("l_quantity") === 5.0 && col("l_tax") > lit(0.05)) ||
          (col("l_quantity") === 6.0 && col("l_returnflag") === "R"))
        .groupBy(col("l_quantity").cast("int").as("qty"))
        .agg(count(lit(1)).as("n_rows"), sum(col("l_orderkey")).as("sum_ok"))
        .orderBy(col("qty"))
      // the derived disjunction must reach the parquet scan
      val phys = df.queryExecution.executedPlan.toString
      require(phys.matches("(?s).*PushedFilters: \\[[^\\]]*l_quantity.*"),
        s"derived OR predicate did not reach PushedFilters:\n$phys")
      df
    }),

    // NON-EQUI join chain (reference: UnequalPredicateInfer.java): the
    // date-band predicate sits on orders and the join compares
    // l_shipdate > o_orderdate, so l_shipdate > cutoff is implied.
    // Spark's InferFiltersFromConstraints covers equi keys only, so the
    // fact scan gets IsNotNull alone; pushing the implied bound to it
    // measured no faster on a 25x set.
    "opt_unequal_infer" -> ((s, dir) => {
      t(s, dir, "lineitem").as("l")
        .join(t(s, dir, "orders").as("o"),
          col("l.l_orderkey") === col("o.o_orderkey") &&
            col("l.l_shipdate") > col("o.o_orderdate"))
        .filter(col("o.o_orderdate") > lit("1997-06-01").cast("timestamp_ntz"))
        .groupBy(col("l.l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l.l_orderkey")).as("sum_ok"))
        .orderBy(col("flag"))
    }),

    // count(non-null literal) — the reference rewrites this to
    // count(*) (CountLiteralRewrite.java); Spark 4 normalizes it
    // natively (probed: `count(lit(5))` plans as functions=[count(1)]
    // with ReadSchema: struct<>, zero columns read). This query pins
    // that native coverage: the plan assert fails if a regression ever
    // makes the literal count read data.
    "opt_count_literal" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
        .agg(count(lit(5)).as("n_lit"), count(lit(1)).as("n_one"),
          count(lit("x")).as("n_str"))
      val phys = df.queryExecution.executedPlan.toString
      // two acceptable plans: the bare count reads ZERO columns
      // (ReadSchema: struct<>), or the always-on MV best-index rewrite
      // has substituted a count rollup (sum of the rollup's __cnt
      // column — strictly better: it reads the tiny MV, not the fact
      // table). Either way the literal itself must never be evaluated
      // per row.
      val zeroRead = phys.contains("ReadSchema: struct<>")
      val mvCount = phys.contains("__cnt")
      require(zeroRead || mvCount,
        s"literal count must read zero columns (or the count rollup):\n$phys")
      require(!phys.contains("count(5)") &&
        (mvCount || phys.contains("count(1)")),
        s"count(literal) was not normalized to count(1):\n$phys")
      df
    }),

    // Exact duplicated-substring SPAN removal (Lee et al. '22 family —
    // the suffix-array dedup re-expressed relationally at w-shingle
    // granularity): one content-keyed (two-long 128-bit hash) shuffle
    // marks duplicated positions via a count window, per-doc maximal
    // span merge, and kept_fp fingerprints the span-REMOVED text so the
    // removal itself is value-checked cross-engine, not just the counts.
    "ml_substring_dedup" -> ((s, dir) => {
      graft.ops.Dedup.substringDedupSpans(
          t(s, dir, "documents"), "doc_id", "text", w = 8)
        .orderBy(col("doc_id"))
    }),

    // Iceberg v2 table-format READ path from the public spec, no
    // connector jar (ops/IcebergLite.scala): the fixture stages a real
    // metadata chain (version-hint → metadata.json → manifest-list
    // avro → manifest avro → parquet data + position-delete files) and
    // the reader walks it. The oracle recomputes the expected CONTENT
    // from the base lineitem table by predicate — snapshot selection,
    // manifest pruning, and the _metadata.row_index delete anti-join
    // must all be right to match. Current snapshot: both appends minus
    // the position-deleted l_linenumber=1 rows.
    "src_iceberg_scan" -> ((s, dir) => {
      val tableDir = icebergFixture(s, dir)
      graft.ops.IcebergLite.readSnapshot(s, tableDir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_ok"),
          sum(col("l_linenumber").cast("long")).as("sum_ln"))
        .orderBy(col("l_returnflag"))
    }),

    // time travel: snapshot 1000 = the FIRST append only, and the
    // later delete snapshot must NOT leak backward
    "src_iceberg_time_travel" -> ((s, dir) => {
      val tableDir = icebergFixture(s, dir)
      graft.ops.IcebergLite.readSnapshot(s, tableDir, snapshotId = Some(1000L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_ok"),
          sum(col("l_linenumber").cast("long")).as("sum_ln"))
        .orderBy(col("l_returnflag"))
    }),

    // manifest partition pruning: a l_returnflag='R' read must plan
    // ONLY the R partition's data files (asserted on the planned file
    // list — no parquet footer of any other partition is opened)
    "src_iceberg_prune" -> ((s, dir) => {
      import graft.ops.IcebergLite
      val tableDir = icebergFixture(s, dir)
      val all = IcebergLite.planFiles(tableDir).count(_.content == 0)
      val pruned = IcebergLite.planFiles(tableDir,
        partFilter = Some(_ == "R")).filter(_.content == 0)
      require(pruned.nonEmpty && pruned.size < all,
        s"partition pruning did not narrow the file list: ${pruned.size} of $all")
      require(pruned.forall(_.partValue.contains("R")),
        s"pruned plan leaked a non-R file: $pruned")
      IcebergLite.readSnapshot(s, tableDir, partFilter = Some(_ == "R"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Equality deletes + the strict sequence-visibility rule = the
    // merge-on-write UPSERT contract: snapshot log is append(evens) →
    // equality-delete(keys %10=0) → append(re-insert %10=0 under
    // 5000). The delete removes its keys ONLY from earlier-sequence
    // files, so the re-inserted rows survive. Oracle recomputes the
    // surviving set from base lineitem by predicate — non-circular.
    "src_iceberg_upsert" -> ((s, dir) => {
      import graft.ops.IcebergLite
      import org.apache.spark.sql.Row
      val src = t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 10000 && col("l_orderkey") % 2 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      def batch(f: org.apache.spark.sql.Column): Seq[(String, Seq[Row])] =
        src.filter(f)
          .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .collect().toSeq.groupBy(_.getString(2)).toSeq.sortBy(_._1)
      val delKeys = src.filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey")).distinct().orderBy(col("l_orderkey"))
        .collect().toSeq
      val tableDir = new java.io.File(
        s"target/iceberg/upsert_${new java.io.File(dir).getName}").getAbsolutePath
      IcebergLite.writeFixtureTable(s, tableDir, src, Seq(
        IcebergLite.Append(batch(lit(true))),
        IcebergLite.EqDelete(delKeys,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("l_orderkey",
              org.apache.spark.sql.types.LongType)))),
        IcebergLite.Append(batch(
          col("l_orderkey") % 10 === 0 && col("l_orderkey") < 5000))))
      val cur = IcebergLite.readSnapshot(s, tableDir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_ok"),
          sum(col("l_linenumber").cast("long")).as("sum_ln"))
        .orderBy(col("l_returnflag"))
      // belt: the pre-delete snapshot still shows every key
      val k0 = IcebergLite.readSnapshot(s, tableDir, Some(1000L)).count()
      val kDel = IcebergLite.readSnapshot(s, tableDir, Some(1001L)).count()
      require(kDel < k0, s"equality delete removed nothing: $k0 -> $kDel")
      cur
    }),

    // incremental APPEND scan between snapshots (the table-stream/CDC
    // analog of the engine's min-delta contract): files whose sequence
    // lands in (from, to] — here exactly the second append (odd
    // l_orderkey half). Oracle recomputes that window from the base
    // table by predicate.
    "src_iceberg_incremental" -> ((s, dir) => {
      val tableDir = icebergFixture(s, dir)
      graft.ops.IcebergLite.readIncremental(s, tableDir, 1000L, 1001L)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_ok"),
          sum(col("l_linenumber").cast("long")).as("sum_ln"))
        .orderBy(col("l_returnflag"))
    }),

    // bucket[8] hash-partition pruning (spec Appendix B transform —
    // murmur3_x86_32 little-endian, pinned to the published
    // hash(34)=2017239379 vector; the reference analog is
    // PruneOlapScanTablet's hash-bucket prune): a point lookup on the
    // bucket key plans ONLY the key's bucket file. Oracle recomputes
    // the key's rows from the base table (the key itself is the
    // deterministic min >= 100 on both engines).
    "src_iceberg_bucket_prune" -> ((s, dir) => {
      import graft.ops.IcebergLite
      import org.apache.spark.sql.Row
      val nBuckets = 8
      val src = t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 10000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      val rows = src
        .orderBy(col("l_orderkey"), col("l_linenumber")).collect().toSeq
      val batch = rows.groupBy(r => IcebergLite.bucketLong(r.getLong(0), nBuckets))
        .toSeq.sortBy(_._1).map { case (b, rs) => (b.toString, rs) }
      val tableDir = new java.io.File(
        s"target/iceberg/bucket_${new java.io.File(dir).getName}").getAbsolutePath
      IcebergLite.writeFixtureTable(s, tableDir, src,
        Seq(IcebergLite.Append(batch)))
      val key = rows.map(_.getLong(0)).filter(_ >= 100).min
      val want = IcebergLite.bucketLong(key, nBuckets).toString
      val all = IcebergLite.planFiles(tableDir).count(_.content == 0)
      val pruned = IcebergLite.planFiles(tableDir,
        partFilter = Some(_ == want)).filter(_.content == 0)
      require(pruned.size == 1 && all == nBuckets,
        s"bucket prune should plan exactly 1 of $all files, got ${pruned.size}")
      IcebergLite.readSnapshot(s, tableDir, partFilter = Some(_ == want))
        .filter(col("l_orderkey") === key)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_linenumber").cast("long")).as("sum_ln"))
        .orderBy(col("l_orderkey"))
    }),

    // Delta Lake protocol read path (ops/DeltaLite.scala — the JSON
    // commit-log sibling of the iceberg chain): current version =
    // replay of add/remove actions; commit 2 REMOVES the first
    // commit's 'R' file, so its rows must vanish from the read.
    "src_delta_scan" -> ((s, dir) => {
      val tableDir = deltaFixture(s, dir)
      graft.ops.DeltaLite.readVersion(s, tableDir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_ok"),
          sum(col("l_linenumber").cast("long")).as("sum_ln"))
        .orderBy(col("l_returnflag"))
    }),

    // version time travel: version 0 = the even append, pre-remove
    "src_delta_time_travel" -> ((s, dir) => {
      val tableDir = deltaFixture(s, dir)
      graft.ops.DeltaLite.readVersion(s, tableDir, version = Some(0L))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_ok"),
          sum(col("l_linenumber").cast("long")).as("sum_ln"))
        .orderBy(col("l_returnflag"))
    }),

    // partitionValues pruning during log replay: an 'A'-only read must
    // plan only 'A' files (asserted), before any footer is opened
    "src_delta_prune" -> ((s, dir) => {
      import graft.ops.DeltaLite
      val tableDir = deltaFixture(s, dir)
      val all = DeltaLite.planFiles(tableDir).size
      val pruned = DeltaLite.planFiles(tableDir,
        partFilter = Some(_.get("part").contains("A")))
      require(pruned.nonEmpty && pruned.size < all,
        s"delta partition pruning did not narrow: ${pruned.size} of $all")
      DeltaLite.readVersion(s, tableDir,
          partFilter = Some(_.get("part").contains("A")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("sum_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // Hudi COPY-ON-WRITE read path (ops/HudiLite.scala): commit 2
    // REWRITES the 'A' file group dropping l_linenumber=1 rows (the
    // CoW update), so the current snapshot = latest file slice per
    // group must show the rewritten content while 'N'/'R' groups keep
    // their first slices.
    "src_hudi_scan" -> ((s, dir) => {
      val tableDir = hudiFixture(s, dir)
      graft.ops.HudiLite.readSnapshot(s, tableDir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_ok"),
          sum(col("l_linenumber").cast("long")).as("sum_ln"))
        .orderBy(col("l_returnflag"))
    }),

    // time travel to the first instant: pre-rewrite slices everywhere
    "src_hudi_time_travel" -> ((s, dir) => {
      val tableDir = hudiFixture(s, dir)
      graft.ops.HudiLite.readSnapshot(s, tableDir, instant = Some("001"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_orderkey")).as("sum_ok"),
          sum(col("l_linenumber").cast("long")).as("sum_ln"))
        .orderBy(col("l_returnflag"))
    })
  )

  /** Hudi fixture: commit 001 writes one file group per l_returnflag
    * partition (l_orderkey < 15000); commit 002 copy-on-write rewrites
    * the 'A' group without its l_linenumber=1 rows. */
  private val hudiBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def hudiFixture(s: SparkSession, dir: String): String =
    hudiBuilt.computeIfAbsent(dir, _ => {
      import graft.ops.HudiLite
      import org.apache.spark.sql.Row
      val src = t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 15000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      def part(p: String, extra: org.apache.spark.sql.Column): Seq[Row] =
        src.filter(col("l_returnflag") === p && extra)
          .orderBy(col("l_orderkey"), col("l_linenumber")).collect().toSeq
      val tableDir = new java.io.File(
        s"target/hudi/lineitem_${new java.io.File(dir).getName}").getAbsolutePath
      HudiLite.writeFixtureTable(s, tableDir, src, Seq(
        HudiLite.Commit("001", Seq(
          ("A", "fg-a", part("A", lit(true))),
          ("N", "fg-n", part("N", lit(true))),
          ("R", "fg-r", part("R", lit(true))))),
        HudiLite.Commit("002", Seq(
          ("A", "fg-a", part("A", col("l_linenumber") =!= 1))))))
      tableDir
    })

  /** Delta fixture: commit 0 adds the even half (partitioned by
    * l_returnflag), commit 1 the odd half, commit 2 removes commit 0's
    * 'R' file (a delete/compaction-style action). */
  private val deltaBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def deltaFixture(s: SparkSession, dir: String): String =
    deltaBuilt.computeIfAbsent(dir, _ => {
      import graft.ops.DeltaLite
      import org.apache.spark.sql.Row
      val src = t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 20000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      def batch(m: Int): Seq[(String, Seq[Row])] = {
        val rows = src.filter(col("l_orderkey") % 2 === m)
          .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .collect().toSeq
        rows.groupBy(_.getString(2)).toSeq.sortBy(_._1)
      }
      val tableDir = new java.io.File(
        s"target/delta/lineitem_${new java.io.File(dir).getName}").getAbsolutePath
      val b0 = batch(0)
      val added0 = b0.map(_._1) // partition order of commit 0
      val rIdx = added0.indexOf("R")
      require(rIdx >= 0, "fixture premise: commit 0 has an R partition")
      val rels = DeltaLite.writeFixtureTable(s, tableDir, src, Seq(
        DeltaLite.Commit(adds = b0),
        DeltaLite.Commit(adds = batch(1)),
        DeltaLite.Commit(removes = Seq(s"data/c0_f${rIdx}_R.parquet"))))
      require(rels.contains(s"data/c0_f${rIdx}_R.parquet"),
        s"expected relative path not produced: $rels")
      tableDir
    })

  /** Stage the iceberg fixture table once per (sfDir, JVM): two append
    * snapshots (even / odd l_orderkey halves, identity-partitioned by
    * l_returnflag) + one position-delete snapshot removing every
    * l_linenumber=1 row. Row order inside each data file is the sort
    * order used here, so delete positions are exact by construction. */
  private val icebergBuilt = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def icebergFixture(s: SparkSession, dir: String): String =
    icebergBuilt.computeIfAbsent(dir, _ => {
      import org.apache.spark.sql.Row
      val src = t(s, dir, "lineitem")
        .filter(col("l_orderkey") < 20000)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))
      def batch(m: Int): Seq[(String, Seq[Row])] = {
        val rows = src.filter(col("l_orderkey") % 2 === m)
          .orderBy(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
          .collect().toSeq
        rows.groupBy(_.getString(2)).toSeq.sortBy(_._1)
      }
      val b0 = batch(0)
      val b1 = batch(1)
      val fileOrder: Seq[Seq[Row]] = b0.map(_._2) ++ b1.map(_._2)
      val dels = fileOrder.zipWithIndex.flatMap { case (rs, fi) =>
        val ps = rs.zipWithIndex.collect {
          case (r, i) if r.getInt(1) == 1 => i.toLong }
        if (ps.nonEmpty) Some(fi -> ps) else None
      }
      // absolute path: manifests record file_path verbatim and the
      // delete anti-join matches it against _metadata.file_path
      val tableDir = new java.io.File(
        s"target/iceberg/lineitem_${new java.io.File(dir).getName}").getAbsolutePath
      graft.ops.IcebergLite.writeFixtureTable(s, tableDir, src, Seq(b0, b1), dels)
      tableDir
    })

  def oracle: Map[String, String] = Map(

    "opt_or_extract_scan" -> """
      SELECT CAST(l_quantity AS INT) AS qty, count(*) AS n_rows,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
      FROM lineitem
      WHERE (l_quantity = 4 AND l_extendedprice * l_discount > 50)
         OR (l_quantity = 5 AND l_tax > 0.05)
         OR (l_quantity = 6 AND l_returnflag = 'R')
      GROUP BY 1 ORDER BY 1""",

    "opt_unequal_infer" -> """
      SELECT l.l_returnflag AS flag, count(*) AS n_rows,
             CAST(sum(l.l_orderkey) AS BIGINT) AS sum_ok
      FROM lineitem l JOIN orders o
        ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      WHERE o.o_orderdate > TIMESTAMP '1997-06-01'
      GROUP BY 1 ORDER BY 1""",

    "opt_count_literal" -> """
      SELECT count(5) AS n_lit, count(*) AS n_one, count('x') AS n_str
      FROM lineitem""",

    // identical span semantics re-derived: w=8 shingles keyed by md5,
    // count >= 2 anywhere in the corpus, equal-length intervals merge
    // when p <= lag(p) + 7, kept text = words outside every span
    "ml_substring_dedup" -> """
      WITH b2 AS (
        SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ws,
               len(string_split(coalesce(text, ''), ' ')) AS n
        FROM documents),
      sh AS (
        SELECT doc_id, g.p,
               md5(array_to_string(list_slice(ws, g.p, g.p + 7), ' ')) AS hs
        FROM b2, LATERAL (SELECT unnest(generate_series(1, n - 7)) AS p) g
        WHERE n >= 8),
      dup AS (SELECT hs FROM sh GROUP BY hs HAVING count(*) >= 2),
      dp AS (SELECT s.doc_id, s.p FROM sh s JOIN dup USING (hs)),
      m AS (
        SELECT doc_id, p,
          CASE WHEN lag(p) OVER w IS NULL OR p > lag(p) OVER w + 7
               THEN 1 ELSE 0 END AS brk
        FROM dp WINDOW w AS (PARTITION BY doc_id ORDER BY p)),
      i AS (
        SELECT doc_id, p, sum(brk) OVER (PARTITION BY doc_id ORDER BY p
                                         ROWS UNBOUNDED PRECEDING) AS isl
        FROM m),
      sp AS (
        SELECT doc_id, isl, min(p) AS s, max(p) + 7 AS e, count(*) AS npos
        FROM i GROUP BY doc_id, isl),
      pd AS (
        SELECT doc_id, count(*) AS n_spans, sum(e - s + 1) AS covered,
               sum(npos) AS n_dup_pos
        FROM sp GROUP BY doc_id),
      keptw AS (
        SELECT b2.doc_id, w.i, w.x
        FROM b2, LATERAL (SELECT unnest(ws) AS x,
                                 generate_subscripts(ws, 1) AS i) w
        WHERE NOT EXISTS (SELECT 1 FROM sp
                          WHERE sp.doc_id = b2.doc_id
                            AND w.i BETWEEN sp.s AND sp.e)),
      kept AS (
        SELECT doc_id, string_agg(x, ' ' ORDER BY i) AS kt
        FROM keptw GROUP BY doc_id)
      SELECT b2.doc_id, CAST(b2.n AS BIGINT) AS n_words,
             CAST(coalesce(pd.n_spans, 0) AS BIGINT) AS n_spans,
             CAST(coalesce(pd.n_dup_pos, 0) AS BIGINT) AS n_dup_pos,
             CAST(coalesce(pd.covered, 0) AS BIGINT) AS covered,
             CAST(b2.n - coalesce(pd.covered, 0) AS BIGINT) AS kept_words,
             md5(coalesce(k.kt, '')) AS kept_fp
      FROM b2 LEFT JOIN pd USING (doc_id) LEFT JOIN kept k USING (doc_id)
      ORDER BY doc_id""",

    // expected content from the BASE table by predicate (non-circular):
    // both appends = all l_orderkey < 20000 rows; position deletes
    // removed every l_linenumber = 1 row
    "src_iceberg_scan" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
             CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
      FROM lineitem
      WHERE l_orderkey < 20000 AND l_linenumber <> 1
      GROUP BY 1 ORDER BY 1""",

    // snapshot 1000 = first append only (even l_orderkey), no deletes
    "src_iceberg_time_travel" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
             CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
      FROM lineitem
      WHERE l_orderkey < 20000 AND l_orderkey % 2 = 0
      GROUP BY 1 ORDER BY 1""",

    "src_iceberg_prune" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
      FROM lineitem
      WHERE l_orderkey < 20000 AND l_linenumber <> 1
        AND l_returnflag = 'R'
      GROUP BY 1 ORDER BY 1""",

    // surviving set: evens under 10000, minus %10=0 keys EXCEPT the
    // re-inserted ones (%10=0 under 5000) — the upsert contract
    "src_iceberg_upsert" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
             CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
      FROM lineitem
      WHERE l_orderkey < 10000 AND l_orderkey % 2 = 0
        AND (l_orderkey % 10 <> 0 OR l_orderkey < 5000)
      GROUP BY 1 ORDER BY 1""",

    // the (1000, 1001] window = the odd-l_orderkey append only
    "src_iceberg_incremental" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
             CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
      FROM lineitem
      WHERE l_orderkey < 20000 AND l_orderkey % 2 = 1
      GROUP BY 1 ORDER BY 1""",

    "src_iceberg_bucket_prune" -> """
      SELECT l_orderkey, count(*) AS n,
             CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
      FROM lineitem
      WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem
                          WHERE l_orderkey >= 100 AND l_orderkey < 10000)
      GROUP BY 1 ORDER BY 1""",

    // current version: both halves minus the removed (even, 'R') file
    "src_delta_scan" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
             CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
      FROM lineitem
      WHERE l_orderkey < 20000
        AND NOT (l_orderkey % 2 = 0 AND l_returnflag = 'R')
      GROUP BY 1 ORDER BY 1""",

    // version 0 = even half only
    "src_delta_time_travel" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
             CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
      FROM lineitem
      WHERE l_orderkey < 20000 AND l_orderkey % 2 = 0
      GROUP BY 1 ORDER BY 1""",

    // 'A' partition across both halves (the remove hit 'R' only)
    "src_delta_prune" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok
      FROM lineitem
      WHERE l_orderkey < 20000 AND l_returnflag = 'A'
      GROUP BY 1 ORDER BY 1""",

    // latest slices: rewritten 'A' group (no l_linenumber=1), original
    // 'N'/'R' groups
    "src_hudi_scan" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
             CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
      FROM lineitem
      WHERE l_orderkey < 15000
        AND NOT (l_returnflag = 'A' AND l_linenumber = 1)
      GROUP BY 1 ORDER BY 1""",

    // instant 001 = every group's first slice
    "src_hudi_time_travel" -> """
      SELECT l_returnflag, count(*) AS n,
             CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
             CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
      FROM lineitem
      WHERE l_orderkey < 15000
      GROUP BY 1 ORDER BY 1"""
  )
}
