package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.VectorSearch
import Q.t

/** Round-7 additions — every key oracle-exact vs DuckDB.
  *
  * Training-pipeline: ml_kmeans_assign (Lloyd's k-means, deterministic
  * first-k init + rounded means), ml_cluster_sample (per-learned-cluster
  * quota), ml_segment_dedup (ExactSubstr/C4 segment dedup with
  * reassembly), ml_unigram_logprob (CCNet-style mean NLL),
  * ml_dsir_weight (importance-resampling log-ratio), ml_feature_hash
  * (hashing-trick featurization), ml_ann_pq / ml_ann_ivfpq (product
  * quantization ADC, alone and composed with IVF cells).
  *
  * Behavior/time-series analytics: fq_sessionize (gap sessions),
  * fq_session_funnel (ordered funnel depth within sessions),
  * fq_event_paths (transition bigrams), fq_pagerank_events (weighted
  * power iteration), fq_ts_gapfill (daily spine + forward fill),
  * fq_rfm (broadcast-boundary quintiles, not a global ntile),
  * fq_zscore_outliers, fq_cohort_retention, ds_tfidf_topterms.
  *
  * Optimizer-rule shapes, value-locked by their oracles:
  * opt_scalar_subq_window + opt_scalar_subq_select (correlated scalar
  * aggregates, INNER and LEFT OUTER decorrelation), opt_merge_percentile
  * (N percentiles of one column), opt_union_distinct_elim (UNION of
  * tagged unique branches — InferSetOpDistinctRule drops its dedup,
  * plan-asserted here), opt_pullup_union_join (UNION ALL of joins
  * sharing a side), opt_agg_by_unique (GROUP BY a unique key). Spark
  * plans the others as written: their reference rewrites measured no
  * faster on a 25x set.
  */
object Round7Queries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "ml_kmeans_assign" -> ((s, dir) => {
      VectorSearch.kmeansAssign(t(s, dir, "embeddings"), 8, 2)
        .orderBy(col("vec_id"))
    }),

    "fq_sessionize" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      // micros on BOTH sides: DuckDB's epoch() is fractional seconds and
      // Spark's unix_timestamp truncates, so a sub-second gap straddling
      // the threshold would diverge — epoch_us/unix_micros are exact.
      val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
      val brk = when(lag(col("ts"), 1).over(w).isNull ||
        gapUs > lit(86400L * 1000000L), 1L).otherwise(0L)
      e.select(col("user_id"), col("event_id"), col("ts"))
        .withColumn("brk", brk)
        .withColumn("session_id",
          sum(col("brk")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          // epoch micros, not a raw timestamp: parquet loaders disagree
          // on ns-vs-us units for timestamp columns (oracle_check warns)
          unix_micros(min(col("ts"))).as("start_us"),
          (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("dur_us"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // ExactSubstr/C4-style segment-level dedup with reassembly
    // (Lee et al., "Deduplicating Training Data Makes Language Models
    // Better"): split each doc into non-overlapping 10-word segments,
    // keep only the globally-first occurrence of each segment text
    // (ordered by doc_id, seg), and rebuild the surviving text per doc.
    // A doc whose every segment already appeared elsewhere drops out
    // entirely. Scale: explode is linear; the first-occurrence pass is
    // ONE shuffle keyed by segment content; reassembly shuffles by
    // doc_id — no pairwise comparisons anywhere.
    "ml_segment_dedup" -> ((s, dir) => {
      val segs = t(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("parts"))
        .select(col("doc_id"), col("parts"),
          explode(sequence(lit(0),
            (ceil(size(col("parts")) / 10.0) - 1).cast("int"))).as("seg"))
        .select(col("doc_id"), col("seg"),
          concat_ws(" ", slice(col("parts"), col("seg") * 10 + 1, lit(10))).as("seg_text"))
      // first occurrence via hash-keyed groupBy-min (r17): the old
      // row_number window shuffled on the seg_text STRING and paid a
      // full string sort per partition; grouping on a 128-bit two-long
      // content key (independent seeds — the seed-first fold, see
      // Dedup.substringDedupSpans) with min(struct(doc_id, seg,
      // seg_text)) picks the identical winner (lexicographic struct min
      // == ORDER BY doc_id, seg since (doc_id, seg) is unique) through
      // a hash aggregate: no sort, map-side partial aggregation absorbs
      // within-task duplicate segments before the exchange.
      val first = segs
        .groupBy(xxhash64(col("seg_text")).as("k1"),
          xxhash64(lit(1), col("seg_text")).as("k2"))
        .agg(min(struct(col("doc_id"), col("seg"), col("seg_text"))).as("win"))
        .select(col("win.doc_id").as("doc_id"), col("win.seg").as("seg"),
          col("win.seg_text").as("seg_text"))
      first
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          array_join(transform(
            array_sort(collect_list(struct(col("seg"), col("seg_text")))),
            x => x("seg_text")), " ").as("nt"))
        .select(col("doc_id"), col("n_kept"), md5(col("nt")).as("new_md5"),
          size(split(col("nt"), " ")).cast("long").as("new_words"))
        .orderBy(col("doc_id"))
    }),

    // cluster-then-sample: per-kmeans-cluster representative quota (the
    // semantic-diversity sampling pass — stratified sampling where the
    // strata are LEARNED topic clusters instead of a metadata column)
    "ml_cluster_sample" -> ((s, dir) => {
      val a = VectorSearch.kmeansAssign(t(s, dir, "embeddings"), 8, 1)
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("dist").asc, col("vec_id").asc)
      a.withColumn("rk", row_number().over(w)).filter(col("rk") <= 30)
        .select(col("cluster"), col("rk"), col("vec_id"), col("dist"))
        .orderBy(col("cluster"), col("rk"))
    }),

    // CCNet-style unigram language-model quality score: per-doc mean
    // negative log-probability under the corpus's own unigram model.
    // Scale: the vocabulary is tiny relative to the corpus (counts
    // table broadcast); one explode pass + one doc_id-keyed aggregate.
    "ml_unigram_logprob" -> ((s, dir) => {
      val words = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      val cnt = words.groupBy(col("word")).agg(count(lit(1)).as("c"))
      val tot = cnt.agg(sum(col("c")).as("n"))
      words.join(broadcast(cnt), "word").crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          round(avg(-log(col("c") / col("n"))), 6).as("nll"))
        .orderBy(col("doc_id"))
    }),

    // product-quantization ANN: 8 subspaces x 16 codes over the 64-dim
    // corpus, asymmetric distance computation — see VectorSearch.pqTopK
    "ml_ann_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSearch.pqTopK(emb, emb.filter(col("vec_id") < 5),
          nSub = 8, subDim = 8, nCodes = 16, k = 10)
        .orderBy(col("q_id"), col("rn"))
    }),

    // IVF-PQ composed ANN: coarse cells bound the candidate set, PQ
    // codes bound the per-candidate cost — VectorSearch.topKIvfPq
    "ml_ann_ivfpq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSearch.topKIvfPq(emb, emb.filter(col("vec_id") < 5),
          nCells = 8, nprobe = 3, nSub = 8, subDim = 8, nCodes = 16, k = 10)
        .orderBy(col("q_id"), col("rn"))
    }),

    // residual-coded IVF-PQ (the faiss default): PQ codes each vector's
    // residual from its cell centroid — see VectorSearch.topKIvfPqResidual
    "ml_ann_ivfpq_res" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSearch.topKIvfPqResidual(emb, emb.filter(col("vec_id") < 5),
          nCells = 8, nprobe = 3, nSub = 8, subDim = 8, nCodes = 16, k = 10)
        .orderBy(col("q_id"), col("rn"))
    }),

    // DSIR-style importance weighting (Xie et al., "Data Selection for
    // Language Models via Importance Resampling"): per-doc mean
    // log-ratio of target-domain vs corpus unigram probability with
    // add-1 smoothing (target = lang='en' slice). Positive = looks like
    // the target domain. Scale: both count tables and the three scalar
    // totals broadcast; one explode pass + one doc-keyed aggregate.
    "ml_dsir_weight" -> ((s, dir) => {
      val w = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
      val src = w.groupBy(col("word")).agg(count(lit(1)).as("cs"))
      val tgt = w.filter(col("lang") === "en")
        .groupBy(col("word")).agg(count(lit(1)).as("ct"))
      val vocab = src.agg(count(lit(1)).as("v"))
      val ns = src.agg(sum(col("cs")).as("n_s"))
      val nt = tgt.agg(sum(col("ct")).as("n_t"))
      w.join(broadcast(src), "word")
        .join(broadcast(tgt), Seq("word"), "left")
        .crossJoin(broadcast(ns)).crossJoin(broadcast(nt)).crossJoin(broadcast(vocab))
        .groupBy(col("doc_id"))
        .agg(round(avg(
          log((coalesce(col("ct"), lit(0L)) + 1) / (col("n_t") + col("v"))) -
          log((col("cs") + 1) / (col("n_s") + col("v")))), 6).as("logweight"))
        .orderBy(col("doc_id"))
    }),

    // event-path analysis: top transition bigrams of the per-user event
    // sequence (the Markov-path companion to window_funnel); one
    // user_id shuffle for the lag, one small shuffle on the pair
    "fq_event_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("prev"), col("event_type").as("next"), col("n"))
        .orderBy(col("n").desc, col("prev"), col("next")).limit(20)
    }),

    // time-series gap filling: generate the daily spine per user between
    // its min and max day, LEFT-join the actual daily rollup, and
    // forward-fill with last_value IGNORE NULLS — the standard
    // "densify then ffill" pass. Scale: the spine explodes per-user
    // (no cross join against a global calendar), and the fill window
    // rides the same user_id partitioning as the rollup.
    "fq_ts_gapfill" -> ((s, dir) => {
      val daily = t(s, dir, "events").filter(col("user_id") < 10)
        .groupBy(col("user_id"), col("ts").cast("date").as("d"))
        .agg(round(sum(col("value")), 6).as("v"))
      val spine = daily.groupBy(col("user_id"))
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("d"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(daily, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d").cast("string").as("day"),
          when(col("v").isNull, 1).otherwise(0).as("filled"),
          last(col("v"), ignoreNulls = true).over(w).as("v"))
        .orderBy(col("user_id"), col("day"))
    }),

    // hashing-trick featurization: token -> md5-derived bucket in
    // [0, 1024), per-doc sparse counts (the classic fixed-width
    // text-feature encoding; md5 keeps engine and oracle bit-identical)
    "ml_feature_hash" -> ((s, dir) => {
      t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .select(col("doc_id"),
          pmod(conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long"),
            lit(1024L)).as("f"))
        .groupBy(col("doc_id"), col("f")).agg(count(lit(1)).as("c"))
        .orderBy(col("doc_id"), col("f"))
    }),

    // RFM segmentation via broadcast quintile BOUNDARIES, not a global
    // ntile window: a positional ntile needs a single-partition sort of
    // every user — the scale-killer — while boundary scoring is one
    // small aggregate + a broadcast, and only tie assignment differs.
    // Score 5 = top quintile on each of recency/frequency/monetary.
    "fq_rfm" -> ((s, dir) => {
      val agg = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(unix_micros(max(col("ts"))).as("last_us"),
          count(lit(1)).as("freq"),
          round(sum(when(col("event_type") === "purchase", col("value"))
            .otherwise(0.0)), 6).as("monetary"))
      val qs = "array(0.2d, 0.4d, 0.6d, 0.8d)"
      val bounds = agg.agg(
        expr(s"transform(percentile(last_us, $qs), x -> round(x, 6))").as("br"),
        expr(s"transform(percentile(freq, $qs), x -> round(x, 6))").as("bf"),
        expr(s"transform(percentile(monetary, $qs), x -> round(x, 6))").as("bm"))
      agg.crossJoin(broadcast(bounds))
        .select(col("user_id"),
          (size(filter(col("br"), x => col("last_us") > x)) + 1).as("r"),
          (size(filter(col("bf"), x => col("freq") > x)) + 1).as("f"),
          (size(filter(col("bm"), x => col("monetary") > x)) + 1).as("m"))
        .orderBy(col("user_id"))
    }),

    // per-event-type z-score outliers (|z| > 2.5): group stats are a
    // tiny broadcast; the scan stays one pass
    "fq_zscore_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val stats = e.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"), stddev_samp(col("value")).as("sd"))
      e.join(broadcast(stats), "event_type")
        .withColumn("z", (col("value") - col("mu")) / col("sd"))
        .filter(abs(col("z")) > 2.5)
        .select(col("event_id"), col("event_type"),
          round(col("value"), 6).as("value"), round(col("z"), 4).as("z"))
        .orderBy(col("event_id"))
    }),

    // weighted PageRank over the event-type transition graph (damping
    // 0.85, two power iterations, per-iteration 8-decimal rounding so
    // engine and oracle iterate identical vectors). The iterative-graph
    // companion to the connected-components dedup resolver: each
    // iteration is one dst-keyed shuffle join of the rank vector with
    // the edge list — the standard distributed power-iteration shape.
    "fq_pagerank_events" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val wlag = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val edges = e
        .select(col("event_type").as("dst"),
          lag(col("event_type"), 1).over(wlag).as("src"))
        .filter(col("src").isNotNull)
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("ew"))
        .localCheckpoint()
      val outw = edges.groupBy(col("src")).agg(sum(col("ew")).as("tw"))
        .withColumnRenamed("src", "osrc")
      val nodes = e.select(col("event_type").as("n")).distinct()
      val nn = nodes.agg(count(lit(1)).as("k"))
      val base = nodes.crossJoin(broadcast(nn)).localCheckpoint()
      var pr = base.select(col("n"), (lit(1.0) / col("k")).as("pr"))
      for (_ <- 1 to 2) {
        pr = base
          .join(edges, col("n") === col("dst"), "left")
          .join(pr.select(col("n").as("srcn"), col("pr").as("spr")),
            col("src") === col("srcn"), "left")
          .join(outw, col("src") === col("osrc"), "left")
          .groupBy(col("n"), col("k"))
          .agg(round(lit(0.15) / col("k") +
            lit(0.85) * coalesce(sum(col("spr") * col("ew") / col("tw")), lit(0.0)),
            8).as("pr"))
          .select(col("n"), col("pr"))
      }
      pr.select(col("n").as("node"), col("pr")).orderBy(col("node"))
    }),

    // TF-IDF top-3 terms per doc (the classic relevance weighting next
    // to the BM25 search surface); df table and corpus size broadcast
    "ds_tfidf_topterms" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      val tf = w.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val dfreq = w.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(countDistinct(col("doc_id")).as("n"))
      val win = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      tf.join(broadcast(dfreq), "term").crossJoin(broadcast(n))
        .withColumn("score", round(col("tf") * log(col("n") / col("df")), 6))
        .withColumn("rn", row_number().over(win))
        .filter(col("rn") <= 3 && col("doc_id") < 100)
        .select(col("doc_id"), col("rn"), col("term"), col("score"))
        .orderBy(col("doc_id"), col("rn"))
    }),

    // weekly cohort retention matrix: cohort = user's first-seen week,
    // wk = weeks since that user's first day, active = distinct users.
    // Integer day arithmetic on both sides — no week-truncation
    // anchor semantics to keep in sync between engines.
    "fq_cohort_retention" -> ((s, dir) => {
      // first-seen date as a window over the user_id partition: ONE
      // shuffle on user_id and no per-user side table (a broadcast of a
      // user-keyed table would grow with the corpus — same scale class
      // as the r7 bigram finding)
      val e = t(s, dir, "events")
        .withColumn("d0", min(col("ts").cast("date"))
          .over(Window.partitionBy(col("user_id"))))
      e.select(col("user_id"),
          floor(datediff(col("d0"), lit("2024-01-01").cast("date")) / 7)
            .cast("int").as("cohort"),
          floor(datediff(col("ts").cast("date"), col("d0")) / 7)
            .cast("int").as("wk"))
        .groupBy(col("cohort"), col("wk"))
        .agg(countDistinct(col("user_id")).as("active"))
        .orderBy(col("cohort"), col("wk"))
    }),

    // funnel depth WITHIN gap-based sessions — composes fq_sessionize's
    // session derivation with strictly-ordered view->click->purchase
    // step resolution (each step = one conditional-min join keyed on
    // (user, session); all shuffles share the user_id key)
    "fq_session_funnel" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val brk = when(lag(col("ts"), 1).over(w).isNull ||
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >
          lit(86400L * 1000000L), 1L).otherwise(0L)
      val sess = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("sid", sum(brk).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .localCheckpoint()
      val k = Seq("user_id", "sid")
      val s1 = sess.filter(col("event_type") === "view")
        .groupBy(k.map(col): _*).agg(min(col("ts")).as("t1"))
      val s2 = sess.join(s1, k).filter(col("event_type") === "click" && col("ts") > col("t1"))
        .groupBy(k.map(col): _*).agg(min(col("ts")).as("t2"))
      val s3 = sess.join(s2, k).filter(col("event_type") === "purchase" && col("ts") > col("t2"))
        .groupBy(k.map(col): _*).agg(min(col("ts")).as("t3"))
      sess.select(col("user_id"), col("sid")).distinct()
        .join(s1, k, "left").join(s2, k, "left").join(s3, k, "left")
        .select(when(col("t3").isNotNull, 3)
          .when(col("t2").isNotNull, 2)
          .when(col("t1").isNotNull, 1).otherwise(0).as("depth"))
        .groupBy(col("depth")).agg(count(lit(1)).as("n_sessions"))
        .orderBy(col("depth"))
    }),

    "opt_pullup_union_join" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT n_name, s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_acctbal > 5000
        UNION ALL
        SELECT n_name, s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_acctbal < -500
        ORDER BY n_name, s_name""")
    }),

    // SELECT-list scalar subquery (left-outer decorrelation) — "each
    // row with its group average"
    "opt_scalar_subq_select" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
          round((SELECT avg(l_quantity) FROM lineitem i
                 WHERE i.l_partkey = o.l_partkey), 6) AS pavg
        FROM lineitem o
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""")
    }),

    // last-touch attribution: each purchase credits the most recent
    // non-purchase event within 24h (IGNORE NULLS lag carries the last
    // touch forward); one user_id shuffle, then a tiny channel rollup
    "fq_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val touchType = when(col("event_type") =!= "purchase", col("event_type"))
      val touchTs = when(col("event_type") =!= "purchase", col("ts"))
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
        .withColumn("touch", lag(touchType, 1, null, ignoreNulls = true).over(w))
        .withColumn("touch_ts", lag(touchTs, 1, null, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(coalesce(
          when(unix_micros(col("ts")) - unix_micros(col("touch_ts")) <=
            lit(86400L * 1000000L), col("touch")), lit("none")).as("channel"),
          col("value"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("purchases"), round(sum(col("value")), 6).as("revenue"))
        .orderBy(col("channel"))
    }),

    // 7-day moving average of daily active users; the trailing window
    // runs over the DAILY rollup (|days| rows — bounded at any corpus
    // scale), not the raw events. The single-partition WindowExec here
    // is bounded BY CONSTRUCTION: its input is the groupBy(date)
    // output, whose cardinality is the calendar (a few thousand rows
    // for a decade of data), never the event volume — the r16-verdict
    // unbounded-window audit classifies this site as safe.
    "fq_dau_ma7" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .groupBy(col("ts").cast("date").as("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val w = Window.orderBy(col("d")).rowsBetween(-6, Window.currentRow)
      daily.select(col("d").cast("string").as("day"), col("dau"),
          round(avg(col("dau")).over(w), 6).as("ma7"))
        .orderBy(col("day"))
    }),

    // DAU/MAU stickiness per month (avg daily actives / monthly actives)
    "fq_stickiness" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val daily = e.groupBy(col("ts").cast("date").as("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val monthly = daily.groupBy(trunc(col("d"), "month").as("mo"))
        .agg(avg(col("dau")).as("avg_dau"))
      val mau = e.groupBy(trunc(col("ts").cast("date"), "month").as("mo"))
        .agg(countDistinct(col("user_id")).as("mau"))
      mau.join(monthly, "mo")
        .select(col("mo").cast("string").as("month"),
          round(col("avg_dau"), 6).as("avg_dau"), col("mau"),
          round(col("avg_dau") / col("mau"), 6).as("stickiness"))
        .orderBy(col("month"))
    }),

    // median step-transition times through the strictly-ordered
    // view -> click -> purchase funnel (per-user conditional mins, then
    // one exact median over the converted cohort)
    "fq_funnel_time" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = e.join(s1, "user_id")
        .filter(col("event_type") === "click" && col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = e.join(s2, "user_id")
        .filter(col("event_type") === "purchase" && col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.join(s2, "user_id").join(s3, "user_id")
        .select(
          ((unix_micros(col("t2")) - unix_micros(col("t1"))) / 1000000.0).as("vc"),
          ((unix_micros(col("t3")) - unix_micros(col("t2"))) / 1000000.0).as("cp"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(vc, 0.5)"), 0).cast("long").as("med_view_click_s"),
          round(expr("percentile(cp, 0.5)"), 0).cast("long").as("med_click_purchase_s"))
    }),

    // market-basket pair mining: co-occurring part pairs within an
    // order. The self-join is keyed on l_orderkey, so each order only
    // pairs with itself — candidate count is sum of per-order
    // (items choose 2), bounded by the small per-order item count, not
    // |lineitem|^2 (same bounded-blocking shape as the dedup family).
    // one-row corpus "datasheet": size, vocabulary, language entropy,
    // exact-dup rate — the summary block of a dataset card
    "ml_dataset_card" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words = docs.select(explode(split(col("text"), " ")).as("w"))
      val langEnt = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
        .agg(round(-sum((col("c") / col("n")) * log(col("c") / col("n"))), 6)
          .as("lang_entropy"))
      docs.agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"),
          countDistinct(col("lang")).as("n_langs"),
          (lit(1.0) - countDistinct(md5(col("text"))) /
            count(lit(1)).cast("double")).as("dup_rate"))
        .crossJoin(broadcast(words.agg(count(lit(1)).as("total_words"),
          countDistinct(col("w")).as("vocab"))))
        .crossJoin(broadcast(langEnt))
        .select(col("n_docs"), col("total_words"), col("vocab"),
          col("avg_chars"), col("n_langs"), col("lang_entropy"),
          round(col("dup_rate"), 6).as("dup_rate"))
    }),

    "ds_basket_pairs" -> ((s, dir) => {
      val items = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")).distinct()
      items.as("a").join(items.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("p1"), col("b.pk").as("p2"))
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n"))
        .filter(col("n") >= 3)
        .orderBy(col("n").desc, col("p1"), col("p2")).limit(50)
    }),

    "opt_agg_by_unique" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderkey"))
        .agg(round(sum(col("o_totalprice")), 6).as("total"),
          count(lit(1)).as("n"),
          max(col("o_orderpriority")).as("pri"),
          round(avg(col("o_totalprice")), 6).as("avg_p"))
        .filter(col("o_orderkey") < 5000)
        .orderBy(col("o_orderkey"))
    }),

    "opt_merge_percentile" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_quantity, 0.99)"), 6).as("p99"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("ep50"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    "opt_union_distinct_elim" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      val df = s.sql("""
        SELECT 'cust' AS src, c_custkey AS k, round(c_acctbal, 2) AS v FROM customer
        UNION
        SELECT 'supp' AS src, s_suppkey AS k, round(s_acctbal, 2) AS v FROM supplier
        ORDER BY src, k""")
      val optimized = df.queryExecution.optimizedPlan.toString
      require(!optimized.contains("Aggregate"),
        s"union dedup survived constraint inference:\n$optimized")
      require(optimized.contains("Union"), s"union gone:\n$optimized")
      df
    }),

    "opt_scalar_subq_window" -> ((s, dir) => {
      graft.Tables.registerAll(s, dir)
      s.sql("""
        SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
        FROM lineitem o
        WHERE l_quantity > 1.5 * (SELECT avg(l_quantity) FROM lineitem i
                                  WHERE i.l_partkey = o.l_partkey)
        ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""")
    })
  )

  def oracle: Map[String, String] = Map(

    // two Lloyd iterations, unrolled: c0 = first-8 init, c1/c2 =
    // 6-decimal-rounded per-position means, argmin with cid tiebreak —
    // the exact contract VectorSearch.kmeansAssign implements
    "ml_kmeans_assign" -> """
      WITH prep AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c0 AS (SELECT CAST(id AS INT) AS cid, v AS cv FROM prep WHERE id < 8),
      a1 AS (
        SELECT id, cid FROM (
          SELECT p.id, c.cid,
            row_number() OVER (PARTITION BY p.id ORDER BY
              list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
          FROM prep p CROSS JOIN c0 c) x WHERE rn = 1),
      c1 AS (
        SELECT cid, list(m ORDER BY pos) AS cv FROM (
          SELECT a1.cid, t.pos, round(avg(p.v[t.pos]), 6) AS m
          FROM a1 JOIN prep p USING (id)
          CROSS JOIN (SELECT CAST(range AS INT) AS pos FROM range(1, 65)) t
          GROUP BY a1.cid, t.pos) y
        GROUP BY cid),
      a2 AS (
        SELECT id, cid FROM (
          SELECT p.id, c.cid,
            row_number() OVER (PARTITION BY p.id ORDER BY
              list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
          FROM prep p CROSS JOIN c1 c) x WHERE rn = 1),
      c2 AS (
        SELECT cid, list(m ORDER BY pos) AS cv FROM (
          SELECT a2.cid, t.pos, round(avg(p.v[t.pos]), 6) AS m
          FROM a2 JOIN prep p USING (id)
          CROSS JOIN (SELECT CAST(range AS INT) AS pos FROM range(1, 65)) t
          GROUP BY a2.cid, t.pos) y
        GROUP BY cid)
      SELECT id AS vec_id, cid AS cluster, round(d, 6) AS dist FROM (
        SELECT p.id, c.cid,
          list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cv)
            + list_inner_product(c.cv, c.cv) AS d,
          row_number() OVER (PARTITION BY p.id ORDER BY
            list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cv)
              + list_inner_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
        FROM prep p CROSS JOIN c2 c) x
      WHERE rn = 1 ORDER BY vec_id""",

    "fq_sessionize" -> """
      WITH f AS (
        SELECT user_id, event_id, ts,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
               THEN 1 ELSE 0 END AS brk
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (
        SELECT user_id, ts,
          sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS UNBOUNDED PRECEDING) AS session_id
        FROM f)
      SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        count(*) AS n_events, CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
        CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT) AS dur_us
      FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""",

    "ml_segment_dedup" -> """
      WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents),
      segs AS (
        SELECT doc_id, CAST(floor((pos - 1) / 10) AS INT) AS seg,
               string_agg(word, ' ' ORDER BY pos) AS seg_text
        FROM w GROUP BY doc_id, floor((pos - 1) / 10)),
      keep AS (
        SELECT doc_id, seg, seg_text,
          row_number() OVER (PARTITION BY seg_text ORDER BY doc_id, seg) AS rn
        FROM segs)
      SELECT doc_id, count(*) AS n_kept,
        md5(string_agg(seg_text, ' ' ORDER BY seg)) AS new_md5,
        CAST(len(string_split(string_agg(seg_text, ' ' ORDER BY seg), ' '))
          AS BIGINT) AS new_words
      FROM keep WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",

    // one Lloyd iteration (c0 -> a1 -> c1), then rank within each final
    // cluster by rounded distance with vec_id tiebreak, quota 30
    "ml_cluster_sample" -> """
      WITH prep AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      c0 AS (SELECT CAST(id AS INT) AS cid, v AS cv FROM prep WHERE id < 8),
      a1 AS (
        SELECT id, cid FROM (
          SELECT p.id, c.cid,
            row_number() OVER (PARTITION BY p.id ORDER BY
              list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
          FROM prep p CROSS JOIN c0 c) x WHERE rn = 1),
      c1 AS (
        SELECT cid, list(m ORDER BY pos) AS cv FROM (
          SELECT a1.cid, t.pos, round(avg(p.v[t.pos]), 6) AS m
          FROM a1 JOIN prep p USING (id)
          CROSS JOIN (SELECT CAST(range AS INT) AS pos FROM range(1, 65)) t
          GROUP BY a1.cid, t.pos) y
        GROUP BY cid),
      a2 AS (
        SELECT id, cid, round(d, 6) AS dist FROM (
          SELECT p.id, c.cid,
            list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cv)
              + list_inner_product(c.cv, c.cv) AS d,
            row_number() OVER (PARTITION BY p.id ORDER BY
              list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.cid ASC) AS rn
          FROM prep p CROSS JOIN c1 c) x WHERE rn = 1)
      SELECT cluster, rk, vec_id, dist FROM (
        SELECT cid AS cluster, id AS vec_id, dist,
          row_number() OVER (PARTITION BY cid ORDER BY dist ASC, id ASC) AS rk
        FROM a2) z
      WHERE rk <= 30 ORDER BY cluster, rk""",

    "ml_unigram_logprob" -> """
      WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      cnt AS (SELECT word, count(*) AS c FROM w GROUP BY word),
      tot AS (SELECT sum(c) AS n FROM cnt)
      SELECT doc_id, count(*) AS n_tokens,
        round(avg(-ln(cnt.c / tot.n)), 6) AS nll
      FROM w JOIN cnt USING (word) CROSS JOIN tot
      GROUP BY doc_id ORDER BY doc_id""",

    // per-subspace codebooks: first-16 init, one Lloyd iteration with
    // 6-decimal-rounded means; encode = per-(id,sub) argmin; ADC = sum
    // of per-subspace distance-table entries — VectorSearch.pqTopK's
    // exact contract
    "ml_ann_pq" -> """
      WITH prep AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      subs AS (
        SELECT id, CAST(t.range AS INT) AS sub,
               list_slice(v, CAST(t.range AS INT)*8 + 1, CAST(t.range AS INT)*8 + 8) AS sv
        FROM prep CROSS JOIN range(0, 8) t),
      cb0 AS (
        SELECT sub, CAST(id AS INT) AS code, sv AS cv FROM subs WHERE id < 16),
      enc0 AS (
        SELECT id, sub, code, sv FROM (
          SELECT s.id, s.sub, c.code, s.sv,
            row_number() OVER (PARTITION BY s.id, s.sub ORDER BY
              list_inner_product(s.sv, s.sv) - 2*list_inner_product(s.sv, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.code ASC) AS rn
          FROM subs s JOIN cb0 c USING (sub)) x WHERE rn = 1),
      cb1 AS (
        SELECT sub, code, list(m ORDER BY pos) AS cv FROM (
          SELECT e.sub, e.code, t.pos, round(avg(e.sv[t.pos]), 6) AS m
          FROM enc0 e
          CROSS JOIN (SELECT CAST(range AS INT) AS pos FROM range(1, 9)) t
          GROUP BY e.sub, e.code, t.pos) y
        GROUP BY sub, code),
      enc AS (
        SELECT id, sub, code FROM (
          SELECT s.id, s.sub, c.code,
            row_number() OVER (PARTITION BY s.id, s.sub ORDER BY
              list_inner_product(s.sv, s.sv) - 2*list_inner_product(s.sv, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.code ASC) AS rn
          FROM subs s JOIN cb1 c USING (sub)) x WHERE rn = 1),
      dtab AS (
        SELECT s.id AS q_id, s.sub, c.code,
          list_inner_product(s.sv, s.sv) - 2*list_inner_product(s.sv, c.cv)
            + list_inner_product(c.cv, c.cv) AS qd
        FROM subs s JOIN cb1 c USING (sub) WHERE s.id < 5)
      SELECT q_id, rn, vec_id, adist FROM (
        SELECT q_id, vec_id, adist,
          row_number() OVER (PARTITION BY q_id
                             ORDER BY adist ASC, vec_id ASC) AS rn
        FROM (
          SELECT d.q_id, e.id AS vec_id, round(sum(d.qd), 6) AS adist
          FROM enc e JOIN dtab d ON e.sub = d.sub AND e.code = d.code
          WHERE e.id <> d.q_id
          GROUP BY d.q_id, e.id) g) z
      WHERE rn <= 10 ORDER BY q_id, rn""",

    // IVF cells (first-8 centroids, L2 argmin, nprobe=3) restrict the
    // candidate pairs; PQ encode/dtab CTEs are identical to ml_ann_pq
    "ml_ann_ivfpq" -> """
      WITH prep AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent AS (SELECT CAST(id AS INT) AS cid, v AS cellv FROM prep WHERE id < 8),
      assign AS (
        SELECT id, cid FROM (
          SELECT p.id, c.cid,
            row_number() OVER (PARTITION BY p.id ORDER BY
              list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cellv)
                + list_inner_product(c.cellv, c.cellv) ASC, c.cid ASC) AS rn
          FROM prep p CROSS JOIN cent c) x WHERE rn = 1),
      probes AS (
        SELECT id AS q_id, cid FROM (
          SELECT p.id, c.cid,
            row_number() OVER (PARTITION BY p.id ORDER BY
              list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cellv)
                + list_inner_product(c.cellv, c.cellv) ASC, c.cid ASC) AS rn
          FROM prep p CROSS JOIN cent c WHERE p.id < 5) x WHERE rn <= 3),
      subs AS (
        SELECT id, CAST(t.range AS INT) AS sub,
               list_slice(v, CAST(t.range AS INT)*8 + 1, CAST(t.range AS INT)*8 + 8) AS sv
        FROM prep CROSS JOIN range(0, 8) t),
      cb0 AS (
        SELECT sub, CAST(id AS INT) AS code, sv AS cv FROM subs WHERE id < 16),
      enc0 AS (
        SELECT id, sub, code, sv FROM (
          SELECT s.id, s.sub, c.code, s.sv,
            row_number() OVER (PARTITION BY s.id, s.sub ORDER BY
              list_inner_product(s.sv, s.sv) - 2*list_inner_product(s.sv, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.code ASC) AS rn
          FROM subs s JOIN cb0 c USING (sub)) x WHERE rn = 1),
      cb1 AS (
        SELECT sub, code, list(m ORDER BY pos) AS cv FROM (
          SELECT e.sub, e.code, t.pos, round(avg(e.sv[t.pos]), 6) AS m
          FROM enc0 e
          CROSS JOIN (SELECT CAST(range AS INT) AS pos FROM range(1, 9)) t
          GROUP BY e.sub, e.code, t.pos) y
        GROUP BY sub, code),
      enc AS (
        SELECT id, sub, code FROM (
          SELECT s.id, s.sub, c.code,
            row_number() OVER (PARTITION BY s.id, s.sub ORDER BY
              list_inner_product(s.sv, s.sv) - 2*list_inner_product(s.sv, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.code ASC) AS rn
          FROM subs s JOIN cb1 c USING (sub)) x WHERE rn = 1),
      dtab AS (
        SELECT s.id AS q_id, s.sub, c.code,
          list_inner_product(s.sv, s.sv) - 2*list_inner_product(s.sv, c.cv)
            + list_inner_product(c.cv, c.cv) AS qd
        FROM subs s JOIN cb1 c USING (sub) WHERE s.id < 5),
      cands AS (
        SELECT pr.q_id, a.id FROM assign a JOIN probes pr USING (cid))
      SELECT q_id, rn, vec_id, adist FROM (
        SELECT q_id, vec_id, adist,
          row_number() OVER (PARTITION BY q_id
                             ORDER BY adist ASC, vec_id ASC) AS rn
        FROM (
          SELECT d.q_id, e.id AS vec_id, round(sum(d.qd), 6) AS adist
          FROM enc e
          JOIN cands ca ON ca.id = e.id
          JOIN dtab d ON d.q_id = ca.q_id AND d.sub = e.sub AND d.code = e.code
          WHERE e.id <> d.q_id
          GROUP BY d.q_id, e.id) g) z
      WHERE rn <= 10 ORDER BY q_id, rn""",

    // same cell/codebook contract as ml_ann_ivfpq but trained on and
    // applied to residuals (rv = v - cell centroid), with the query
    // distance table keyed per (query, probed cell)
    "ml_ann_ivfpq_res" -> """
      WITH prep AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      cent AS (SELECT CAST(id AS INT) AS cid, v AS cellv FROM prep WHERE id < 8),
      assign AS (
        SELECT id, cid, list_transform(range(1, 65), i -> v[i] - cellv[i]) AS rv
        FROM (
          SELECT p.id, c.cid, p.v, c.cellv,
            row_number() OVER (PARTITION BY p.id ORDER BY
              list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cellv)
                + list_inner_product(c.cellv, c.cellv) ASC, c.cid ASC) AS rn
          FROM prep p CROSS JOIN cent c) x WHERE rn = 1),
      subs AS (
        SELECT id, CAST(t.range AS INT) AS sub,
               list_slice(rv, CAST(t.range AS INT)*8 + 1, CAST(t.range AS INT)*8 + 8) AS sv
        FROM assign CROSS JOIN range(0, 8) t),
      cb0 AS (
        SELECT sub, CAST(id AS INT) AS code, sv AS cv FROM subs WHERE id < 16),
      enc0 AS (
        SELECT id, sub, code, sv FROM (
          SELECT s.id, s.sub, c.code, s.sv,
            row_number() OVER (PARTITION BY s.id, s.sub ORDER BY
              list_inner_product(s.sv, s.sv) - 2*list_inner_product(s.sv, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.code ASC) AS rn
          FROM subs s JOIN cb0 c USING (sub)) x WHERE rn = 1),
      cb1 AS (
        SELECT sub, code, list(m ORDER BY pos) AS cv FROM (
          SELECT e.sub, e.code, t.pos, round(avg(e.sv[t.pos]), 6) AS m
          FROM enc0 e
          CROSS JOIN (SELECT CAST(range AS INT) AS pos FROM range(1, 9)) t
          GROUP BY e.sub, e.code, t.pos) y
        GROUP BY sub, code),
      enc AS (
        SELECT x.id, x.sub, x.code, a.cid FROM (
          SELECT s.id, s.sub, c.code,
            row_number() OVER (PARTITION BY s.id, s.sub ORDER BY
              list_inner_product(s.sv, s.sv) - 2*list_inner_product(s.sv, c.cv)
                + list_inner_product(c.cv, c.cv) ASC, c.code ASC) AS rn
          FROM subs s JOIN cb1 c USING (sub)) x
        JOIN assign a ON a.id = x.id WHERE x.rn = 1),
      probes AS (
        SELECT id AS q_id, cid,
          list_transform(range(1, 65), i -> v[i] - cellv[i]) AS rv
        FROM (
          SELECT p.id, c.cid, p.v, c.cellv,
            row_number() OVER (PARTITION BY p.id ORDER BY
              list_inner_product(p.v, p.v) - 2*list_inner_product(p.v, c.cellv)
                + list_inner_product(c.cellv, c.cellv) ASC, c.cid ASC) AS rn
          FROM prep p CROSS JOIN cent c WHERE p.id < 5) x WHERE rn <= 3),
      dtab AS (
        SELECT q.q_id, q.cid, qs.sub, c.code,
          list_inner_product(qs.sv, qs.sv) - 2*list_inner_product(qs.sv, c.cv)
            + list_inner_product(c.cv, c.cv) AS qd
        FROM probes q
        CROSS JOIN range(0, 8) t
        JOIN LATERAL (SELECT CAST(t.range AS INT) AS sub,
          list_slice(q.rv, CAST(t.range AS INT)*8 + 1, CAST(t.range AS INT)*8 + 8) AS sv) qs ON true
        JOIN cb1 c ON c.sub = qs.sub)
      SELECT q_id, rn, vec_id, adist FROM (
        SELECT q_id, vec_id, adist,
          row_number() OVER (PARTITION BY q_id
                             ORDER BY adist ASC, vec_id ASC) AS rn
        FROM (
          SELECT d.q_id, e.id AS vec_id, round(sum(d.qd), 6) AS adist
          FROM enc e
          JOIN dtab d ON d.cid = e.cid AND d.sub = e.sub AND d.code = e.code
          WHERE e.id <> d.q_id
          GROUP BY d.q_id, e.id) g) z
      WHERE rn <= 10 ORDER BY q_id, rn""",

    "ml_dsir_weight" -> """
      WITH w AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM documents),
      vocab AS (SELECT count(DISTINCT word) AS v FROM w),
      src AS (SELECT word, count(*) AS cs FROM w GROUP BY word),
      tgt AS (SELECT word, count(*) AS ct FROM w WHERE lang = 'en' GROUP BY word),
      ns AS (SELECT sum(cs) AS n FROM src),
      nt AS (SELECT coalesce(sum(ct), 0) AS n FROM tgt)
      SELECT doc_id,
        round(avg(
          ln((coalesce(tgt.ct, 0) + 1) / (nt.n + vocab.v)) -
          ln((src.cs + 1) / (ns.n + vocab.v))), 6) AS logweight
      FROM w JOIN src USING (word)
      LEFT JOIN tgt USING (word)
      CROSS JOIN ns CROSS JOIN nt CROSS JOIN vocab
      GROUP BY doc_id ORDER BY doc_id""",

    "fq_event_paths" -> """
      WITH seq AS (
        SELECT user_id, event_type,
          lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events)
      SELECT prev, event_type AS next, count(*) AS n
      FROM seq WHERE prev IS NOT NULL
      GROUP BY prev, event_type ORDER BY n DESC, prev, next LIMIT 20""",

    "fq_ts_gapfill" -> """
      WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 6) AS v
        FROM events WHERE user_id < 10 GROUP BY user_id, CAST(ts AS DATE)),
      bounds AS (
        SELECT user_id, min(d) AS d0, max(d) AS d1 FROM daily GROUP BY user_id),
      spine AS (
        SELECT b.user_id,
               CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE) AS d
        FROM bounds b)
      SELECT s.user_id, CAST(s.d AS VARCHAR) AS day,
        CASE WHEN daily.v IS NULL THEN 1 ELSE 0 END AS filled,
        last_value(daily.v IGNORE NULLS) OVER (
          PARTITION BY s.user_id ORDER BY s.d
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d
      ORDER BY s.user_id, day""",

    "ml_feature_hash" -> """
      WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents WHERE doc_id < 50)
      SELECT doc_id,
        CAST(CAST(concat('0x', substr(md5(word), 1, 8)) AS BIGINT) % 1024
          AS BIGINT) AS f,
        count(*) AS c
      FROM w GROUP BY doc_id, f ORDER BY doc_id, f""",

    "fq_rfm" -> """
      WITH agg AS (
        SELECT user_id,
          CAST(epoch_us(max(ts)) AS BIGINT) AS last_us,
          count(*) AS freq,
          round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 6)
            AS monetary
        FROM events GROUP BY user_id),
      b AS (
        SELECT
          list_transform(quantile_cont(last_us, [0.2, 0.4, 0.6, 0.8]),
            x -> round(x, 6)) AS br,
          list_transform(quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]),
            x -> round(x, 6)) AS bf,
          list_transform(quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]),
            x -> round(x, 6)) AS bm
        FROM agg)
      SELECT user_id,
        CAST(len(list_filter(b.br, x -> agg.last_us > x)) + 1 AS INT) AS r,
        CAST(len(list_filter(b.bf, x -> agg.freq > x)) + 1 AS INT) AS f,
        CAST(len(list_filter(b.bm, x -> agg.monetary > x)) + 1 AS INT) AS m
      FROM agg CROSS JOIN b ORDER BY user_id""",

    "fq_zscore_outliers" -> """
      WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        FROM events GROUP BY event_type)
      SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
        round((e.value - s.mu) / s.sd, 4) AS z
      FROM events e JOIN stats s USING (event_type)
      WHERE abs((e.value - s.mu) / s.sd) > 2.5
      ORDER BY e.event_id""",

    "fq_pagerank_events" -> """
      WITH edges AS (
        SELECT prev AS src, event_type AS dst, count(*) AS w FROM (
          SELECT event_type,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events) t WHERE prev IS NOT NULL GROUP BY prev, event_type),
      outw AS (SELECT src, sum(w) AS tw FROM edges GROUP BY src),
      nodes AS (SELECT DISTINCT event_type AS n FROM events),
      nn AS (SELECT count(*) AS k FROM nodes),
      r0 AS (SELECT n, 1.0 / nn.k AS pr FROM nodes CROSS JOIN nn),
      r1 AS (
        SELECT nodes.n,
          round(0.15 / nn.k + 0.85 * coalesce(sum(r0.pr * e.w / ow.tw), 0), 8) AS pr
        FROM nodes CROSS JOIN nn
        LEFT JOIN edges e ON e.dst = nodes.n
        LEFT JOIN r0 ON r0.n = e.src
        LEFT JOIN outw ow ON ow.src = e.src
        GROUP BY nodes.n, nn.k),
      r2 AS (
        SELECT nodes.n,
          round(0.15 / nn.k + 0.85 * coalesce(sum(r1.pr * e.w / ow.tw), 0), 8) AS pr
        FROM nodes CROSS JOIN nn
        LEFT JOIN edges e ON e.dst = nodes.n
        LEFT JOIN r1 ON r1.n = e.src
        LEFT JOIN outw ow ON ow.src = e.src
        GROUP BY nodes.n, nn.k)
      SELECT n AS node, pr FROM r2 ORDER BY node""",

    "ds_tfidf_topterms" -> """
      WITH w AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY doc_id, term),
      df AS (SELECT term, count(DISTINCT doc_id) AS df FROM w GROUP BY term),
      n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
      SELECT doc_id, rn, term, score FROM (
        SELECT tf.doc_id, tf.term,
          round(tf.tf * ln(n.n / df.df), 6) AS score,
          row_number() OVER (PARTITION BY tf.doc_id
            ORDER BY round(tf.tf * ln(n.n / df.df), 6) DESC, tf.term) AS rn
        FROM tf JOIN df USING (term) CROSS JOIN n) x
      WHERE rn <= 3 AND doc_id < 100 ORDER BY doc_id, rn""",

    "fq_cohort_retention" -> """
      WITH f AS (
        SELECT user_id, min(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id),
      e AS (
        SELECT ev.user_id,
          CAST(floor(date_diff('day', DATE '2024-01-01', f.d0) / 7.0) AS INT) AS cohort,
          CAST(floor(date_diff('day', f.d0, CAST(ev.ts AS DATE)) / 7.0) AS INT) AS wk
        FROM events ev JOIN f USING (user_id))
      SELECT cohort, wk, count(DISTINCT user_id) AS active
      FROM e GROUP BY cohort, wk ORDER BY cohort, wk""",

    "fq_session_funnel" -> """
      WITH f AS (
        SELECT user_id, event_id, ts, event_type,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 86400000000
               THEN 1 ELSE 0 END AS brk
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (
        SELECT user_id, event_id, ts, event_type,
          CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM f),
      s1 AS (SELECT user_id, sid, min(ts) AS t1 FROM s WHERE event_type = 'view'
             GROUP BY user_id, sid),
      s2 AS (SELECT s.user_id, s.sid, min(s.ts) AS t2
             FROM s JOIN s1 ON s.user_id = s1.user_id AND s.sid = s1.sid
             WHERE s.event_type = 'click' AND s.ts > s1.t1
             GROUP BY s.user_id, s.sid),
      s3 AS (SELECT s.user_id, s.sid, min(s.ts) AS t3
             FROM s JOIN s2 ON s.user_id = s2.user_id AND s.sid = s2.sid
             WHERE s.event_type = 'purchase' AND s.ts > s2.t2
             GROUP BY s.user_id, s.sid),
      sess AS (SELECT DISTINCT user_id, sid FROM s)
      SELECT depth, count(*) AS n_sessions FROM (
        SELECT CASE WHEN s3.t3 IS NOT NULL THEN 3
                    WHEN s2.t2 IS NOT NULL THEN 2
                    WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS depth
        FROM sess
        LEFT JOIN s1 ON sess.user_id = s1.user_id AND sess.sid = s1.sid
        LEFT JOIN s2 ON sess.user_id = s2.user_id AND sess.sid = s2.sid
        LEFT JOIN s3 ON sess.user_id = s3.user_id AND sess.sid = s3.sid) x
      GROUP BY depth ORDER BY depth""",

    "opt_pullup_union_join" -> """
      SELECT n_name, s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE s_acctbal > 5000
      UNION ALL
      SELECT n_name, s_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE s_acctbal < -500
      ORDER BY n_name, s_name""",

    "opt_scalar_subq_select" -> """
      SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
        round((SELECT avg(l_quantity) FROM lineitem i
               WHERE i.l_partkey = o.l_partkey), 6) AS pavg
      FROM lineitem o
      ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity""",

    "fq_attribution" -> """
      WITH seq AS (
        SELECT user_id, event_id, ts, event_type, value,
          lag(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS touch,
          lag(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS touch_ts
        FROM events)
      SELECT coalesce(CASE WHEN epoch_us(ts) - epoch_us(touch_ts) <= 86400000000
                           THEN touch END, 'none') AS channel,
        count(*) AS purchases,
        round(sum(value), 6) AS revenue
      FROM seq WHERE event_type = 'purchase'
      GROUP BY channel ORDER BY channel""",

    "fq_dau_ma7" -> """
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, count(DISTINCT user_id) AS dau
        FROM events GROUP BY CAST(ts AS DATE))
      SELECT CAST(d AS VARCHAR) AS day, dau,
        round(avg(dau) OVER (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6)
          AS ma7
      FROM daily ORDER BY day""",

    "fq_stickiness" -> """
      WITH daily AS (
        SELECT CAST(ts AS DATE) AS d, count(DISTINCT user_id) AS dau
        FROM events GROUP BY d),
      monthly AS (
        SELECT date_trunc('month', d) AS mo, avg(dau) AS avg_dau
        FROM daily GROUP BY mo),
      mau AS (
        SELECT date_trunc('month', CAST(ts AS DATE)) AS mo,
               count(DISTINCT user_id) AS mau
        FROM events GROUP BY mo)
      SELECT CAST(m.mo AS VARCHAR) AS month, round(mn.avg_dau, 6) AS avg_dau,
        m.mau, round(mn.avg_dau / m.mau, 6) AS stickiness
      FROM mau m JOIN monthly mn USING (mo) ORDER BY month""",

    "fq_funnel_time" -> """
      WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                  WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
             JOIN s1 ON e.user_id = s1.user_id
             WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
             JOIN s2 ON e.user_id = s2.user_id
             WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
      SELECT count(*) AS n_converted,
        CAST(round(quantile_cont((epoch_us(t2) - epoch_us(t1)) / 1000000.0, 0.5), 0)
          AS BIGINT) AS med_view_click_s,
        CAST(round(quantile_cont((epoch_us(t3) - epoch_us(t2)) / 1000000.0, 0.5), 0)
          AS BIGINT) AS med_click_purchase_s
      FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)""",

    "ml_dataset_card" -> """
      WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      ent AS (
        SELECT round(-sum((c / n) * ln(c / n)), 6) AS lang_entropy FROM (
          SELECT lang, count(*) AS c,
            (SELECT count(*) FROM documents) AS n
          FROM documents GROUP BY lang) x)
      SELECT
        (SELECT count(*) FROM documents) AS n_docs,
        (SELECT count(*) FROM w) AS total_words,
        (SELECT count(DISTINCT word) FROM w) AS vocab,
        (SELECT round(avg(n_chars), 6) FROM documents) AS avg_chars,
        (SELECT count(DISTINCT lang) FROM documents) AS n_langs,
        ent.lang_entropy,
        round(1.0 - (SELECT count(DISTINCT md5(text)) FROM documents)
          / CAST((SELECT count(*) FROM documents) AS DOUBLE), 6) AS dup_rate
      FROM ent""",

    "ds_basket_pairs" -> """
      WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem)
      SELECT a.pk AS p1, b.pk AS p2, count(*) AS n
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk
      HAVING count(*) >= 3
      ORDER BY n DESC, p1, p2 LIMIT 50""",

    "opt_agg_by_unique" -> """
      SELECT o_orderkey, round(sum(o_totalprice), 6) AS total,
             count(*) AS n, max(o_orderpriority) AS pri,
             round(avg(o_totalprice), 6) AS avg_p
      FROM orders WHERE o_orderkey < 5000
      GROUP BY o_orderkey ORDER BY o_orderkey""",

    "opt_merge_percentile" -> """
      SELECT l_returnflag,
        round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        round(quantile_cont(l_quantity, 0.99), 6) AS p99,
        round(quantile_cont(l_extendedprice, 0.5), 6) AS ep50,
        count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "opt_union_distinct_elim" -> """
      SELECT 'cust' AS src, c_custkey AS k, round(c_acctbal, 2) AS v FROM customer
      UNION
      SELECT 'supp' AS src, s_suppkey AS k, round(s_acctbal, 2) AS v FROM supplier
      ORDER BY src, k""",

    "opt_scalar_subq_window" -> """
      SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
      FROM lineitem o
      WHERE l_quantity > 1.5 * (SELECT avg(l_quantity) FROM lineitem i
                                WHERE i.l_partkey = o.l_partkey)
      ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity"""
  )
}
