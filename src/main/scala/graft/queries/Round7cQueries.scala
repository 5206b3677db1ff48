package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q.t

/** Round-7 batch 3. Optimizer: TopN pushdown (reference:
  * nereids/rules/rewrite/PushDownTopNThroughJoin.java +
  * PushDownTopNThroughUnion.java) and best-rollup-index selection
  * (SelectMaterializedIndexWithAggregate.java). Corpus-cleaning passes
  * a pretraining pipeline runs before tokenization: URL
  * canonicalization, C4 line filtering, cross-document boilerplate
  * line removal, bigram-LM scoring, winnowing fingerprints, vocabulary
  * coverage, character entropy. Time-series: as-of join with match
  * tolerance. External-process UDAF via RDD.pipe. Multimodal, REAL
  * byte-level codecs (no external libraries): BMP decode / resize /
  * block-mean embedding + cosine NN, WAV decode / decimation resample,
  * frame-container sampling. Every key oracle-exact vs DuckDB.
  *
  * The corpus fixtures are single-line word soup, so "lines" are
  * materialized deterministically on BOTH sides as fixed-width word
  * chunks (12 words for the C4 pass, 3 for the boilerplate pass — short
  * enough that chunks genuinely repeat across documents). Same
  * shared-transformation discipline as the PII keys: the oracle applies
  * the identical chunking, so the hash match certifies the filter /
  * dedup semantics, not the synthetic line shape.
  */
object Round7cQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // TopN through a LEFT OUTER join: ORDER BY keys all come from the
    // row-preserved (left/fact) side, so the top-20 can be taken BEFORE
    // the join — the join input drops from |orders| to 20 rows. At
    // 100 TB this is the difference between joining the whole fact
    // table and broadcast-joining 20 rows. Plan-asserted: a limit lands
    // below the join on the left subtree.
    "opt_topn_join" -> ((s, dir) => {
      val df = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "left_outer")
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
      import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join}
      val join = df.queryExecution.optimizedPlan.collectFirst {
        case j: Join => j
      }.getOrElse(throw new IllegalStateException("no Join in plan"))
      val pushed = join.left.exists { case _: GlobalLimit => true; case _ => false }
      require(pushed, s"TopN was not pushed below the join:\n" +
        df.queryExecution.optimizedPlan)
      df
    }),

    // TopN over UNION ALL (reference: PushDownTopNThroughUnion.java).
    // Spark's TakeOrderedAndProject already keeps a per-partition
    // top-k; a per-branch copy below each branch's aggregate won no
    // measurable time on a 25x set, so the branches run as written.
    "opt_topn_union" -> ((s, dir) => {
      val b1 = t(s, dir, "orders").groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
        .select(lit("ord").as("src"), col("o_orderpriority").as("k"), col("n"))
      val b2 = t(s, dir, "lineitem").groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"))
        .select(lit("li").as("src"), col("l_returnflag").as("k"), col("n"))
      b1.unionAll(b2)
        .orderBy(col("n").desc, col("src"), col("k"))
        .limit(4)
    }),

    // TopN over DISTINCT over UNION ALL (reference:
    // PushDownTopNDistinctThroughUnion.java): per-branch distinct +
    // top-5 bounds each branch's contribution to the global distinct
    // shuffle at 5 rows — partial aggregation dedups map-side but never
    // limits. Plan-asserted: every union branch carries a limit with an
    // aggregate below it.
    "opt_topn_distinct_union" -> ((s, dir) => {
      val b1 = t(s, dir, "orders")
        .select(col("o_orderstatus").as("a"), col("o_orderpriority").as("b"))
      val b2 = t(s, dir, "lineitem")
        .select(col("l_returnflag").as("a"), col("l_linestatus").as("b"))
      val df = b1.unionAll(b2).distinct()
        .orderBy(col("a"), col("b")).limit(5)
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Union}
      val union = df.queryExecution.optimizedPlan.collectFirst {
        case u: Union => u
      }.getOrElse(throw new IllegalStateException("no Union in plan"))
      val allPushed = union.children.forall(c =>
        c.exists { case _: GlobalLimit => true; case _ => false } &&
        c.exists { case _: Aggregate => true; case _ => false })
      require(allPushed,
        s"distinct TopN was not pushed into every union branch:\n" +
          df.queryExecution.optimizedPlan)
      df
    }),

    // TopN over DISTINCT * over a LEFT OUTER join (reference:
    // PushDownTopNDistinctThroughJoin.java): the preserved side is
    // deduped on its full row and top-10'd BEFORE the join. Sound only
    // for full-output distinct — the rule's subset-distinct guard is
    // pinned by the spec's counter-example.
    "opt_topn_distinct_join" -> ((s, dir) => {
      val df = t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "left_outer")
        .distinct()
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"))
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, Join}
      val join = df.queryExecution.optimizedPlan.collectFirst {
        case j: Join => j
      }.getOrElse(throw new IllegalStateException("no Join in plan"))
      val limited =
        join.left.exists { case _: GlobalLimit => true; case _ => false }
      val dedupped =
        join.left.exists { case _: Aggregate => true; case _ => false }
      require(limited && dedupped,
        s"distinct TopN was not pushed below the join:\n" +
          df.queryExecution.optimizedPlan)
      df
    }),

    // Best-rollup-index selection (reference:
    // SelectMaterializedIndexWithAggregate.java + SetPreAggStatus.java):
    // when SEVERAL materialized rollups can serve one aggregate, the
    // rewrite must scan the one with the fewest materialized rows, not
    // the first registered. The fine rollup (3 group keys, ~every
    // lineitem key combo) registers FIRST; the 3-row coarse rollup must
    // still win. Plan-asserted on the executed scan path.
    "mv_best_index" -> ((s, dir) => {
      import graft.plans.MaterializedViews
      MaterializedViews.create(s, "mv_li_fine_bi", dir, "lineitem",
        groupCols = Seq("l_returnflag", "l_linestatus", "l_suppkey"),
        sumCols = Seq("l_quantity"))
      MaterializedViews.create(s, "mv_li_coarse_bi", dir, "lineitem",
        groupCols = Seq("l_returnflag"), sumCols = Seq("l_quantity"))
      try {
        val df = t(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(round(sum(col("l_quantity")), 2).as("sq"), count(lit(1)).as("n"))
          .orderBy(col("l_returnflag"))
        val p = df.queryExecution.executedPlan.toString
        require(p.contains("mv_li_coarse_bi"),
          s"best (coarse) rollup not selected:\n$p")
        require(!p.contains("mv_li_fine_bi"),
          s"fine rollup scanned despite a cheaper candidate:\n$p")
        val rows = df.collect() // executes the 3-row rollup scan
        s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      } finally {
        MaterializedViews.drop("mv_li_fine_bi")
        MaterializedViews.drop("mv_li_coarse_bi")
      }
    }),

    // URL canonicalization (CCNet/RefinedWeb pre-dedup normalization):
    // lowercase scheme+host, strip the scheme-default port, drop the
    // fragment, drop utm_* tracking params, sort the surviving query
    // params. Pure codegen string/array expressions — one projection,
    // no shuffle, safe at any corpus size. The raw URL is synthesized
    // deterministically per doc on both sides (no URL column in the
    // fixtures).
    "ml_url_canon" -> ((s, dir) => {
      t(s, dir, "documents")
        .filter(col("doc_id") < 40)
        .withColumn("url", concat(
          lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM:443/Docs/"),
          col("doc_id"), lit("?utm_src=x&b=2&a=1#frag")))
        .withColumn("scheme", lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)))
        .withColumn("host", regexp_replace(
          lower(regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]+)", 1)), ":443$", ""))
        .withColumn("path", regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]+([^?#]*)", 1))
        .withColumn("qs", array_join(array_sort(expr(
          "filter(split(regexp_extract(url, '\\\\?([^#]*)', 1), '&'), p -> not startswith(p, 'utm_'))")),
          "&"))
        .select(col("doc_id"),
          concat(col("scheme"), lit("://"), col("host"), col("path"),
            when(col("qs") =!= "", concat(lit("?"), col("qs"))).otherwise(lit("")))
            .as("canon_url"),
          col("host"))
        .orderBy(col("doc_id"))
    }),

    // C4-style line filtering: chunk each doc into 12-word lines, keep
    // lines with >= 5 words not containing the blocklist tokens, report
    // per-doc kept counts + a fingerprint of the reassembled text. All
    // array HOFs — zero shuffle; the corpus streams through one
    // projection.
    "ml_c4_filter" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("lines", expr(
          "transform(sequence(0, cast(ceil(size(ws)/12.0) as int) - 1), " +
          "i -> array_join(slice(ws, i*12+1, 12), ' '))"))
        .withColumn("kept", expr(
          "filter(lines, x -> size(split(x, ' ')) >= 5 " +
          "and x not like '%lorem%' and x not like '%{%')"))
        .select(col("doc_id"),
          size(col("lines")).cast("long").as("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          md5(array_join(col("kept"), " ")).as("fp"),
          length(array_join(col("kept"), " ")).cast("long").as("cleaned_len"))
        .orderBy(col("doc_id"))
    }),

    // Cross-document boilerplate line removal (CCNet's per-shard line
    // dedup): explode 3-word lines with position, count DISTINCT docs
    // per line text over the whole corpus, drop lines appearing in >= 5
    // docs, reassemble each doc in original order. One line-keyed
    // shuffle for the counts + one join back (the count side is
    // heavy-hitter-sized — broadcastable at any corpus scale if
    // thresholded first); the reassembly groups by doc_id.
    // REAL gzip round-trip (how pretraining corpora actually arrive —
    // WARC/WET shards, jsonl.gz): compress every doc with the JDK
    // codec, stream-decompress per partition, prove byte-exactness by
    // md5 against the original text plus direct char/word stats.
    "ml_gzip_roundtrip" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val gz = MultimodalOps.gzipTexts(docs, "doc_id", "text")
      MultimodalOps.gunzipBatch(gz, "doc_id", "gz")
        .select(col("doc_id"), col("n_chars2"), col("n_words"),
          md5(col("text2")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Multi-doc gzip SHARD round-trip — the actual unit of work a
    // corpus arrives in (WET / jsonl.gz shards of many documents, not
    // one file per doc): assemble 10-doc shards (id\ttext lines,
    // id-ordered), gzip each shard, then the ingest path: per-partition
    // gunzip, line split, per-doc re-parse. Byte-exactness of the whole
    // shard pipeline proven per DOCUMENT by md5 against the originals.
    "ml_shard_roundtrip" -> ((s, dir) => {
      import graft.ops.{ExternalUdf, MultimodalOps}
      // line-protocol framing guard: tab/newline in a doc would merge/
      // split shard lines silently — fail the task instead
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
          ExternalUdf.tsvSafe(col("text"), "ml_shard_roundtrip").as("text"))
        .withColumn("shard", (col("doc_id") / 10).cast("long"))
      val shards = docs.groupBy(col("shard"))
        .agg(array_join(expr(
          "transform(array_sort(collect_list(struct(doc_id, text))), " +
          "x -> concat(x.doc_id, '\\t', x.text))"), "\n").as("payload"))
      val gz = MultimodalOps.gzipTexts(shards, "shard", "payload")
      MultimodalOps.gunzipBatch(gz, "shard", "gz")
        .select(explode(split(col("text2"), "\n")).as("line"))
        .select(split(col("line"), "\t").getItem(0).cast("long").as("doc_id"),
          split(col("line"), "\t").getItem(1).as("text"))
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars2"),
          md5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // tar.gz corpus shards (the OTHER arrival format — per-doc text
    // files in a ustar archive, gzipped): 10-doc shards are tarred
    // (real 512-byte ustar headers) and gzipped, then the ingest path
    // gunzips, walks the archive VERIFYING every header checksum, and
    // re-parses each member file back to (doc_id, text). Per-doc md5
    // parity proves the whole container hop byte-exact. TarCodecSpec
    // additionally validates the archives with the system tar binary.
    "ml_targz_shard" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      import s.implicits._
      val shards = t(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .withColumn("shard", (col("doc_id") / 10).cast("long"))
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .as("docs"))
        .as[(Long, Seq[(Long, String)])]
      val tgz = shards.mapPartitions(_.map { case (shard, docs) =>
        val entries = docs.map { case (id, t) =>
          (s"doc_$id.txt", t.getBytes("UTF-8")) }
        (shard, MultimodalOps.gzipRaw(MultimodalOps.tarBytes(entries)))
      }).toDF("shard", "tgz")
      tgz.select(col("tgz")).as[Array[Byte]]
        .mapPartitions(_.flatMap { bytes =>
          MultimodalOps.untar(MultimodalOps.gunzipRaw(bytes)).map {
            case (name, content) =>
              (name.stripPrefix("doc_").stripSuffix(".txt").toLong,
                new String(content, "UTF-8"))
          }
        })
        .toDF("doc_id", "text")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars2"),
          md5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // REAL compressed-image decode: PNG with nothing but the JDK —
    // chunk walk with CRC verification, zlib inflate, and all five
    // scanline unfilters (the encoder cycles filter type per row, so a
    // wrong Sub/Up/Average/Paeth path corrupts pixels and fails the
    // closed-form oracle). 16x16 8-bit grayscale gradient per doc.
    "mm_png_decode" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val pngs = MultimodalOps.syntheticPngs(ids, "doc_id", 16, 16)
      MultimodalOps.decodePngBatch(pngs, "doc_id", "png")
        .select(col("doc_id"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px"), col("checksum"))
        .orderBy(col("doc_id"))
    }),

    // REAL image decode (upgrades the multimodal STUB): 24-bit BMP is
    // a pure byte-layout format, so header parse + pixel stats run
    // genuinely in-sandbox with no codec library. The synthetic encoder
    // writes pixel(x,y) = (doc_id*31 + 7x + 3y) mod 256, giving every
    // decoded statistic a closed-form oracle — a wrong stride, offset,
    // or channel index shows up as a value mismatch, not a crash.
    "mm_bmp_decode" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val imgs = MultimodalOps.syntheticBmps(ids, "doc_id", 8, 8)
      MultimodalOps.decodeBmpBatch(imgs, "doc_id", "img")
        .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
          round(col("mean_px"), 6).as("mean_px"), col("checksum"))
        .orderBy(col("doc_id"))
    }),

    // REAL resize: nearest-neighbor 8x8 -> 4x4 producing valid BMP
    // BYTES (not resize metadata), proven by decoding the resized image
    // and matching the closed-form stats of the sampled pixel lattice
    // (x' -> 2x', storage row r -> source row 2r, logical y = 7-2r).
    "mm_bmp_resize" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val imgs = MultimodalOps.syntheticBmps(ids, "doc_id", 8, 8)
      val small = MultimodalOps.resizeBmpBatch(imgs, "doc_id", "img", 4, 4)
      MultimodalOps.decodeBmpBatch(small, "doc_id", "img")
        .select(col("doc_id"), col("width"), col("height"), col("n_bytes"),
          round(col("mean_px"), 6).as("mean_px"), col("checksum"))
        .orderBy(col("doc_id"))
    }),

    // Image -> embedding -> similarity, end to end REAL: decode the
    // BMP, mean-pool 2x2 blocks into a 16-dim vector, nearest neighbor
    // by cosine over the 50-doc set. Every arithmetic step is exact
    // dyadic (block means carry 2 fraction bits, dot products stay
    // under 2^20), so cosine is bit-identical across engines and the
    // top-1 selection is tie-free deterministic.
    "mm_bmp_embed" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      import org.apache.spark.sql.expressions.Window
      val ids = t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"))
      val emb = MultimodalOps.embedBmpBatch(
        MultimodalOps.syntheticBmps(ids, "doc_id", 8, 8), "doc_id", "img", 2)
      val a = emb.select(col("doc_id").as("a_id"), col("embedding").as("va"))
      val b = emb.select(col("doc_id").as("b_id"), col("embedding").as("vb"))
      val pairs = a.crossJoin(broadcast(b))
        .filter(col("a_id") =!= col("b_id"))
        .withColumn("cos", expr(
          "graft_dot(va, vb) / (sqrt(graft_dot(va, va)) * sqrt(graft_dot(vb, vb)))"))
      pairs.withColumn("rn", row_number().over(
          Window.partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id"))))
        .filter(col("rn") === 1)
        .select(col("a_id").as("doc_id"), col("b_id").as("nn_id"),
          round(col("cos"), 6).as("cos"))
        .orderBy(col("doc_id"))
    }),

    // REAL video-frame sampling: a length-prefixed frame container
    // ('GVID' + count + [len][BMP] frames) walked to the wanted
    // indices; ONLY those frames decode (the pipeline pattern for "grab
    // 3 frames per clip" without decoding the clip). Each frame's
    // gradient is keyed by (doc_id + 17*frame), closed-form per frame.
    "mm_frame_sample" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val ids = t(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"))
      val vids = MultimodalOps.syntheticVideos(ids, "doc_id", 4, 8, 8)
      MultimodalOps.sampleFramesBatch(vids, "doc_id", "video", Seq(0, 2, 3))
        .select(col("doc_id"), col("frame"), col("width"), col("height"),
          round(col("mean_px"), 6).as("mean_px"), col("checksum"))
        .orderBy(col("doc_id"), col("frame"))
    }),

    // REAL audio decode: RIFF/WAVE 8-bit mono PCM, decoded by a proper
    // chunk walk (fmt /data discovery, 2-byte chunk alignment) — the
    // audio analog of mm_bmp_decode, with DC-mean and RMS closed-form
    // oracles over the deterministic waveform (id*13 + 7t) mod 256.
    "mm_wav_decode" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val wavs = MultimodalOps.syntheticWavs(ids, "doc_id", 64, 8000)
      MultimodalOps.decodeWavBatch(wavs, "doc_id", "audio")
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_samples"),
          round(col("dc_mean"), 6).as("dc_mean"),
          round(col("rms"), 6).as("rms"))
        .orderBy(col("doc_id"))
    }),

    // REAL audio resample (x4 decimation): keep every 4th sample,
    // re-encode at rate/4, prove by round-trip decode against the
    // closed form over the kept lattice t in {0,4,...,60}.
    "mm_wav_resample" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val ids = t(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"))
      val wavs = MultimodalOps.syntheticWavs(ids, "doc_id", 64, 8000)
      val small = MultimodalOps.resampleWavBatch(wavs, "doc_id", "audio", 4)
      MultimodalOps.decodeWavBatch(small, "doc_id", "audio")
        .select(col("doc_id"), col("sample_rate"), col("channels"),
          col("bits"), col("n_samples"),
          round(col("dc_mean"), 6).as("dc_mean"),
          round(col("rms"), 6).as("rms"))
        .orderBy(col("doc_id"))
    }),

    // External-process UDAF (reference function_rpc.cpp aggregate
    // path): per-user exact cent sums computed by an awk subprocess —
    // the engine shuffles+sorts so each group streams consecutively
    // into ONE process, the process aggregates on key change
    // (ExternalUdf.pipeAggregate). %.0f printf keeps the emitted sums
    // exact integers (awk's default %.6g would round past 1e6).
    "x4_pipe_udaf" -> ((s, dir) => {
      val ev = t(s, dir, "events").filter(col("event_type") === "purchase")
        .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      val awkScript =
        "{ if (($1 \"\") != (k \"\") && NR > 1) { printf \"%s\\t%.0f\\t%.0f\\n\", k, s, n } " +
        "if (($1 \"\") != (k \"\")) { k=$1; s=0; n=0 } s+=$2; n+=1 } " +
        "END { if (NR > 0) printf \"%s\\t%.0f\\t%.0f\\n\", k, s, n }"
      graft.ops.ExternalUdf.pipeAggregate(ev, "user_id", "cents",
          Seq("awk", "-F\t", awkScript), Seq("sum_cents", "n"))
        .orderBy(col("user_id"))
    }),

    // As-of join with a match tolerance (the time-series staple "join
    // the latest quote no older than 1 h"): backward as-of, but the
    // match is NULLed when the picked right row is too old. Exact
    // integer-microsecond boundary on both engines. Correctness note:
    // the LATEST right row <= t is also the CLOSEST, so
    // latest-then-check-tolerance equals max-within-tolerance — one
    // window pass, no per-row range probing. Right side pre-aggregated
    // to unique (user, ts) so the picked row is tie-free.
    "model_asof_tolerance" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("v"))
      graft.ops.AsofJoin.asofBackward(purchases, views, Seq("user_id"),
          "ts", "ts", Seq("v"), inner = false,
          toleranceUs = Some(3600L * 1000000L))
        .select(col("event_id"), col("user_id"), round(col("r_v"), 6).as("rv"))
        .orderBy(col("event_id"))
    }),

    // Zipf vocabulary-coverage curve (tokenizer-design signal: what
    // fraction of corpus tokens do the top-k vocabulary words cover?).
    // One word-keyed count shuffle (vocabulary-sized from then on), a
    // single-partition window over the COUNT TABLE only — never the
    // corpus — and exact BIGINT cumulative sums with one trailing
    // double division.
    "ml_vocab_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val cnt = docs
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("c"))
      // total tokens without a second explode+word-agg pass: the sum of
      // per-word counts IS the token count, so one size() sum over the
      // docs scan replaces re-running the whole counting subtree (r17)
      val tot = docs.agg(
        sum(size(split(col("text"), " "))).as("n"))
      // top-k FIRST (r17, the r16-verdict unbounded-window fix): only
      // ranks <= 20 survive the filter, and the cumulative sum at rank
      // k depends only on rows above it, so a distributed
      // TakeOrderedAndProject(20) bounds the single-partition window at
      // 20 rows — the old spelling globally sorted the ENTIRE
      // vocabulary into one partition, a straight scale-killer on a
      // web-corpus vocab
      val top = cnt.orderBy(col("c").desc, col("word")).limit(20)
      val ranked = top.withColumn("rk",
          row_number().over(Window.orderBy(col("c").desc, col("word"))))
        .withColumn("cum", sum(col("c")).over(
          Window.orderBy(col("c").desc, col("word"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ranked.filter(col("rk").isin(5, 10, 20))
        .crossJoin(broadcast(tot))
        .select(col("rk").cast("long").as("top_k"),
          col("cum").as("covered_tokens"),
          round(col("cum").cast("double") / col("n"), 6).as("coverage"))
        .orderBy(col("top_k"))
    }),

    // Per-doc character-level Shannon entropy (a Gopher-adjacent
    // gibberish/boilerplate signal: natural text sits in a narrow
    // entropy band; key-mash and template dumps fall outside it).
    // One (doc_id, char) shuffle — doc-keyed, shards at any scale.
    "ml_char_entropy" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Spark's regex split keeps a trailing empty token on '' patterns
      // (java Pattern.split limit -1); DuckDB's does not — drop it.
      val chars = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "")
      val perChar = chars.groupBy(col("doc_id"), col("ch"))
        .agg(count(lit(1)).as("c"))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(col("doc_id"))))
      perChar.groupBy(col("doc_id"))
        .agg(max(col("n")).as("n_chars2"),
          round(-sum((col("c") / col("n")) * log(col("c") / col("n"))), 6)
            .as("entropy"))
        .orderBy(col("doc_id"))
    }),

    // Winnowing fingerprints (Schleimer, Wilkerson, Aiken '03 — the
    // MOSS local document-fingerprinting algorithm): hash every word
    // 3-gram, slide a window of 4 hashes, select each window's minimum
    // (rightmost on ties — encoded as (h ASC, -pos ASC) struct sort),
    // dedupe the selections. Guarantees a match for any shared run of
    // >= w+k-1 words while storing ~2/(w+1) of the grams. Pure per-row
    // array HOFs — zero shuffle at any corpus scale; the portable md5
    // gram hash keeps engine and oracle bit-identical.
    "ml_winnow_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .filter(size(col("ws")) >= 6)
        .withColumn("hs", expr(
          "transform(sequence(1, size(ws)-2), i -> md5(array_join(slice(ws, i, 3), ' ')))"))
        .withColumn("picks", expr(
          "transform(sequence(1, size(hs)-3), j -> element_at(array_sort(" +
          "transform(sequence(j, j+3), i -> named_struct('h', element_at(hs, i), 'np', -i))), 1))"))
        .withColumn("dp", expr(
          "array_sort(array_distinct(transform(picks, " +
          "x -> concat(lpad(cast(-x.np as string), 6, '0'), ':', x.h))))"))
        .select(col("doc_id"),
          size(col("hs")).cast("long").as("n_grams"),
          size(col("dp")).cast("long").as("n_sel"),
          md5(array_join(col("dp"), ",")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // Bigram LM quality scoring with unigram interpolation backoff
    // (the CCNet/KenLM-style perplexity filter, exact and deterministic:
    // P(w|p) = 0.7·c(p,w)/c(p·) + 0.3·c(w)/N with bigram-derived context
    // counts). The corpus streams through ONE bigram explode. The
    // unigram/context/total tables are vocabulary-sized (Heaps' law) —
    // broadcast at any corpus scale — but the BIGRAM count table grows
    // with the corpus (KenLM bigram tables hit tens of GB on web-scale
    // data), so that one join is a plain content-keyed shuffle, same as
    // ml_line_dedup's counts join.
    "ml_bigram_logprob" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val bi = docs
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), explode(expr(
          "zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1), " +
          "(a, b) -> named_struct('prev', a, 'cur', b))")).as("bg"))
        .select(col("doc_id"), col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      val cb = bi.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("cb"))
      val cctx = cb.groupBy(col("prev")).agg(sum(col("cb")).as("cc"))
      val cuc = docs.select(explode(split(col("text"), " ")).as("cur"))
        .groupBy(col("cur")).agg(count(lit(1)).as("cuw"))
      val tot = cuc.agg(sum(col("cuw")).as("n"))
      bi.join(cb, Seq("prev", "cur"))
        .join(broadcast(cctx), Seq("prev"))
        .join(broadcast(cuc), Seq("cur"))
        .crossJoin(broadcast(tot))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(avg(-log(lit(0.7) * col("cb") / col("cc")
            + lit(0.3) * col("cuw") / col("n"))), 6).as("nll"))
        .orderBy(col("doc_id"))
    }),

    "ml_line_dedup" -> ((s, dir) => {
      val lines = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), posexplode(expr(
          "transform(sequence(0, cast(ceil(size(ws)/3.0) as int) - 1), " +
          "i -> array_join(slice(ws, i*3+1, 3), ' '))")))
        .withColumnRenamed("col", "line")
      // single-pass boilerplate detection (r17): the old spelling ran a
      // countDistinct aggregate over one explode of the corpus and then
      // joined it back against a SECOND explode (the substring-dedup
      // two-pass pattern). One line-keyed window pass computes the same
      // distinct-doc count attached to every row: sorted by (doc_id,
      // pos) within each line group, a row opens a new doc run when
      // lag(doc_id) differs, and the whole-group sum of run-opens IS
      // countDistinct(doc_id). One explode, one (line) exchange, no
      // join. A pathological boilerplate line spills in the window
      // buffer (same exact-dedup-first precondition as the dedup
      // family's bucket caps).
      import org.apache.spark.sql.expressions.Window
      val wOrd = Window.partitionBy(col("line"))
        .orderBy(col("doc_id"), col("pos"))
      val wAll = Window.partitionBy(col("line"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      lines
        .withColumn("opens", when(lag(col("doc_id"), 1).over(wOrd).isNull ||
          lag(col("doc_id"), 1).over(wOrd) =!= col("doc_id"), 1L).otherwise(0L))
        .withColumn("nd", sum(col("opens")).over(wAll))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(when(col("nd") >= 5, 1L).otherwise(0L)).as("n_boiler"),
          md5(array_join(expr(
            "transform(array_sort(collect_list(case when nd < 5 then struct(pos, line) end)), x -> x.line)"),
            " ")).as("fp"))
        .orderBy(col("doc_id"))
    })
  )

  def oracle: Map[String, String] = Map(

    "opt_topn_join" -> """
      SELECT o_orderkey, o_totalprice, c_name
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",

    "opt_topn_union" -> """
      SELECT * FROM (
        SELECT 'ord' AS src, o_orderpriority AS k, COUNT(*) AS n
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT 'li' AS src, l_returnflag AS k, COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag
      ) ORDER BY n DESC, src, k LIMIT 4""",

    "opt_topn_distinct_join" -> """
      SELECT o_orderkey, o_totalprice, c_name FROM (
        SELECT DISTINCT * FROM orders LEFT JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
      ) ORDER BY o_totalprice DESC, o_orderkey""",

    "opt_topn_distinct_union" -> """
      SELECT DISTINCT * FROM (
        SELECT o_orderstatus AS a, o_orderpriority AS b FROM orders
        UNION ALL
        SELECT l_returnflag AS a, l_linestatus AS b FROM lineitem
      ) ORDER BY a, b LIMIT 5""",

    "mv_best_index" -> """
      SELECT l_returnflag, round(sum(l_quantity), 2) AS sq, count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "ml_url_canon" -> """
      WITH u AS (
        SELECT doc_id,
               'HTTPS://WWW.' || upper(source) || '.Example.COM:443/Docs/' ||
               doc_id || '?utm_src=x&b=2&a=1#frag' AS url
        FROM documents WHERE doc_id < 40),
      p AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
               regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)), ':443$', '') AS host,
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
               array_to_string(list_sort(list_filter(
                 string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                 p -> NOT starts_with(p, 'utm_'))), '&') AS qs
        FROM u)
      SELECT doc_id,
             scheme || '://' || host || path ||
               (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END) AS canon_url,
             host
      FROM p ORDER BY doc_id""",

    "ml_c4_filter" -> """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      l AS (
        SELECT doc_id,
               [array_to_string(ws[(i*12+1):(i*12+12)], ' ')
                for i in range(0, CAST(ceil(len(ws)/12.0) AS INT))] AS lines
        FROM w),
      k AS (
        SELECT doc_id, lines,
               list_filter(lines, x -> len(string_split(x, ' ')) >= 5
                 AND x NOT LIKE '%lorem%' AND x NOT LIKE '%{%') AS kept
        FROM l)
      SELECT doc_id,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(kept) AS BIGINT) AS n_kept,
             md5(array_to_string(kept, ' ')) AS fp,
             CAST(length(array_to_string(kept, ' ')) AS BIGINT) AS cleaned_len
      FROM k ORDER BY doc_id""",

    "ml_gzip_roundtrip" -> """
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             md5(text) AS fp
      FROM documents ORDER BY doc_id""",

    "ml_shard_roundtrip" -> """
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2, md5(text) AS fp
      FROM documents ORDER BY doc_id""",

    "ml_targz_shard" -> """
      SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars2, md5(text) AS fp
      FROM documents ORDER BY doc_id""",

    "mm_png_decode" -> """
      SELECT doc_id,
             CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
             round(CAST(list_sum([(doc_id*31 + (i%16)*7 + (i//16)*3) % 256
               for i in range(256)]) AS DOUBLE) / 256, 6) AS mean_px,
             CAST(list_sum([(doc_id*31 + (i%16)*7 + (i//16)*3) % 256
               for i in range(256)]) AS BIGINT) AS checksum
      FROM documents WHERE doc_id < 200 ORDER BY doc_id""",

    "mm_bmp_decode" -> """
      SELECT doc_id,
             CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
             CAST(246 AS BIGINT) AS n_bytes,
             round(CAST(list_sum([(doc_id*31 + (i%8)*7 + (i//8)*3) % 256
               for i in range(64)]) AS DOUBLE) / 64, 6) AS mean_px,
             CAST(list_sum([(doc_id*31 + (i%8)*7 + (i//8)*3) % 256
               for i in range(64)]) AS BIGINT) AS checksum
      FROM documents WHERE doc_id < 200 ORDER BY doc_id""",

    "mm_bmp_resize" -> """
      SELECT doc_id,
             CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
             CAST(102 AS BIGINT) AS n_bytes,
             round(CAST(list_sum([(doc_id*31 + (i%4)*2*7 + (7 - (i//4)*2)*3) % 256
               for i in range(16)]) AS DOUBLE) / 16, 6) AS mean_px,
             CAST(list_sum([(doc_id*31 + (i%4)*2*7 + (7 - (i//4)*2)*3) % 256
               for i in range(16)]) AS BIGINT) AS checksum
      FROM documents WHERE doc_id < 200 ORDER BY doc_id""",

    "mm_bmp_embed" -> """
      WITH v AS (
        SELECT doc_id,
          [ CAST((doc_id*31 + (2*(j%4))*7   + (2*(j//4))*3)   % 256
              + (doc_id*31 + (2*(j%4)+1)*7 + (2*(j//4))*3)   % 256
              + (doc_id*31 + (2*(j%4))*7   + (2*(j//4)+1)*3) % 256
              + (doc_id*31 + (2*(j%4)+1)*7 + (2*(j//4)+1)*3) % 256 AS DOUBLE) / 4
            for j in range(16) ] AS e
        FROM documents WHERE doc_id < 50),
      p AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               list_inner_product(a.e, b.e) /
                 (sqrt(list_inner_product(a.e, a.e)) * sqrt(list_inner_product(b.e, b.e))) AS cos
        FROM v a CROSS JOIN v b WHERE a.doc_id <> b.doc_id),
      r AS (
        SELECT a_id, b_id, cos,
               row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rn
        FROM p)
      SELECT a_id AS doc_id, b_id AS nn_id, round(cos, 6) AS cos
      FROM r WHERE rn = 1 ORDER BY doc_id""",

    "mm_frame_sample" -> """
      SELECT doc_id, f.frame,
             CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
             round(CAST(list_sum([((doc_id + f.frame*17)*31 + (i%8)*7 + (i//8)*3) % 256
               for i in range(64)]) AS DOUBLE) / 64, 6) AS mean_px,
             CAST(list_sum([((doc_id + f.frame*17)*31 + (i%8)*7 + (i//8)*3) % 256
               for i in range(64)]) AS BIGINT) AS checksum
      FROM documents CROSS JOIN (SELECT unnest([0, 2, 3]) AS frame) f
      WHERE doc_id < 100 ORDER BY doc_id, f.frame""",

    "mm_wav_decode" -> """
      SELECT doc_id,
             CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
             CAST(8 AS INT) AS bits, CAST(64 AS BIGINT) AS n_samples,
             round(CAST(list_sum([(doc_id*13 + t*7) % 256
               for t in range(64)]) AS DOUBLE) / 64, 6) AS dc_mean,
             round(sqrt(CAST(list_sum([((doc_id*13 + t*7) % 256 - 128) *
               ((doc_id*13 + t*7) % 256 - 128)
               for t in range(64)]) AS DOUBLE) / 64), 6) AS rms
      FROM documents WHERE doc_id < 200 ORDER BY doc_id""",

    "mm_wav_resample" -> """
      SELECT doc_id,
             CAST(2000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
             CAST(8 AS INT) AS bits, CAST(16 AS BIGINT) AS n_samples,
             round(CAST(list_sum([(doc_id*13 + t*4*7) % 256
               for t in range(16)]) AS DOUBLE) / 16, 6) AS dc_mean,
             round(sqrt(CAST(list_sum([((doc_id*13 + t*4*7) % 256 - 128) *
               ((doc_id*13 + t*4*7) % 256 - 128)
               for t in range(16)]) AS DOUBLE) / 16), 6) AS rms
      FROM documents WHERE doc_id < 200 ORDER BY doc_id""",

    "x4_pipe_udaf" -> """
      SELECT user_id,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             COUNT(*) AS n
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id ORDER BY user_id""",

    "model_asof_tolerance" -> """
      WITH r0 AS (SELECT user_id, ts, max(value) AS v FROM events
                  WHERE event_type = 'view' GROUP BY user_id, ts),
      l0 AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      m AS (SELECT l0.event_id, l0.user_id, l0.ts,
              (SELECT max(r0.ts) FROM r0 WHERE r0.user_id = l0.user_id
                 AND r0.ts <= l0.ts
                 AND epoch_us(l0.ts) - epoch_us(r0.ts) <= 3600000000) AS mts
            FROM l0)
      SELECT m.event_id, m.user_id, round(r0.v, 6) AS rv
      FROM m LEFT JOIN r0 ON r0.user_id = m.user_id AND r0.ts = m.mts
      ORDER BY m.event_id""",

    "ml_vocab_coverage" -> """
      WITH wds AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      cnt AS (SELECT word, count(*) AS c FROM wds GROUP BY word),
      tot AS (SELECT sum(c) AS n FROM cnt),
      rkd AS (SELECT word, c,
              row_number() OVER (ORDER BY c DESC, word) AS rk,
              sum(c) OVER (ORDER BY c DESC, word
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM cnt)
      SELECT CAST(rk AS BIGINT) AS top_k, CAST(cum AS BIGINT) AS covered_tokens,
             round(CAST(cum AS DOUBLE) / n, 6) AS coverage
      FROM rkd CROSS JOIN tot WHERE rk IN (5, 10, 20) ORDER BY top_k""",

    "ml_char_entropy" -> """
      WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
      pc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch),
      wt AS (SELECT doc_id, ch, c, sum(c) OVER (PARTITION BY doc_id) AS n FROM pc)
      SELECT doc_id, CAST(max(n) AS BIGINT) AS n_chars2,
             round(-sum((c / n) * ln(c / n)), 6) AS entropy
      FROM wt GROUP BY doc_id ORDER BY doc_id""",

    "ml_winnow_fingerprint" -> """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (SELECT doc_id,
              [md5(array_to_string(ws[i:i+2], ' ')) for i in range(1, len(ws)-1)] AS hs
            FROM w WHERE len(ws) >= 3),
      sel AS (SELECT doc_id, hs,
              [(list_sort([{'h': hs[i], 'np': -i} for i in range(j, j+4)]))[1]
               for j in range(1, len(hs)-2)] AS picks
            FROM g WHERE len(hs) >= 4),
      s2 AS (SELECT doc_id, len(hs) AS n_grams,
              list_sort(list_distinct([lpad(CAST(-x['np'] AS VARCHAR), 6, '0') || ':' || x['h'] for x in picks])) AS dp
             FROM sel)
      SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
             CAST(len(dp) AS BIGINT) AS n_sel,
             md5(array_to_string(dp, ',')) AS fp
      FROM s2 ORDER BY doc_id""",

    "ml_bigram_logprob" -> """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      bg0 AS (SELECT doc_id, unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS z FROM w),
      bi AS (SELECT doc_id, z[1] AS prev, z[2] AS cur FROM bg0),
      cb AS (SELECT prev, cur, count(*) AS cb FROM bi GROUP BY prev, cur),
      cctx AS (SELECT prev, sum(cb) AS cc FROM cb GROUP BY prev),
      cu AS (SELECT unnest(string_split(text, ' ')) AS cur FROM documents),
      cuc AS (SELECT cur, count(*) AS cuw FROM cu GROUP BY cur),
      tot AS (SELECT sum(cuw) AS n FROM cuc)
      SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        round(avg(-ln(0.7::DOUBLE * cb.cb / cctx.cc + 0.3::DOUBLE * cuc.cuw / tot.n)), 6) AS nll
      FROM bi JOIN cb USING (prev, cur) JOIN cctx USING (prev)
        JOIN cuc USING (cur) CROSS JOIN tot
      GROUP BY doc_id ORDER BY doc_id""",

    "ml_line_dedup" -> """
      WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      l AS (
        SELECT doc_id,
               [{'p': i, 'l': array_to_string(ws[(i*3+1):(i*3+3)], ' ')}
                for i in range(0, CAST(ceil(len(ws)/3.0) AS INT))] AS pl
        FROM w),
      e AS (SELECT doc_id, unnest(pl) AS x FROM l),
      l3 AS (SELECT doc_id, x.p AS pos, x.l AS line FROM e),
      c AS (SELECT line, COUNT(DISTINCT doc_id) AS nd FROM l3 GROUP BY line),
      j AS (SELECT l3.doc_id, l3.pos, l3.line, c.nd FROM l3 JOIN c USING (line))
      SELECT doc_id,
             COUNT(*)::BIGINT AS n_lines,
             SUM(CASE WHEN nd >= 5 THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
             md5(coalesce(string_agg(CASE WHEN nd < 5 THEN line END, ' ' ORDER BY pos), '')) AS fp
      FROM j GROUP BY doc_id ORDER BY doc_id"""
  )
}
