package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q.t

/** Round-8 session-3 additions: HAVING-on-extremum scan-filter
  * derivation (plans/MaxMinFilter.scala) and the WARC/WET corpus
  * container (ops/WarcCodec.scala) — the format web-scale pretraining
  * data actually ships in, with per-record gzip members for CDX-style
  * random access.
  */
object Round8cQueries {

  /** Blocklist for `ml_blocklist_scan` — nested + boundary-crossing
    * patterns over the fixture vocabulary; the oracle SQL interpolates
    * the SAME list so the two sides can never drift. */
  val BlockPatterns: Seq[String] = Seq(
    "table scan", "scan", "batch batch", "window window", "merge part",
    "an me", "key order sort", "spark", "dup", "t k")

  private def blockPatternsSqlValues: String =
    BlockPatterns.map(p => s"('${p}')").mkString(", ")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // WARC response shards round-trip: documents grouped into .warc.gz
    // shards (a warcinfo record + one HTTP `response` record per doc,
    // each its OWN gzip member — the Common Crawl framing), then parsed
    // back by the product path: one decoder per partition, Content-
    // Length-delimited blocks (no escaping needed for tabs/newlines —
    // the framing is length-based, unlike the tsv pipe protocol). The
    // md5 fingerprint proves the trip is byte-exact.
    "ml_warc_roundtrip" -> ((s, dir) => {
      import graft.ops.WarcCodec
      import graft.ops.WarcCodec.WarcRecord
      import s.implicits._
      val shards = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), coalesce(col("text"), lit("")).as("text"))
        .withColumn("shard", (col("doc_id") / 16).cast("long"))
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("lang"), col("text"))))
          .as("docs"))
        .as[(Long, Seq[(Long, String, String)])]
      val gz = shards.mapPartitions(_.map { case (shard, docs) =>
        val info = WarcRecord("warcinfo", "", "2026-01-01T00:00:00Z",
          WarcCodec.recordId(s"warcinfo:$shard"), "application/warc-fields", "",
          s"software: graft-warc/1.0\r\nisPartOf: shard-$shard\r\n".getBytes("UTF-8"))
        val recs = info +: docs.map { case (id, lang, text) =>
          WarcRecord("response", s"http://corpus.example/doc/$id",
            f"2026-01-${(id % 27) + 1}%02dT00:00:00Z",
            WarcCodec.recordId(s"doc:$id"), "application/http;msgtype=response",
            lang, WarcCodec.httpResponseBlock(text.getBytes("UTF-8"), "text/plain"))
        }
        (shard, WarcCodec.buildWarcGz(recs)._1)
      }).toDF("shard", "warc")
      gz.select(col("warc")).as[Array[Byte]]
        .mapPartitions(_.flatMap { bytes =>
          WarcCodec.parseWarcGz(bytes).filter(_.warcType == "response").map { r =>
            val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
            val text = new String(WarcCodec.httpPayload(r.block), "UTF-8")
            (id, text)
          }
        })
        .toDF("doc_id", "text")
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars2"),
          md5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // WARC -> WET conversion (the Common Crawl WET generator / CCNet
    // first stage): response records become `conversion` records whose
    // block is the extracted text and whose language rides the
    // WARC-Identified-Content-Language header; the WET shard is then
    // read back and aggregated per identified language — everything in
    // the output has passed through BOTH container trips.
    "ml_wet_extract" -> ((s, dir) => {
      import graft.ops.WarcCodec
      import graft.ops.WarcCodec.WarcRecord
      import s.implicits._
      val shards = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), coalesce(col("text"), lit("")).as("text"))
        .withColumn("shard", (col("doc_id") / 16).cast("long"))
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("lang"), col("text"))))
          .as("docs"))
        .as[(Long, Seq[(Long, String, String)])]
      val warcs = shards.mapPartitions(_.map { case (shard, docs) =>
        val recs = docs.map { case (id, lang, text) =>
          WarcRecord("response", s"http://corpus.example/doc/$id",
            f"2026-01-${(id % 27) + 1}%02dT00:00:00Z",
            WarcCodec.recordId(s"doc:$id"), "application/http;msgtype=response",
            lang, WarcCodec.httpResponseBlock(text.getBytes("UTF-8"), "text/plain"))
        }
        (shard, WarcCodec.buildWarcGz(recs)._1)
      }).toDF("shard", "warc").as[(Long, Array[Byte])]
      // response WARC -> WET (conversion records), per partition
      val wets = warcs.mapPartitions(_.map { case (shard, bytes) =>
        val conv = WarcCodec.parseWarcGz(bytes)
          .filter(_.warcType == "response")
          .map(r => WarcCodec.toConversion(r, WarcCodec.httpPayload(r.block)))
        (shard, WarcCodec.buildWarcGz(conv)._1)
      }).toDF("shard", "wet")
      wets.select(col("wet")).as[Array[Byte]]
        .mapPartitions(_.flatMap { bytes =>
          WarcCodec.parseWarcGz(bytes).filter(_.warcType == "conversion").map { r =>
            val id = r.targetUri.substring(r.targetUri.lastIndexOf('/') + 1).toLong
            (id, r.language, new String(r.block, "UTF-8"))
          }
        })
        .toDF("doc_id", "lang", "text")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).cast("long").as("chars"),
          sum(size(split(col("text"), " ")).cast("long")).as("words"),
          sum(col("doc_id")).as("chk"))
        .orderBy(col("lang"))
    }),

    // CDX random access into .warc.gz: every 7th document is fetched by
    // inflating ONLY its own gzip member at its recorded (offset,
    // length) — the in-query assert proves the touched byte count is a
    // fraction of the shard. At 100 TB this is the difference between
    // range-reads against an index and decompressing the whole crawl.
    "ml_warc_seek" -> ((s, dir) => {
      import graft.ops.WarcCodec
      import graft.ops.WarcCodec.WarcRecord
      import s.implicits._
      val shards = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), coalesce(col("text"), lit("")).as("text"))
        .withColumn("shard", (col("doc_id") / 16).cast("long"))
        .groupBy(col("shard"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("lang"), col("text"))))
          .as("docs"))
        .as[(Long, Seq[(Long, String, String)])]
      val indexed = shards.mapPartitions(_.map { case (shard, docs) =>
        val recs = docs.map { case (id, lang, text) =>
          WarcRecord("response", s"http://corpus.example/doc/$id",
            f"2026-01-${(id % 27) + 1}%02dT00:00:00Z",
            WarcCodec.recordId(s"doc:$id"), "application/http;msgtype=response",
            lang, WarcCodec.httpResponseBlock(text.getBytes("UTF-8"), "text/plain"))
        }
        val (gz, idx) = WarcCodec.buildWarcGz(recs)
        val cdx = docs.map(_._1).zip(idx).map { case (id, (o, l)) => (id, o, l) }
        (shard, gz, cdx)
      }).toDF("shard", "warc", "cdx")
        .as[(Long, Array[Byte], Seq[(Long, Long, Long)])]
      val out = indexed.mapPartitions(_.flatMap { case (_, gz, cdx) =>
        val wanted = cdx.filter(_._1 % 7 == 0)
        val touched = wanted.map(_._3).sum
        require(wanted.isEmpty || touched < gz.length,
          s"seek read touched the whole shard: $touched of ${gz.length}")
        wanted.map { case (id, off, len) =>
          val r = WarcCodec.readMemberAt(gz, off, len)
          require(r.targetUri.endsWith(s"/$id"), s"CDX offset mismatch for $id")
          (id, new String(WarcCodec.httpPayload(r.block), "UTF-8"))
        }
      }).toDF("doc_id", "text")
      out.select(col("doc_id"), length(col("text")).cast("long").as("n_chars2"),
          md5(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // TopN over a ranking window (reference: PushDownTopNThroughWindow
    // .java): "first page of every segment's leaderboard" — ORDER BY rn
    // LIMIT 15 where rn ranks customers inside their segment. k = 15 =
    // 5 segments x 3 with a unique window tiebreaker, so the selected
    // set is deterministic on both engines. Inserting Filter(rn <= 15)
    // above the window, for Spark's InferWindowGroupLimit to turn into
    // a per-partition group limit, measured no faster on a 25x set.
    "opt_topn_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.{Window => W}
      val spec = W.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
          row_number().over(spec).as("rn"))
        .orderBy(col("rn")).limit(15)
    }),

    // One-pass multi-pattern blocklist scan (Aho-Corasick '75 — the C4
    // badwords-filter primitive): the pattern set compiles to a
    // goto/fail automaton ONCE on the driver and broadcasts; each
    // executor streams text through it in O(len). The SQL oracle runs
    // the same scan as N strpos predicates — N full text passes, the
    // very plan shape the automaton replaces at 100 TB. Patterns
    // include nested ("scan" in "table scan") and word-boundary-
    // crossing cases so a fail-link bug desyncs the match sets.
    "ml_blocklist_scan" -> ((s, dir) => {
      import graft.ops.AhoCorasick
      AhoCorasick.scan(t(s, dir, "documents"), "doc_id", "text",
          Round8cQueries.BlockPatterns)
        .orderBy(col("doc_id"))
    }),

    // BPE tokenizer TRAINING over the corpus (Sennrich '16, the GPT-2
    // end-of-word-marker construction) — the job every pretraining
    // pipeline runs first. ONE corpus-wide shuffle builds the word-count
    // table; the K merge steps run on the VOCABULARY-bounded table
    // (Heaps' law), each one small pair-count aggregation + a 1-row
    // argmax; tokenization broadcasts the learned ranks and maps per
    // partition. Output is the corpus reconstructed THROUGH the trained
    // tokenizer (detok of tokenize), md5-matched against the raw text —
    // any merge-table or application infidelity desyncs the hash. The
    // in-query asserts pin that training actually bit: >= 8 merges
    // learned and total token count strictly below the untrained
    // baseline (codepoints + one end-marker per word). BpeSpec checks
    // the merge SEQUENCE against an independent naive reimplementation.
    "ml_bpe_train" -> ((s, dir) => {
      import graft.ops.Bpe
      val docs = t(s, dir, "documents")
      val merges = Bpe.train(docs, "text", numMerges = 24)
      require(merges.size >= 8, s"BPE learned only ${merges.size} merges")
      require(merges.forall(m => m.count >= 2), "merge below minCount")
      val tok = Bpe.tokenize(docs, "doc_id", "text", merges)
      // untrained tokens per doc: non-space codepoints + one </w> per
      // word = (len - spaces) + (spaces + 1) = len + 1 exactly
      val baseline = docs.select(
        sum(length(coalesce(col("text"), lit(""))).cast("long") + 1L).as("base"))
        .collect()(0).getLong(0)
      val total = tok.select(sum(col("n_tokens"))).collect()(0).getLong(0)
      require(total < baseline,
        s"BPE did not compress: $total tokens vs baseline $baseline")
      tok.select(col("doc_id"),
          length(col("detok")).cast("long").as("n_chars2"),
          md5(col("detok")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // HAVING min(x) < k over a fact-table group-by (reference:
    // MaxMinFilterPushDown.java). The derived row predicate
    // l_extendedprice < 950 sinks to the parquet scan — asserted in
    // PushedFilters — so row groups whose zonemap minimum exceeds the
    // threshold are never read. At 100 TB the HAVING becomes a
    // stats-pruned scan instead of a full aggregate-then-filter.
    "opt_maxmin_filter" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(min(col("l_extendedprice")).as("mn"))
        .filter(col("mn") < 950.0)
        .orderBy(col("l_suppkey"))
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
      val agg = df.queryExecution.optimizedPlan.collectFirst {
        case a: Aggregate => a
      }.getOrElse(throw new IllegalStateException("no Aggregate"))
      // exact names only (base column or the rollup-prefixed
      // __min_/__max_ column the always-on MV best-index rewrite may
      // substitute — the derived filter then prunes the ROLLUP scan,
      // which is exactly the composition we want); a contains() match
      // would also accept unrelated columns embedding the substring
      val expectedNames = Set("l_extendedprice",
        "__min_l_extendedprice", "__max_l_extendedprice")
      val derived = agg.exists {
        case Filter(c, _) => c.references.exists(r => expectedNames(r.name))
        case _ => false
      }
      require(derived, s"no derived filter below the aggregate:\n" +
        df.queryExecution.optimizedPlan)
      // string form: the physical scan sits inside AdaptiveSparkPlanExec,
      // which node-collects don't traverse
      val phys = df.queryExecution.executedPlan.toString
      require(phys.matches("(?s).*PushedFilters: \\[[^\\]]*l_extendedprice.*"),
        s"derived predicate did not reach PushedFilters:\n$phys")
      df
    }),

    // Two constrained extrema at once — the generalization past the
    // reference's single-function guard: min(x) < k AND max(x) > j
    // derives the DISJUNCTION (x < k OR x > j) below the aggregate.
    // (A conjunction would be unsound: group {1, 10} with k=j=5
    // passes both HAVING conjuncts but has no single row inside
    // (x<5 AND x>5) — the spec pins that counter-example.)
    "opt_maxmin_filter2" -> ((s, dir) => {
      val df = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"))
        .filter(col("mn") < 1200.0 && col("mx") > 90000.0)
        .orderBy(col("l_returnflag"), col("l_linestatus"))
      import org.apache.spark.sql.catalyst.expressions.Or
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter}
      val agg = df.queryExecution.optimizedPlan.collectFirst {
        case a: Aggregate => a
      }.getOrElse(throw new IllegalStateException("no Aggregate"))
      val expectedNames = Set("l_extendedprice",
        "__min_l_extendedprice", "__max_l_extendedprice")
      val disjunct = agg.exists {
        case Filter(c, _) =>
          c.isInstanceOf[Or] &&
            c.references.exists(r => expectedNames(r.name))
        case _ => false
      }
      require(disjunct, s"no OR-combined derived filter below the aggregate:\n" +
        df.queryExecution.optimizedPlan)
      df
    })
  )

  def oracle: Map[String, String] = Map(

    "opt_topn_window" -> """
      WITH r AS (SELECT c_mktsegment, c_custkey, c_acctbal,
                        CAST(row_number() OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
                 FROM customer)
      SELECT c_mktsegment, c_custkey, c_acctbal, rn
      FROM r ORDER BY rn LIMIT 15""",

    "ml_blocklist_scan" -> s"""
      WITH pats AS (SELECT * FROM (VALUES $blockPatternsSqlValues) p(pat)),
      m AS (SELECT doc_id, pat FROM documents, pats
            WHERE strpos(coalesce(text, ''), pat) > 0)
      SELECT d.doc_id,
             CAST(count(m.pat) AS BIGINT) AS n_matched,
             coalesce(string_agg(m.pat, ',' ORDER BY m.pat), '') AS matched
      FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
      GROUP BY d.doc_id ORDER BY d.doc_id""",

    "ml_bpe_train" -> """
      SELECT doc_id,
             CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars2,
             md5(coalesce(text, '')) AS fp
      FROM documents ORDER BY doc_id""",

    "ml_warc_roundtrip" -> """
      SELECT doc_id,
             CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars2,
             md5(coalesce(text, '')) AS fp
      FROM documents ORDER BY doc_id""",

    "ml_wet_extract" -> """
      SELECT lang, count(*) AS n_docs,
             CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS chars,
             CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS words,
             CAST(sum(doc_id) AS BIGINT) AS chk
      FROM documents GROUP BY lang ORDER BY lang""",

    "ml_warc_seek" -> """
      SELECT doc_id,
             CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars2,
             md5(coalesce(text, '')) AS fp
      FROM documents WHERE doc_id % 7 = 0 ORDER BY doc_id""",

    "opt_maxmin_filter" -> """
      SELECT l_suppkey, min(l_extendedprice) AS mn
      FROM lineitem GROUP BY l_suppkey
      HAVING min(l_extendedprice) < 950.0
      ORDER BY l_suppkey""",

    "opt_maxmin_filter2" -> """
      SELECT l_returnflag, l_linestatus,
             min(l_extendedprice) AS mn, max(l_extendedprice) AS mx
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      HAVING min(l_extendedprice) < 1200.0 AND max(l_extendedprice) > 90000.0
      ORDER BY l_returnflag, l_linestatus""")
}
