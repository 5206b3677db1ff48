package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partition-count invariance: the value-level law behind "works on
  * 1000 executors". Every declared query is supposed to produce
  * IDENTICAL rows regardless of how the data is sharded (exact DECIMAL
  * money math, mergeable aggregator state, deterministic tie-breaks).
  * This spec runs a representative cross-section — TPC-H aggs, stats,
  * sketches, behavior analytics, window funnels, dedup pair sets —
  * under 3 and 32 shuffle partitions and demands row-for-row equality.
  * A failure means some operator's merge path is order-sensitive: a
  * distributed-correctness bug no single-partition test can see. */
class PartitionInvarianceSpec extends AnyFunSuite {
  import TestSpark._

  private val keys = Seq(
    "q1_pricing_summary", "q21_waiting_supplier",
    "agg_stats", "agg_percentile", "agg_collect", "agg_group_concat",
    "state_hll", "fq_topn", "fq_retention", "fq_window_funnel",
    "state_ema", "win_frames_rows",
    "ml_dedup_exact", "ml_dedup_minhash", "ml_ngram_jaccard",
    "setop_except_all", "ml_quality_gopher",
    // round-7c shuffle-bearing ops: cross-doc line dedup (COUNT
    // DISTINCT + join-back), bigram LM (four broadcast count tables),
    // winnowing (per-row, but the fingerprint must not depend on input
    // split), as-of tolerance (union+window single shuffle)
    "ml_line_dedup", "ml_bigram_logprob", "ml_winnow_fingerprint",
    "model_asof_tolerance",
    // codec paths: decode results must not depend on how the binary
    // rows were split across partitions
    "mm_png_decode", "ml_gzip_roundtrip", "ml_shard_roundtrip",
    // round-8 paths: video containers (AVI idx1 seek), the Avro
    // container scan, XML ingestion, rank-based perplexity terciles,
    // two-hash train sharding (row_number interleave must not depend
    // on input split)
    "mm_avi_seek", "mm_y4m_decode", "src_avro_roundtrip",
    "ml_wiki_xml", "ml_perplexity_bucket", "ml_train_shard",
    "ml_dedup_incremental")

  test("31 representative queries are shuffle-partition invariant (3 vs 32)") {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def runAt(n: String, key: String) = {
      spark.conf.set("spark.sql.shuffle.partitions", n)
      SparkEntry.queries(key)(spark, sf).collect().toSeq
    }
    try {
      val bad = keys.flatMap { k =>
        if (!SparkEntry.queries.contains(k)) Some(s"$k: missing")
        else {
          val a = runAt("3", k)
          val b = runAt("32", k)
          // pair-set queries order deterministically; all others are
          // ORDER BY'd — plain equality is the law either way
          if (a == b) None else Some(s"$k: ${a.size} vs ${b.size} rows, first diff at " +
            a.zip(b).indexWhere { case (x, y) => x != y })
        }
      }
      assert(bad.isEmpty, bad.mkString("\n"))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
