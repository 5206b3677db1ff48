package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines (SURVEY.md §7.3
  * step 8; north-star ops beyond the reference's own operator set).
  *
  * All stages are native-HOF expression pipelines — no UDFs — so they
  * whole-stage-codegen and scale by partitioning:
  *  - shingling/minhash is per-row (embarrassingly parallel);
  *  - LSH banding shuffles once on (band, signature) — the classic
  *    band-bucket join; candidate pairs then get an exact-jaccard
  *    verify so the output is exact (LSH only prunes the pair space).
  * At 100 TB: band-bucket sizes are bounded (64-bit signatures make
  * hot buckets = true near-dup clusters), AQE handles residual skew.
  */
object Dedup {

  /** Bucket-size skew guard for the banded candidate self-joins
    * (minhash bands, simhash pigeonhole blocks, hyperplane-LSH bands).
    * A pathological (band, sig) bucket — thousands of byte-identical
    * boilerplate docs, common in web corpora — makes the bucket-local
    * exact verify quadratic in that bucket, AND the qualifying pair
    * OUTPUT itself is quadratic, so no rewrite can bound the work while
    * keeping exact pair semantics. The guard is a single count pre-pass
    * on the banding key (one aggregation over the already-materialized
    * banded table — negligible next to the self-join it protects) that
    * fails FAST with the documented remedy instead of launching a
    * quadratic join. Mirrors the reference's posting-list/ngram-bloom
    * cutoffs (be/src/storage/index/bloom_filter/ngram_bloom_filter.h).
    *
    * Documented precondition: route the corpus through EXACT dedup
    * first (hash-groupBy / segment dedup) — byte-identical copies are
    * what create oversized buckets, and exact dedup absorbs them in one
    * linear pass. Cap is per-session tunable via
    * `spark.graft.lsh.bucketCap` (default 2048; true near-dup clusters
    * above that size are precisely the quadratic-output inputs the
    * guard exists to catch). */
  private[graft] def requireBoundedBuckets(
      banded: DataFrame, keyCols: Seq[String], what: String): Unit = {
    val cap = banded.sparkSession.conf
      .getOption("spark.graft.lsh.bucketCap").map(_.toInt).getOrElse(2048)
    // driver-path assert on <= 1 row (sanctioned collect class)
    val over = banded.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n") > cap)
      .orderBy(col("bucket_n").desc).limit(1).collect()
    if (over.nonEmpty) {
      val worst = over.head.getAs[Long]("bucket_n")
      throw new IllegalStateException(
        s"$what: a (${keyCols.mkString(", ")}) bucket holds $worst members " +
        s"(cap $cap, spark.graft.lsh.bucketCap): the candidate verify and " +
        "the qualifying pair output are quadratic in that bucket. Run " +
        "exact deduplication first (hash-groupBy on content / segment " +
        "dedup) — byte-identical copies are what inflate LSH buckets — " +
        "or raise the cap if the cluster is a true near-dup cluster you " +
        "intend to enumerate pairwise.")
    }
  }

  /** Same contract as `requireBoundedBuckets`, but over an ALREADY
    * materialized bucket table (one array of member ids per bucket):
    * the check is a single max() over bucket sizes — effectively free
    * when the bucket table is needed for candidate generation anyway. */
  private[graft] def requireBoundedBucketLists(
      buckets: DataFrame, idsCol: String, what: String, keyDesc: String): Unit = {
    val cap = buckets.sparkSession.conf
      .getOption("spark.graft.lsh.bucketCap").map(_.toInt).getOrElse(2048)
    val worst = buckets.agg(max(size(col(idsCol)))).collect()(0)
    if (!worst.isNullAt(0) && worst.getInt(0) > cap) {
      throw new IllegalStateException(
        s"$what: a $keyDesc bucket holds ${worst.getInt(0)} members " +
        s"(cap $cap, spark.graft.lsh.bucketCap): the candidate verify and " +
        "the qualifying pair output are quadratic in that bucket. Run " +
        "exact deduplication first (hash-groupBy on content / segment " +
        "dedup) — byte-identical copies are what inflate LSH buckets — " +
        "or raise the cap if the cluster is a true near-dup cluster you " +
        "intend to enumerate pairwise.")
    }
  }

  /** distinct word n-gram shingles of a words array. */
  def shingles(words: Column, n: Int): Column = {
    val grams = transform(
      sequence(lit(1), size(words) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(words, i + k)): _*))
    when(size(words) >= n, array_distinct(grams))
      .otherwise(array_distinct(array(concat_ws(" ", words))))
  }

  /** 64 minhash signatures over PRE-HASHED shingles (one string hash
    * per shingle; each lane is a cheap long re-hash — the standard
    * one-hash-plus-mixing minhash family). Callers must alias the
    * hashed-shingle array to its own column first: an inline
    * expression would be copied into all 64 lane lambdas and the
    * string hashing would run 64x (the round-4 ml_dedup_minhash
    * profile showed exactly that blowup). */
  def minhashOfHashes(hashedSh: Column, nHashes: Int = 64): Column =
    transform(sequence(lit(0), lit(nHashes - 1)),
      i => array_min(transform(hashedSh, x => xxhash64(x, i))))

  /** 64 minhash signatures: min over shingles of a seeded xxhash64.
    * Prefer aliasing transform(sh, xxhash64) + [[minhashOfHashes]] in
    * pipelines (see above). */
  def minhash(sh: Column, nHashes: Int = 64): Column =
    minhashOfHashes(transform(sh, s => xxhash64(s)), nHashes)

  /** band signatures: nBands structs of (band, sig-of-r-minhashes). */
  def bandSignatures(mh: Column, nBands: Int = 16, r: Int = 4): Column =
    transform(sequence(lit(0), lit(nBands - 1)),
      b => struct(b.as("band"),
        xxhash64(slice(mh, b * r + 1, lit(r)).cast("string")).as("sig")))

  /** Full MinHash-LSH near-dup pairs with exact-jaccard verification.
    * Returns (id_a, id_b, jaccard) for pairs with jaccard >= threshold
    * that collide in at least one band (P(miss) < 1e-7 at j >= 0.85
    * with 16 bands x 4 rows). */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val base = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .withColumn("sh", shingles(col("ws"), n))
    // Each stage lands in its OWN projection: hsh (one string hash per
    // shingle), mh (64 cheap long re-hashes), band structs. Inlining
    // these would copy the upstream expression into every consuming
    // lambda (16 bands x 64 lanes) — the difference is minutes vs
    // sub-second at sf0.1.
    // localCheckpoint discipline (profiled at sf0.1: 142s -> ~5s):
    //  1. after hsh — a single-reference alias gets INLINED by
    //     CollapseProject into all 64 lane lambdas, re-running the
    //     string hashing 64x; checkpointing turns hsh into data.
    //     (mh needs no checkpoint: 16 band references block collapse.)
    //  2. buckets feeds the skew guard AND the pair explode.
    // The checkpoint carries ONLY (id, hsh) — r16: it used to drag the
    // word array and the string shingle array along (~4x the bytes),
    // and the verify intersected STRING arrays. The hashed-shingle
    // array is 1:1 with the distinct shingles (64-bit xxhash64;
    // within-pair collision odds ~1e-14 on ~1k-shingle unions), so
    // |A∩B| and the sizes — hence the jaccard VALUE — are unchanged,
    // while the cache, the verify-join shuffle, and the intersect all
    // move from fat strings to longs (5x bench: verify 2.0 s -> ~0.6 s,
    // cold pipeline 5.5 s -> ~3 s).
    // r17: hsh is SORTED once here (graft_sort_longs — one primitive
    // Arrays.sort per doc, amortized over the ~13x candidate
    // redundancy) so the verify intersect is a merge walk
    // (graft_inter_sorted) instead of array_intersect's per-pair
    // hash-set build. Sortedness changes nothing else: banding takes
    // elementwise minima (order-free) and |A∩B|/sizes are set
    // quantities (5x replication, OPTIMIZATION_r17.md: verify 0.79 ->
    // 0.44 s warm, identical 56,398 output pairs).
    val hashed = base
      .select(col("id"),
        expr("graft_sort_longs(transform(sh, s -> xxhash64(s)))").as("hsh"))
      .localCheckpoint()
    // band signatures via the codegen kernel (BandSigsExpr.scala): one
    // primitive loop per row replacing the 64 interpreted lane lambdas
    // + the slice→string→xxhash64 band detour. Lane minima replicate
    // xxhash64(x, i) bit-exactly, so candidate recall is unchanged.
    // NO checkpoint here (r16): since the r8 bucket-explode rewrite the
    // banded frame has exactly ONE consumer (the buckets groupBy below
    // — the guard and the pair explode both read the bucket table), so
    // the old "feeds both sides of the self-join" materialization was a
    // pure extra pass + AQE stage barrier; the banding now fuses into
    // the groupBy's map side over the checkpointed hsh.
    val banded = hashed
      .select(col("id"), posexplode(expr("graft_minhash_bands(hsh, 16, 4)")))
      .toDF("id", "band", "sig")
    // Bucket-explode candidate generation: ONE groupBy materializes the
    // (band, sig) buckets, the skew guard is a free max() over bucket
    // sizes on that same table (fails FAST, before any pair work, with
    // the exact-dedup remedy — r8 originally ran the guard as a
    // separate count pre-pass plus a banded⋈banded self-join; fusing
    // both onto the bucket table removed ~0.4 s/run at sf0.1), and the
    // pairs explode per bucket. Memory before the guard check is
    // O(bucket), never O(bucket²). The cross-set variant
    // (minhashPairsAcross) keeps the two-pass guard: its candidates
    // come from a shard⋈corpus join, so there is no shared bucket
    // table to fuse onto.
    val buckets = banded.groupBy(col("band"), col("sig"))
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .localCheckpoint()
    requireBoundedBucketLists(buckets, "ids", "minhashPairs", "(band, sig)")
    val cand = buckets.select(explode(expr(
        """flatten(transform(sequence(1, size(ids) - 1),
          |  i -> transform(slice(ids, i + 1, size(ids) - i),
          |    b -> struct(element_at(ids, i) AS id_a, b AS id_b))))"""
          .stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
    val sets = hashed // (id, hsh) — already materialized above
    val inter = expr("graft_inter_sorted(sa, sb)")
    cand
      .join(sets.select(col("id").as("id_a"), col("hsh").as("sa")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("hsh").as("sb")), "id_b")
      .withColumn("jaccard",
        inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Cross-set near-dup pairs: `left` (the standing corpus) vs `right`
    * (an incoming shard) — the INCREMENTAL ingestion shape: dedup
    * today's crawl against everything already accepted without ever
    * comparing corpus-to-corpus. Same banded-candidates + exact-verify
    * discipline as `minhashPairs`; the candidate join is
    * left_bands ⋈ right_bands on (band, sig), so work scales with the
    * shard's collision volume, not the corpus pair count. At 100 TB the
    * corpus side's banded signatures are a materialized artifact
    * maintained across runs (16 longs per doc); each ingest batch
    * re-bands ONLY its own docs. Returns (id_a ∈ left, id_b ∈ right,
    * jaccard >= threshold). */
  def minhashPairsAcross(left: DataFrame, right: DataFrame, idCol: String,
                         textCol: String, n: Int = 3,
                         threshold: Double = 0.5): DataFrame = {
    val (hl, bl) = minhashPrepare(left, idCol, textCol, n,
      "minhashPairsAcross/corpus")
    minhashPairsAcrossPrepared(hl, bl, right, idCol, textCol, n, threshold)
  }

  /** the standing corpus artifact: (hashed(id, sh, hsh),
    * banded(id, band, sig)) — 16 (band, sig) longs + the shingle sets
    * per doc. Built once, reused across ingest batches (persist/write
    * is the caller's choice; `stream_corpus_dedup` holds it across a
    * whole streaming run). */
  def minhashPrepare(df: DataFrame, idCol: String, textCol: String,
                     n: Int = 3, what: String = "minhashPrepare")
      : (DataFrame, DataFrame) = {
    // (id, hsh) only — same r16 slimming as minhashPairs: the verify
    // intersects hashed shingles (1:1 with the string shingles), so the
    // standing artifact stops carrying word/shingle strings. r17: hsh
    // sorted at build (see minhashPairs) so cross-set verifies use the
    // graft_inter_sorted merge walk.
    val hashed = df
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .withColumn("sh", shingles(col("ws"), n))
      .select(col("id"),
        expr("graft_sort_longs(transform(sh, s -> xxhash64(s)))").as("hsh"))
      .localCheckpoint() // feeds banding AND the verify join
    val banded = hashed
      .select(col("id"), posexplode(expr("graft_minhash_bands(hsh, 16, 4)")))
      .toDF("id", "band", "sig")
      .localCheckpoint()
    requireBoundedBuckets(banded, Seq("band", "sig"), what)
    (hashed, banded)
  }

  /** cross-set pairs against a PREPARED corpus artifact — the per-batch
    * work is banding the batch + one (band, sig) join; the corpus is
    * never re-scanned. */
  def minhashPairsAcrossPrepared(hl: DataFrame, bl: DataFrame,
                                 right: DataFrame, idCol: String,
                                 textCol: String, n: Int = 3,
                                 threshold: Double = 0.5): DataFrame = {
    val (hr, br) = minhashPrepare(right, idCol, textCol, n,
      "minhashPairsAcross/incoming")
    val cand = bl.as("x")
      .join(br.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val inter = expr("graft_inter_sorted(sa, sb)")
    cand
      .join(hl.select(col("id").as("id_a"), col("hsh").as("sa")), "id_a")
      .join(hr.select(col("id").as("id_b"), col("hsh").as("sb")), "id_b")
      .withColumn("jaccard",
        inter.cast("double") / (size(col("sa")) + size(col("sb")) - inter))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** 64-bit SimHash over PRE-HASHED words (dynamic bit shifts require
    * the SQL shiftleft/shiftright forms). Callers hash words to longs
    * once in their own column — the naive per-bit form re-runs the
    * string hash 64x per word (same CollapseProject/lambda-inlining
    * trap as minhash, see minhashPairs). */
  def simhashOfHashes(hashedCol: String): Column = expr(
    s"""aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->
          acc + IF(aggregate($hashedCol, CAST(0 AS BIGINT), (a, h) ->
                     a + IF((shiftright(h, CAST(i AS INT)) & 1) = 1, 1, -1)) > 0,
                   shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), CAST(0 AS BIGINT)))""")

  /** 64-bit SimHash over the word multiset. */
  def simhash(wordsCol: String): Column = expr(
    s"""aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) ->
          acc + IF(aggregate($wordsCol, CAST(0 AS BIGINT), (a, w) ->
                     a + IF((shiftright(xxhash64(w), CAST(i AS INT)) & 1) = 1, 1, -1)) > 0,
                   shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), CAST(0 AS BIGINT)))""")

  /** SimHash near-dup pairs with hamming distance <= maxDist, using
    * 4x16-bit band blocking (pigeonhole: dist <= 3 implies >= 1 equal
    * band), then exact popcount verify. */
  /** 60-bit md5-derived word hash (top 15 hex chars → BIGINT) — the
    * cross-engine-replicable alternative to xxhash64 (DuckDB:
    * `CAST(concat('0x', substr(md5(w),1,15)) AS BIGINT)`), shared with
    * the `ml_simhash_exact` derivation. */
  def md5WordHash(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long")

  /** `wordHash` selects the per-word hash: the default xxhash64 is the
    * scale path (one codegen hash per word); the md5-derived 60-bit
    * variant ([[md5WordHash]]) is bit-replicable in DuckDB SQL, which
    * is what lets `ml_dedup_simhash` carry a value-exact oracle (r9 —
    * the banding, verify, and pair semantics are identical either
    * way). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxDist: Int = 3,
                   wordHash: Column => Column = w => xxhash64(w)): DataFrame = {
    // word hashes once (checkpointed: single-reference aliases get
    // inlined into the 64 per-bit lambdas otherwise), sign-sum on longs
    val hashed = docs
      .select(col(idCol).as("id"), split(col(textCol), " ").as("ws"))
      .withColumn("hw", transform(col("ws"), w => wordHash(w)))
      .localCheckpoint()
      .withColumn("sh", simhashOfHashes("hw"))
    val banded = hashed.select(col("id"), col("sh"),
        explode(expr(
          """transform(sequence(0, 3), b -> struct(b AS band,
               shiftrightunsigned(sh, CAST(b * 16 AS INT)) & CAST(65535 AS BIGINT) AS key))""")).as("b"))
      .select(col("id"), col("sh"), col("b.band"), col("b.key"))
      .localCheckpoint() // feeds both sides of the candidate self-join
    requireBoundedBuckets(banded, Seq("band", "key"), "simhashPairs")
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        bit_count(col("x.sh").bitwiseXOR(col("y.sh"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
      // dedup AFTER the popcount filter (r16, the nearDupPairsLsh
      // discipline): the verify is one codegen XOR+popcount per row, so
      // deduplicating first shuffled the whole ≤4x-redundant candidate
      // stream to save arithmetic cheaper than the exchange; the
      // distinct now shuffles only qualifying pairs
      .distinct()
  }

  /** Connected components over an undirected duplicate-pair edge list:
    * iterative min-label propagation, the standard O(graph-diameter)-
    * round formulation, so a 100 TB pair set shards like any hash
    * join; near-dup graphs have tiny diameters (clusters are
    * quasi-cliques), so rounds stay single-digit. Returns (id, lab)
    * with lab = min member id of the component — the canonical
    * representative used to pick one surviving document per duplicate
    * cluster. At most `maxIter` rounds run, the seeded first round
    * included; a component wider than that keeps partial labels.
    *
    * Round shape (r17): each round is ONE join + ONE aggregate with a
    * single exchange — the algorithmic floor (labels must move from
    * dst-keyed to src-keyed once per hop) — and the initial labels
    * frame is already round 1, computed join-free (see the inline
    * comment). Two r16 spellings were removed:
    *  - self-edges (id, id) in the symmetric edge set fold a node's
    *    own label into the same min-aggregate that folds its
    *    neighbours', so the r16 left-join of the aggregated minima
    *    back against labels (to keep the old label for the
    *    convergence flag) is gone — min(when(dst = src)) picks the
    *    previous label out of the self-row inside the existing
    *    aggregate (exactly one self-row per group);
    *  - the edge set is hash-partitioned by dst ONCE and persisted for
    *    the statement (persist, not localCheckpoint: the checkpoint's
    *    LogicalRDD reports UnknownPartitioning, so every round paid a
    *    fresh edge-sized exchange — the cached plan keeps its
    *    partitioning, so the per-round join never re-shuffles the
    *    edges; unpersisted in a finally before returning).
    * The two shuffles left per round are the floor: the node-sized
    * labels re-key onto dst, and the groupBy(src) hop whose map-side
    * partial min reduces edge-sized rows to node-sized before the
    * wire. Null ids are not supported (no caller produces them: edge
    * ends are join keys upstream). */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 50): DataFrame = {
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    val sym = und
      .union(und.select(col("src")).distinct()
        .select(col("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .persist()
    try {
    // initial labels = the FIRST propagation round, join-free: with
    // self-edges present, min(dst) per src group is min(N(x) ∪ {x}) —
    // exactly what round 1 of the loop would produce from lab(x) = x,
    // one aggregate instead of a join round (r17: one fewer of the
    // 4 sf0.1 rounds runs the join at all)
    var labels = sym.groupBy(col("src"))
      .agg(min(col("dst")).as("lab"))
      .localCheckpoint(eager = true)
    var changed = 1L
    // the seeded labels are round 1 of at most maxIter
    var i = 1
    while (i < maxIter && changed > 0) {
      val pre = sym.as("e")
        .join(labels.as("l"), col("e.dst") === col("l.src"))
        .groupBy(col("e.src"))
        .agg(min(col("l.lab")).as("nlab"),
          min(when(col("e.dst") === col("e.src"), col("l.lab"))).as("old"))
        .select(col("src"), col("nlab").as("lab"),
          (col("nlab") =!= col("old")).as("chg"))
      // the changed labels are counted inside the checkpoint's own job,
      // as an observed metric: a filter + count after it ran two more
      // jobs per round
      val observed = pre.observe("cc_changed", count_if(col("chg")))
      val next2 = observed.localCheckpoint(eager = true)
      changed = observed.queryExecution.observedMetrics("cc_changed").getLong(0)
      labels = next2.select(col("src"), col("lab"))
      i += 1
    }
    // every round's labels checkpoint is already materialized, so
    // nothing downstream re-reads the cached edges
    labels.select(col("src").as("id"), col("lab"))
    } finally sym.unpersist()
  }

  /** Cross-corpus duplicated-substring SPAN removal at w-shingle
    * granularity — the exact-substring dedup family of Lee et al. '22
    * ("Deduplicating Training Data Makes Language Models Better"),
    * whose suffix-array construction this re-expresses relationally:
    * a word position is duplicated when it is covered by a w-word
    * window whose text occurs >= 2 times ANYWHERE in the corpus
    * (including the same document); maximal runs of duplicated
    * windows merge into spans, and the kept text is the document with
    * covered positions removed.
    *
    * 100 TB shape: ONE explode produces (doc, pos, h1, h2) — a
    * 128-bit two-long content key (two independently seeded xxhash64
    * over the word-array slice), never the w-word string, is what
    * shuffles; duplicated positions come from a single count window
    * over that key (one exchange carries the position stream once —
    * r17: the old global-frequency aggregate + hash-keyed join-back
    * re-exploded the corpus a second time, doubling scan+hash work at
    * any scale), span-merge is a per-doc window (intervals all have
    * length w, so sorted-by-p merge needs only lag(p)), and reassembly
    * is a per-row HOF over the original word array. No cartesian, no
    * driver-side text. Skew: the count window buffers one (h1, h2)
    * group at a time per task and spills past
    * spark.sql.windowExec.buffer.spill.threshold, so a boilerplate hot
    * shingle degrades to a disk-backed straggler, never an OOM; the
    * structural bound is the same documented precondition as the LSH
    * bucket caps — route byte-identical copies through exact dedup
    * first, which is what creates pathological shingle groups.
    *
    * Returns one row per document: (id, n_words, n_spans, n_dup_pos,
    * covered, kept_words, kept_fp) with kept_fp = md5 of the
    * span-removed text — a value-level cross-engine check that the
    * removal itself (not just the counts) is exact. */
  def substringDedupSpans(docs: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = docs
      .select(col(idCol).as("id"),
        split(coalesce(col(textCol), lit("")), " ").as("ws"))
      .withColumn("len", size(col("ws")))
      .localCheckpoint() // consumed by the shingle pass AND reassembly
    // content key = TWO seeded xxhash64 longs (128 bits, collision-safe
    // at web-corpus shingle cardinality like the old md5) — r16: the
    // 32-char md5 HEX string cost a digest + hex-encode per position on
    // BOTH passes (the frequency agg and the join-back re-explode) and
    // shipped 3x the key bytes through both exchanges; two codegen
    // xxhash64 calls over the same window text are value-equivalent for
    // count/join purposes and never surface in the output.
    // (hashing the word-array SLICE directly — no array_join string
    // build; two slices of w refs per position beat digest+hex, and
    // both hash exprs read the checkpointed ws/p columns so nothing
    // re-evaluates through CollapseProject)
    // h2 hashes with the SEED ARGUMENT FIRST: xxhash64 folds its
    // arguments left-to-right, so the r16 spelling
    // xxhash64(slice, lit(1)) was hash(1, state=h1) — a deterministic
    // function of h1 adding ZERO entropy (the key was effectively
    // 64-bit, and 64-bit birthday collisions at web-corpus shingle
    // cardinality silently delete non-duplicate spans). Folding the
    // seed in FIRST gives the slice a distinct initial state, so
    // (h1, h2) is a true 128-bit key (DedupKeySpec pins this).
    val shingles = base.filter(col("len") >= w)
      .select(col("id"), explode(expr(s"sequence(1, len - ${w - 1})")).as("p"),
        col("ws"))
      .select(col("id"), col("p"),
        xxhash64(expr(s"slice(ws, p, $w)")).as("h1"),
        xxhash64(lit(1), expr(s"slice(ws, p, $w)")).as("h2"))
    // single-pass duplicated-position marking (r17): a count window
    // over the content key replaces the r16 global-frequency aggregate
    // + join-back, whose probe-measured cost was dominated by
    // re-exploding and re-hashing every corpus position a second time
    // (5x corpus, OPTIMIZATION_r17.md: spans stage 2.3-3.3 s two-pass vs
    // 1.2-1.5 s single-pass). One exchange ships (id, p, h1, h2) once;
    // the window's per-group buffer spills on pathological groups (see
    // the 100 TB-shape note above).
    val dupPos = shingles
      .withColumn("c", count(lit(1)).over(
        Window.partitionBy(col("h1"), col("h2"))))
      .filter(col("c") >= 2)
      .select(col("id"), col("p"))
    val wOrd = Window.partitionBy(col("id")).orderBy(col("p"))
    val spans = dupPos
      .withColumn("brk",
        when(lag(col("p"), 1).over(wOrd).isNull ||
          col("p") > lag(col("p"), 1).over(wOrd) + (w - 1), 1).otherwise(0))
      .withColumn("island", sum(col("brk"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("id"), col("island"))
      .agg(min(col("p")).as("s"), (max(col("p")) + (w - 1)).as("e"),
        count(lit(1)).as("npos"))
    val perDoc = spans.groupBy(col("id")).agg(
      count(lit(1)).as("n_spans"),
      sum(col("e") - col("s") + 1).as("covered"),
      sum(col("npos")).as("n_dup_pos"),
      collect_list(struct(col("s"), col("e"))).as("iv"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        col("len").cast("long").as("n_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        (col("len").cast("long") - coalesce(col("covered"), lit(0L))).as("kept_words"),
        md5(when(col("iv").isNull, expr("array_join(ws, ' ')"))
          .otherwise(expr(
            """array_join(
                 filter(transform(sequence(1, len),
                          i -> IF(exists(iv, r -> i >= r.s AND i <= r.e),
                                  NULL, element_at(ws, i))),
                        x -> x IS NOT NULL),
                 ' ')"""))).as("kept_fp"))
  }
}
