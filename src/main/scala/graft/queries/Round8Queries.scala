package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Q.t

/** Round-8 pipeline depth: the corpus-mixture ops between cleaning and
  * tokenization that operate on COMPUTED corpus statistics rather than
  * hardcoded weights (complementing ml_mixture_upsample's fixed-weight
  * form). All deterministic — no RNG anywhere; sampling decisions come
  * from portable integer arithmetic both engines evaluate identically.
  *
  * Scale notes (100 TB):
  *  - temperature sample: ONE tiny groupBy for per-language counts
  *    (#languages rows), rates broadcast, then a per-row codegen filter
  *    — the corpus is scanned once and never shuffled.
  *  - dup-paragraph: doc-keyed explode + two-level agg, partial
  *    map-side; no cross-document state.
  */
object Round8Queries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Multilingual temperature sampling (alpha = 0.5): target share per
    // language ~ sqrt(n_lang) (flattens the head, boosts the tail —
    // the standard multilingual-pretraining mixture), budget 60% of the
    // corpus, rate capped at 1 (downsampling only). Kept set decided by
    // a Knuth multiplicative hash threshold — exact, reproducible, and
    // engine-portable (sqrt/div/mul are IEEE correctly-rounded, so the
    // doubles agree bit-for-bit; the final compare is integer).
    "ml_temperature_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val stats = docs.groupBy(col("lang")).agg(count(lit(1)).as("nd"))
      val tot = stats.agg(sum(sqrt(col("nd"))).as("z"), sum(col("nd")).as("n"))
      // one row per language — broadcast-safe at any corpus scale
      val rates = stats.crossJoin(broadcast(tot))
        .select(col("lang"),
          least(lit(1.0),
            sqrt(col("nd")) / col("z") * lit(0.6) * col("n") / col("nd"))
            .as("rate"))
      docs.join(broadcast(rates), "lang")
        .filter(pmod(col("doc_id") * lit(2654435761L), lit(1000003L)) <
          round(col("rate") * 1000003).cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("chk"))
        .orderBy(col("lang"))
    }),

    // REAL GIF decode (third real image codec next to PNG/BMP): full
    // variable-width LZW with dictionary growth and clear resets,
    // cross-validated against javax.imageio in GifCodecSpec. The
    // oracle rebuilds the (id*7 + 3x + 5y) mod 256 pattern in SQL and
    // checks position-weighted integer stats — so a single transposed
    // pixel fails the hash.
    "mm_gif_decode" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val ids = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"))
      MultimodalOps.decodeGifBatch(
          MultimodalOps.syntheticGifs(ids, "doc_id", 31, 17),
          "doc_id", "img")
        .orderBy(col("doc_id"))
    }),

    // REAL baseline JPEG decode (markers, in-file Huffman tables,
    // byte-stuffed entropy stream, DC prediction, dequant, full 8x8
    // IDCT) — cross-validated against javax.imageio in JpegCodecSpec.
    // Fixtures are block-constant (DC-only, q_dc = 8), the
    // exactly-decodable subset, so the SQL oracle is closed-form.
    "mm_jpeg_decode" -> ((s, dir) => {
      import graft.ops.JpegCodec
      val ids = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"))
      JpegCodec.decodeJpegBatch(
          JpegCodec.syntheticJpegs(ids, "doc_id", 64, 32),
          "doc_id", "img")
        .orderBy(col("doc_id"))
    }),

    // Windowed audio features over REAL decoded WAV bytes (RMS /
    // zero-crossings / peak per 256-sample frame — the silence/
    // clipping/noisiness gate an audio pipeline applies before any
    // model): integer + sqrt math, so the oracle reconstructs the
    // synthetic waveform ((id*13+7t) mod 256, centered) in SQL exactly.
    "mm_audio_features" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val ids = t(s, dir, "documents").filter(col("doc_id") < 40)
        .select(col("doc_id"))
      MultimodalOps.audioFeaturesBatch(
          MultimodalOps.syntheticWavs(ids, "doc_id", 1024, 8000),
          "doc_id", "audio", 256)
        .select(col("doc_id"), col("win_idx"), col("n"),
          round(col("rms"), 6).as("rms"), col("zcr"), col("peak"))
        .orderBy(col("doc_id"), col("win_idx"))
    }),

    // DFT-bin magnitudes over the same decoded PCM (the tone/hum
    // detector; Goertzel computes the same quantity — the direct form
    // keeps summation order portable, 4dp rounding absorbs cos/sin
    // ulp differences between libm implementations).
    "mm_dft_power" -> ((s, dir) => {
      import graft.ops.MultimodalOps
      val ids = t(s, dir, "documents").filter(col("doc_id") < 30)
        .select(col("doc_id"))
      MultimodalOps.dftMagnitudeBatch(
          MultimodalOps.syntheticWavs(ids, "doc_id", 1024, 8000),
          "doc_id", "audio", Seq(1, 5, 17))
        .select(col("doc_id"), col("bin"), round(col("mag"), 4).as("mag"))
        .orderBy(col("doc_id"), col("bin"))
    }),

    // sum(col + k) measures, the shape sum-of-literal decomposition
    // targets (reference SumLiteralRewrite.java: sum(col) +
    // count(col)*k shares one buffer pair across the literals).
    // The rewrite measured no faster on a 25x set.
    "opt_sum_literal" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity").cast("long") + lit(5L)).as("s5"),
          sum(col("l_quantity").cast("long") + lit(10L)).as("s10"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // Gopher repetition signal at PARAGRAPH granularity (the third of
    // the trio next to ml_quality_gopher's word/bigram fractions):
    // fraction of paragraphs that are within-doc duplicates, and the
    // fraction of characters inside duplicated paragraphs (Gopher
    // filters on both). Paragraphs are materialized deterministically
    // as 12-word chunks on BOTH sides (the corpus fixture is
    // single-line word soup — same shared-transformation discipline as
    // the C4/boilerplate passes).
    "ml_dup_paragraph" -> ((s, dir) => {
      val paras = t(s, dir, "documents")
        .withColumn("ws", split(col("text"), " "))
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, cast(ceil(size(ws)/12.0) as int) - 1), " +
          "i -> array_join(slice(ws, i*12+1, 12), ' '))")).as("para"))
      val pc = paras.groupBy(col("doc_id"), col("para"))
        .agg(count(lit(1)).as("n"), length(col("para")).as("chars"))
      pc.groupBy(col("doc_id"))
        .agg(sum(col("n")).as("n_paras"),
          count(lit(1)).as("n_distinct"),
          round(lit(1.0) - count(lit(1)) * lit(1.0) / sum(col("n")), 9)
            .as("dup_para_frac"),
          round(sum(when(col("n") > 1, col("n") * col("chars")).otherwise(0L))
            * lit(1.0) / sum(col("n") * col("chars")), 9)
            .as("dup_char_frac"))
        .orderBy(col("doc_id"))
    })
  )

  def oracle: Map[String, String] = Map(

    "ml_temperature_sample" -> """
      WITH stats AS (SELECT lang, count(*) AS nd FROM documents GROUP BY lang),
      tot AS (SELECT sum(sqrt(nd)) AS z, sum(nd) AS n FROM stats),
      rates AS (SELECT lang, least(1.0, sqrt(nd) / z * 0.6 * n / nd) AS rate
                FROM stats, tot)
      SELECT d.lang, count(*) AS n_kept, CAST(sum(d.doc_id) AS BIGINT) AS chk
      FROM documents d JOIN rates r ON d.lang = r.lang
      WHERE (d.doc_id * 2654435761) % 1000003 <
            CAST(round(r.rate * 1000003) AS BIGINT)
      GROUP BY d.lang ORDER BY d.lang""",

    "mm_gif_decode" -> """
      WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 40),
      px AS (SELECT doc_id, i,
                    (doc_id * 7 + 3 * (i % 31) + 5 * (i // 31)) % 256 AS v
             FROM ids, (SELECT unnest(range(0, 527)) AS i) g)
      SELECT doc_id, 31 AS w, 17 AS h, count(*) AS n_px,
             CAST(sum(v) AS BIGINT) AS sum_v,
             CAST(min(v) AS BIGINT) AS mn_v, CAST(max(v) AS BIGINT) AS mx_v,
             CAST(sum((i + 1) * v) AS BIGINT) AS chk
      FROM px GROUP BY doc_id ORDER BY doc_id""",

    "mm_jpeg_decode" -> """
      WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 40),
      px AS (SELECT doc_id, i,
                    (doc_id * 7 + 3 * ((i % 64) // 8) + 5 * ((i // 64) // 8)) % 256 AS v
             FROM ids, (SELECT unnest(range(0, 2048)) AS i) g)
      SELECT doc_id, 64 AS w, 32 AS h, count(*) AS n_px,
             CAST(sum(v) AS BIGINT) AS sum_v,
             CAST(min(v) AS BIGINT) AS mn_v, CAST(max(v) AS BIGINT) AS mx_v,
             CAST(sum((i + 1) * v) AS BIGINT) AS chk
      FROM px GROUP BY doc_id ORDER BY doc_id""",

    "mm_audio_features" -> """
      WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 40),
      s AS (SELECT doc_id, t,
                   ((doc_id * 13 + 7 * t) % 256) - 128 AS c
            FROM ids, (SELECT unnest(range(0, 1024)) AS t) g),
      f AS (SELECT doc_id, t // 256 AS win_idx, c,
                   CASE WHEN t % 256 > 0
                          AND (lag(c) OVER w < 0) <> (c < 0)
                        THEN 1 ELSE 0 END AS crossed
            FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY t))
      SELECT doc_id, win_idx, count(*) AS n,
             round(sqrt(sum(c * c) * 1.0 / count(*)), 6) AS rms,
             CAST(sum(crossed) AS BIGINT) AS zcr,
             CAST(max(abs(c)) AS BIGINT) AS peak
      FROM f GROUP BY doc_id, win_idx ORDER BY doc_id, win_idx""",

    "mm_dft_power" -> """
      WITH ids AS (SELECT doc_id FROM documents WHERE doc_id < 30),
      s AS (SELECT doc_id, t,
                   CAST(((doc_id * 13 + 7 * t) % 256) - 128 AS DOUBLE) AS c
            FROM ids, (SELECT unnest(range(0, 1024)) AS t) g),
      b AS (SELECT unnest([1, 5, 17]) AS bin)
      SELECT doc_id, bin,
             round(sqrt(pow(sum(c * cos(2 * pi() * bin * t / 1024)), 2)
                      + pow(sum(c * sin(2 * pi() * bin * t / 1024)), 2)), 4) AS mag
      FROM s, b GROUP BY doc_id, bin ORDER BY doc_id, bin""",

    "opt_sum_literal" -> """
      SELECT l_returnflag,
             CAST(sum(CAST(l_quantity AS BIGINT) + 5) AS BIGINT) AS s5,
             CAST(sum(CAST(l_quantity AS BIGINT) + 10) AS BIGINT) AS s10,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "ml_dup_paragraph" -> """
      WITH paras AS (
        SELECT doc_id, unnest(list_transform(
          range(0, CAST(ceil(len(string_split(text, ' ')) / 12.0) AS INT)),
          i -> array_to_string(list_slice(string_split(text, ' '),
                 i * 12 + 1, i * 12 + 12), ' '))) AS para
        FROM documents),
      pc AS (
        SELECT doc_id, para, count(*) AS n, length(para) AS chars
        FROM paras GROUP BY doc_id, para)
      SELECT doc_id,
             CAST(sum(n) AS BIGINT) AS n_paras,
             count(*) AS n_distinct,
             round(1.0 - count(*) * 1.0 / sum(n), 9) AS dup_para_frac,
             round(sum(CASE WHEN n > 1 THEN n * chars ELSE 0 END) * 1.0
                   / sum(n * chars), 9) AS dup_char_frac
      FROM pc GROUP BY doc_id ORDER BY doc_id"""
  )
}
