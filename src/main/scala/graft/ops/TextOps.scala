package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting. All are
  * deterministic expression pipelines (codegen-friendly, no UDFs) with
  * formula-identical SQL oracles.
  */
object TextOps {

  val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  val stopDe = Seq("der", "die", "das", "und", "ist", "ein")
  val stopFr = Seq("le", "la", "les", "et", "est", "un")
  val stopEs = Seq("el", "los", "las", "y", "es", "una")

  private def stopScore(ws: Column, stops: Seq[String]): Column =
    size(filter(ws, w => array_contains(array(stops.map(lit): _*), w)))

  /** n-gram/stopword-heuristic language ID: CJK script check first,
    * then argmax of per-language stopword hits (tie order en>de>fr>es),
    * 'und' when no evidence. */
  def langId(text: Column): Column = {
    val ws = split(lower(text), " ")
    val (en, de, fr, es) =
      (stopScore(ws, stopEn), stopScore(ws, stopDe), stopScore(ws, stopFr), stopScore(ws, stopEs))
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(en >= de && en >= fr && en >= es && en > 0, "en")
      .when(de >= fr && de >= es && de > 0, "de")
      .when(fr >= es && fr > 0, "fr")
      .when(es > 0, "es")
      .otherwise("und")
  }

  /** quality score in [0,1]: token volume, lexical diversity, mean
    * token length (the shape of Doris-era heuristic quality filters).
    * Rounded as a DECIMAL: `round(double, 6)` breaks a tie one way in
    * Spark (HALF_UP on the double's shortest decimal form) and the
    * other in DuckDB (scales by 10^6 first), so the oracle casts the
    * same way. */
  def qualityScore(text: Column): Column = {
    val ws = split(text, " ")
    val n = size(ws).cast("double")
    val diversity = size(array_distinct(ws)).cast("double") / n
    val avgLen = aggregate(ws, lit(0L), (acc, w) => acc + length(w)).cast("double") / n
    val q = least(lit(1.0), n / 50.0) * 0.4 + diversity * 0.3 +
      least(lit(1.0), avgLen / 8.0) * 0.3
    round(q.cast("decimal(18,10)"), 6).cast("double")
  }

  /** whitespace token count + BPE-ish subword count (alpha runs,
    * digit runs, single punctuation — a cheap tokenizer-cost proxy). */
  def wsTokenCount(text: Column): Column = size(split(text, " "))
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))

  /** word-level polynomial rolling-hash fingerprint; per-word hash is
    * the first 8 md5 hex digits so the oracle can reproduce it. */
  def fingerprint(text: Column): Column = {
    val ws = split(text, " ")
    val hashed = transform(ws, w => conv(substring(md5(w), 1, 8), 16, 10).cast("long"))
    aggregate(hashed, lit(0L),
      (acc, h) => (acc * 1000003L + h) % 1000000000000L)
  }
}
