package graft.functions

/** ai_* scalar family (reference: be/src/exec/expr/../function/ai/ —
  * ai_sentiment, ai_classify, ai_summarize, ai_translate, ai_extract,
  * ai_mask, ai_similarity, embed; FE regs
  * BuiltinScalarFunctions.java:604-612).
  *
  * ===== STUB BACKEND =====
  * The reference calls a configured model endpoint. This container has
  * no model runtime, so the default backend is a DETERMINISTIC stub:
  * every function is a pure expression over the input text (md5-hash
  * routing, prefix truncation, token arithmetic) — stable across runs
  * and engines, so the plumbing (types, nullability, distribution) is
  * fully testable. A production deployment swaps the stub bodies for
  * endpoint calls behind identical signatures.
  */
object AiFunctions {

  def sqlDefs: Seq[String] = Seq(
    // hash-routed 3-class sentiment
    """ai_sentiment(s STRING) RETURNS STRING RETURN
       element_at(array('positive', 'negative', 'neutral'),
         CAST(conv(substring(md5(s), 1, 4), 16, 10) AS INT) % 3 + 1)""",
    // first-k-words extractive "summary"
    """ai_summarize(s STRING, k INT) RETURNS STRING RETURN
       array_join(slice(split(s, ' '), 1, k), ' ')""",
    // hash-routed classifier over caller-provided labels
    """ai_classify(s STRING, labels ARRAY<STRING>) RETURNS STRING RETURN
       element_at(labels,
         CAST(CAST(conv(substring(md5(s), 1, 4), 16, 10) AS INT) % size(labels) + 1 AS INT))""",
    // identity "translation" tagged with the target language
    """ai_translate(s STRING, lang STRING) RETURNS STRING RETURN concat('[', lang, '] ', s)""",
    // digit/email masking (the reference's ai_mask redacts PII spans)
    """ai_mask(s STRING) RETURNS STRING RETURN
       regexp_replace(regexp_replace(s, '[0-9]', '#'),
                      '[a-zA-Z0-9.#_%+-]+@[a-zA-Z0-9.#-]+', '<email>')""",
    // token-jaccard "semantic" similarity
    """ai_similarity(a STRING, b STRING) RETURNS DOUBLE RETURN
       CAST(size(array_intersect(array_distinct(split(lower(a), ' ')),
                                 array_distinct(split(lower(b), ' ')))) AS DOUBLE)
       / size(array_union(array_distinct(split(lower(a), ' ')),
                          array_distinct(split(lower(b), ' '))))""",
    // 8-dim deterministic embedding from md5 bytes, L2-normalized
    """embed(s STRING) RETURNS ARRAY<DOUBLE> RETURN
       transform(sequence(0, 7), i ->
         (CAST(conv(substring(md5(s), i * 4 + 1, 4), 16, 10) AS DOUBLE) - 32767.5) / 32767.5)""",
    // pattern-guided extraction: words containing the target substring
    """ai_extract(s STRING, what STRING) RETURNS STRING RETURN
       array_join(filter(split(s, ' '), w -> contains(lower(w), lower(what))), ' ')""",
    // hash-routed boolean quality filter
    """ai_filter(s STRING) RETURNS BOOLEAN RETURN
       CAST(conv(substring(md5(s), 1, 4), 16, 10) AS INT) % 2 = 0""",
    // whitespace-normalizing "grammar fix" (idempotent, deterministic)
    """ai_fixgrammar(s STRING) RETURNS STRING RETURN regexp_replace(trim(s), ' +', ' ')""",
    // prompt-echo generation stub
    """ai_generate(s STRING) RETURNS STRING RETURN concat(s, ' [generated]')"""
  )
}
