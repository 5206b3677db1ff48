package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SearchDsl
import graft.ops.SearchDsl._

/** Parser-level assertions for the search() DSL (grammar parity with
  * the reference's SearchParser.g4: precedence NOT > AND/adjacency >
  * OR, adjacency = default operator OR, field grouping, every leaf
  * clause type). */
class SearchDslSpec extends AnyFunSuite {

  test("leaf clause types") {
    assert(parse("title:rock") == Term("title", "rock"))
    assert(parse("title:\"rock music\"") == Phrase("title", "rock music"))
    assert(parse("title:roc*") == Prefix("title", "roc"))
    assert(parse("title:*oc?") == Wildcard("title", "*oc?"))
    assert(parse("title:/r[oa]ck/") == Regexp("title", "r[oa]ck"))
    assert(parse("price:[10 TO 20]") ==
      Range("price", Some("10"), Some("20"), loInc = true, hiInc = true))
    assert(parse("price:{10 TO *}") ==
      Range("price", Some("10"), None, loInc = false, hiInc = false))
    assert(parse("tags:IN(rock jazz)") == ListIn("tags", Seq("rock", "jazz")))
    assert(parse("t:ANY(a b)") == AnyOf("t", Seq("a", "b")))
    assert(parse("t:ALL(a b)") == AllOf("t", Seq("a", "b")))
    assert(parse("t:EXACT(Rock Music)") == Exact("t", "Rock Music"))
  }

  test("precedence: OR < AND/adjacency < NOT; grouping") {
    assert(parse("a:x OR b:y AND c:z") ==
      Or(Term("a", "x"), And(Term("b", "y"), Term("c", "z"))))
    // adjacency binds at the AND level but joins with default op OR
    assert(parse("a:x b:y AND c:z") ==
      And(Or(Term("a", "x"), Term("b", "y")), Term("c", "z")))
    assert(parse("NOT a:x AND b:y") ==
      And(Not(Term("a", "x")), Term("b", "y")))
    assert(parse("(a:x OR b:y) AND c:z") ==
      And(Or(Term("a", "x"), Term("b", "y")), Term("c", "z")))
    // field grouping distributes the field over bare terms
    assert(parse("title:(rock OR jazz)") ==
      Or(Term("title", "rock"), Term("title", "jazz")))
    // inner explicit field wins over the group field
    assert(parse("title:(content:foo OR bar)") ==
      Or(Term("content", "foo"), Term("title", "bar")))
  }

  test("keyword names only bind uppercase; IN/ANY need the paren") {
    // lowercase 'and' is a term, not an operator -> bare term error
    assertThrows[IllegalArgumentException](parse("a:x and"))
    // IN without '(' is a plain term value
    assert(parse("t:IN") == Term("t", "IN"))
    assertThrows[IllegalArgumentException](parse("bareterm"))
    assertThrows[IllegalArgumentException](parse("t:\"unterminated"))
  }

  test("compiled SQL references the primitives and is null-safe") {
    val sql = SearchDsl.toSql(parse("text:slow AND lang:EXACT(en)"))
    assert(sql.contains("array_contains(tokenize(`text`), 'slow')"))
    assert(sql.contains("`lang` = 'en'"))
    assert(sql.contains("coalesce("))
    val phrase = SearchDsl.toSql(parse("text:\"a b\""))
    assert(phrase.contains("match_phrase(`text`, 'a b')"))
    val any = SearchDsl.toSql(parse("text:ANY(a b)"))
    assert(any.contains("match_any(`text`, 'a b')"))
    // quotes in values are escaped
    val esc = SearchDsl.toSql(Term("t", "o'brien"))
    assert(esc.contains("'o\\'brien'"))
  }

  test("numeric RANGE bounds are re-formatted and quoted, never raw-spliced") {
    val n = SearchDsl.toSql(parse("n_chars:[10 TO 20}"))
    assert(n.contains("CAST('10.0' AS DOUBLE)") && n.contains("CAST('20.0' AS DOUBLE)"))
    assert(n.contains(">=") && n.contains("<"))
    // java toDouble accepts 'Infinity' — it must come out quoted, not
    // as a bare token Spark would resolve as a column reference
    val inf = SearchDsl.toSql(parse("n_chars:[Infinity TO *]"))
    assert(inf.contains("CAST('Infinity' AS DOUBLE)"))
    assert(!inf.matches(".*[^']Infinity.*"))
    // non-numeric ranges stay lexicographic string comparisons
    val s = SearchDsl.toSql(parse("name:[alpha TO beta]"))
    assert(s.contains("`name` >= 'alpha'") && s.contains("`name` <= 'beta'"))
  }

  test("score() SQL name: BM25 under the search predicate; helpful error without one") {
    import TestSpark._
    graft.Tables.registerAll(spark, sf)
    val top = spark.sql("""
      SELECT doc_id, round(score(), 6) AS relevance
      FROM documents
      WHERE search('text:slow text:merge')
      ORDER BY relevance DESC, doc_id LIMIT 5""").collect()
    assert(top.nonEmpty)
    assert(top.forall(_.getDouble(1) > 0.0))
    // descending by relevance
    assert(top.map(_.getDouble(1)).sliding(2).forall(p => p.head >= p.last))
    // no ScoreCall/SearchTag survives to the executed plan
    val plan = spark.sql("""
      SELECT score() AS s FROM documents
      WHERE search('text:slow')""").queryExecution.executedPlan
    assert(!plan.toString.contains("score()"))
    // score() without a search() predicate errors helpfully
    val e = intercept[Exception] {
      spark.sql("SELECT score() FROM documents").collect()
    }
    assert(e.getMessage.contains("search"))
  }

  test("search() column filters like the hand-built predicate") {
    import TestSpark._
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val viaDsl = docs.where(SearchDsl.search("text:slow AND NOT lang:EXACT(zh)")).count()
    val byHand = docs.where(
      array_contains(split(lower(col("text")), "[^a-z0-9]+"), "slow") &&
        !(col("lang") === "zh")).count()
    assert(viaDsl == byHand && viaDsl > 0)
  }
}
