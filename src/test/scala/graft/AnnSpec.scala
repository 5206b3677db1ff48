package graft

import org.scalatest.funsuite.AnyFunSuite

/** ANN-LSH quality assertions (the rows-only queries' missing oracle):
  * similarity values must be exact, and bucketed search must retain
  * reasonable recall vs brute force on the fixture. */
class AnnSpec extends AnyFunSuite {
  import TestSpark._

  test("LSH top-k sims are a subset of brute-force sims, per query") {
    val brute = SparkEntry.queries("ml_ann_topk")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = SparkEntry.queries("ml_ann_lsh")(spark, sf).collect()
    assert(lsh.nonEmpty, "LSH returned nothing")
    // every LSH candidate's sim must equal the exact sim (value check
    // via the brute map where present) and never exceed brute top-1
    val bruteTop = brute.groupBy(_._1._1).view.mapValues(_.values.max).toMap
    lsh.foreach { r =>
      val (q, v, sim) = (r.getLong(0), r.getLong(2), r.getDouble(3))
      brute.get((q, v)).foreach(exact => assert(math.abs(exact - sim) < 1e-9,
        s"sim mismatch for ($q,$v): lsh=$sim brute=$exact"))
      assert(sim <= bruteTop(q) + 1e-9)
    }
  }

  test("banded-LSH near-dup pairs == brute force on the planted corpus") {
    import graft.ops.VectorSearch
    import graft.queries.MlQueries
    val corpus = MlQueries.plantedDupCorpus(
      spark.read.parquet(s"$sf/embeddings.parquet"))
    val brute = VectorSearch.nearDupPairsBrute(corpus, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = VectorSearch.nearDupPairsLsh(corpus, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "planted corpus produced no near-dup pairs")
    assert(lsh == brute,
      s"row sets differ: lsh-only=${(lsh -- brute).take(5)} brute-only=${(brute -- lsh).take(5)}")
  }

  test("IVF-cell-bounded near-dup pairs == brute force at the low threshold") {
    import graft.ops.VectorSearch
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val brute = VectorSearch.nearDupPairsBrute(corpus, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ivf = VectorSearch.nearDupPairsIvf(corpus, 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty, "fixture produced no low-threshold pairs")
    assert(ivf == brute,
      s"row sets differ: ivf-only=${(ivf -- brute).take(5)} brute-only=${(brute -- ivf).take(5)}")
  }

  test("brute near-dup path refuses an over-cap corpus loudly") {
    import graft.ops.VectorSearch
    val corpus = spark.read.parquet(s"$sf/embeddings.parquet")
    val e = intercept[IllegalArgumentException] {
      VectorSearch.nearDupPairsBrute(corpus, 0.4, maxRows = 10)
    }
    assert(e.getMessage.contains("O(N^2)"))
    assert(e.getMessage.contains("nearDupPairsIvf"))
  }

  test("cross-set minhash pairs == union pairs restricted to the split") {
    import org.apache.spark.sql.functions._
    import graft.ops.Dedup
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") < 3000)
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val incoming = docs.filter(col("doc_id") % 3 === 0)
    val across = Dedup.minhashPairsAcross(corpus, incoming, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the self-join over the union, restricted to pairs that straddle
    // the split and re-oriented as (corpus id, incoming id)
    val union = Dedup.minhashPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (a % 3 != 0 && b % 3 == 0) Some((a, b, j))
        else if (a % 3 == 0 && b % 3 != 0) Some((b, a, j))
        else None
      }.toSet
    assert(union.nonEmpty, "no cross-split near-dup pairs on the fixture")
    assert(across == union,
      s"across-only=${(across -- union).take(5)} union-only=${(union -- across).take(5)}")
  }

  test("simhash pairs have symmetric-difference consistency") {
    val pairs = SparkEntry.queries("ml_dedup_simhash")(spark, sf).collect()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1), "pair not ordered")
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 16, "hamming out of range")
    }
  }
}
