package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.connectedComponents` runs at most `maxIter` rounds, the
  * seeded first round included. */
class DedupComponentsSpec extends AnyFunSuite {
  import TestSpark._

  test("maxIter counts the seeded round: path 1-2-3-4-5 at maxIter = 2") {
    val s2 = spark
    import s2.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    def labels(maxIter: Int): Map[Long, Long] =
      graft.ops.Dedup.connectedComponents(edges, "a", "b", maxIter)
        .as[(Long, Long)].collect().toMap
    // round 1 (seeded) gives node 5 the label 4, round 2 the label 3
    assert(labels(2)(5L) == 3L)
    assert(labels(50) == (1L to 5L).map(_ -> 1L).toMap)
  }
}
