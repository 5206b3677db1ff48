package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Map-valued + remaining aggregate surface (reference FE:
  * fe/fe-core/.../nereids/trees/expressions/functions/agg/
  * {SumMap,MinMap,MaxMap,AvgMap,CountMap}.java — key-wise folds over a
  * MAP argument; GroupArrayIntersect/GroupArrayUnion.java;
  * BitmapUnionInt / GroupBitmapXor (BuiltinAggregateFunctions.java);
  * PercentileApproxWeighted.java; MultiDistinctGroupConcat.java).
  *
  * Every state is a plain mergeable value, so these shard exactly like
  * any hash aggregate — partial maps per partition, key-wise merge at
  * final; no driver-side state, no ordering dependence.
  */
object MapAggs {

  private def fold(a: Map[String, Double], b: Map[String, Double],
                   op: (Double, Double) => Double): Map[String, Double] =
    b.foldLeft(a) { case (m, (k, v)) =>
      m.updated(k, m.get(k).map(op(_, v)).getOrElse(v))
    }

  /** sum_map/min_map/max_map(map): key-wise numeric fold. */
  class MapFoldAgg(op: (Double, Double) => Double)
      extends Aggregator[Map[String, Double], Map[String, Double], Map[String, Double]] {
    def zero: Map[String, Double] = Map.empty
    def reduce(b: Map[String, Double], v: Map[String, Double]): Map[String, Double] =
      if (v == null) b else fold(b, v, op)
    def merge(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
      fold(a, b, op)
    def finish(b: Map[String, Double]): Map[String, Double] = b
    def bufferEncoder: Encoder[Map[String, Double]] = ExpressionEncoder()
    def outputEncoder: Encoder[Map[String, Double]] = ExpressionEncoder()
  }

  case class SumCnt(s: Double, c: Long)

  /** avg_map(map): key-wise mean (sum+count state per key). */
  class AvgMapAgg
      extends Aggregator[Map[String, Double], Map[String, SumCnt], Map[String, Double]] {
    def zero: Map[String, SumCnt] = Map.empty
    private def acc(m: Map[String, SumCnt], k: String, v: SumCnt): Map[String, SumCnt] = {
      val p = m.getOrElse(k, SumCnt(0d, 0L))
      m.updated(k, SumCnt(p.s + v.s, p.c + v.c))
    }
    def reduce(b: Map[String, SumCnt], v: Map[String, Double]): Map[String, SumCnt] =
      if (v == null) b
      else v.foldLeft(b) { case (m, (k, x)) => acc(m, k, SumCnt(x, 1L)) }
    def merge(a: Map[String, SumCnt], b: Map[String, SumCnt]): Map[String, SumCnt] =
      b.foldLeft(a) { case (m, (k, v)) => acc(m, k, v) }
    def finish(b: Map[String, SumCnt]): Map[String, Double] =
      b.map { case (k, SumCnt(s, c)) => k -> s / c }
    def bufferEncoder: Encoder[Map[String, SumCnt]] = ExpressionEncoder()
    def outputEncoder: Encoder[Map[String, Double]] = ExpressionEncoder()
  }

  /** count_map(map): key-wise occurrence count. */
  class CountMapAgg
      extends Aggregator[Map[String, Double], Map[String, Long], Map[String, Long]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], v: Map[String, Double]): Map[String, Long] =
      if (v == null) b
      else v.keys.foldLeft(b)((m, k) => m.updated(k, m.getOrElse(k, 0L) + 1))
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.foldLeft(a) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }
    def finish(b: Map[String, Long]): Map[String, Long] = b
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
  }

  /** group_array_intersect(array): elements present in EVERY input
    * array (reference GroupArrayIntersect.java). Sorted output for
    * determinism. None = "no input yet" (identity for intersection). */
  class GroupArrayIntersectAgg
      extends Aggregator[Seq[Long], Option[Seq[Long]], Seq[Long]] {
    def zero: Option[Seq[Long]] = None
    def reduce(b: Option[Seq[Long]], v: Seq[Long]): Option[Seq[Long]] =
      if (v == null) b
      else b match {
        case None    => Some(v.distinct)
        case Some(x) => val s = v.toSet; Some(x.filter(s.contains))
      }
    def merge(a: Option[Seq[Long]], b: Option[Seq[Long]]): Option[Seq[Long]] =
      (a, b) match {
        case (None, x) => x
        case (x, None) => x
        case (Some(x), Some(y)) => val s = y.toSet; Some(x.filter(s.contains))
      }
    def finish(b: Option[Seq[Long]]): Seq[Long] = b.getOrElse(Nil).sorted
    def bufferEncoder: Encoder[Option[Seq[Long]]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** group_array_union(array): distinct union of all input arrays. */
  class GroupArrayUnionAgg extends Aggregator[Seq[Long], Seq[Long], Seq[Long]] {
    def zero: Seq[Long] = Nil
    def reduce(b: Seq[Long], v: Seq[Long]): Seq[Long] =
      if (v == null) b else (b ++ v).distinct
    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] = (a ++ b).distinct
    def finish(b: Seq[Long]): Seq[Long] = b.sorted
    def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }

  /** bitmap_union_int(int-col): distinct count of ints via roaring
    * (Doris's bitmap_union_int returns BIGINT cardinality). */
  class BitmapUnionIntAgg extends Aggregator[Long, Roaring64NavigableMap, Long] {
    def zero: Roaring64NavigableMap = new Roaring64NavigableMap()
    def reduce(b: Roaring64NavigableMap, v: Long): Roaring64NavigableMap = { b.addLong(v); b }
    def merge(a: Roaring64NavigableMap, b: Roaring64NavigableMap): Roaring64NavigableMap = { a.or(b); a }
    def finish(b: Roaring64NavigableMap): Long = b.getLongCardinality
    def bufferEncoder: Encoder[Roaring64NavigableMap] =
      Encoders.javaSerialization[Roaring64NavigableMap]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** group_bitmap_xor(bitmap): symmetric difference of bitmap partials
    * (elements appearing in an odd number of inputs). */
  class GroupBitmapXorAgg extends Aggregator[Array[Byte], Roaring64NavigableMap, Array[Byte]] {
    def zero: Roaring64NavigableMap = new Roaring64NavigableMap()
    def reduce(b: Roaring64NavigableMap, v: Array[Byte]): Roaring64NavigableMap = { b.xor(Bitmaps.deser(v)); b }
    def merge(a: Roaring64NavigableMap, b: Roaring64NavigableMap): Roaring64NavigableMap = { a.xor(b); a }
    def finish(b: Roaring64NavigableMap): Array[Byte] = Bitmaps.ser(b)
    def bufferEncoder: Encoder[Roaring64NavigableMap] =
      Encoders.javaSerialization[Roaring64NavigableMap]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** bool_xor / boolxor_agg: parity of TRUE inputs (odd => true). */
  class BoolXorAgg extends Aggregator[Boolean, Long, Boolean] {
    def zero: Long = 0L
    def reduce(b: Long, v: Boolean): Long = if (v) b ^ 1L else b
    def merge(a: Long, b: Long): Long = a ^ b
    def finish(b: Long): Boolean = b == 1L
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Boolean] = Encoders.scalaBoolean
  }

  case class WVal(v: Double, w: Long)

  /** percentile_approx_weighted(v, w, p) — exact percentile over the
    * weight-expanded multiset (index p*(W-1), linear interpolation —
    * identical to exact percentile over w copies of each v, computed
    * from cumulative weights without materializing the expansion, so a
    * 1e9 total weight costs only the distinct-value state). */
  class PercentileWeightedAgg(p: Double)
      extends Aggregator[WVal, Seq[WVal], Option[Double]] {
    def zero: Seq[WVal] = Nil
    def reduce(b: Seq[WVal], v: WVal): Seq[WVal] = if (v.w <= 0) b else v +: b
    def merge(a: Seq[WVal], b: Seq[WVal]): Seq[WVal] = a ++ b
    def finish(b: Seq[WVal]): Option[Double] = {
      if (b.isEmpty) return None
      val sorted = b.sortBy(_.v)
      val total = sorted.map(_.w).sum
      val idx = p * (total - 1)          // 0-based rank in the expanded multiset
      val lo = math.floor(idx).toLong
      val hi = math.ceil(idx).toLong
      def at(rank: Long): Double = {
        var cum = 0L
        for (e <- sorted) { cum += e.w; if (cum > rank) return e.v }
        sorted.last.v
      }
      val vlo = at(lo); val vhi = at(hi)
      Some(vlo + (idx - lo) * (vhi - vlo))
    }
    def bufferEncoder: Encoder[Seq[WVal]] = ExpressionEncoder()
    def outputEncoder: Encoder[Option[Double]] = ExpressionEncoder()
  }

  case class WVal3(v: Double, w: Long, p: Double)

  /** percentile_approx_weighted(v, w, p) under the reference's exact
    * call shape (p is a constant expression per Doris's signature —
    * any row's p is THE p). Delegates to the same cumulative-weight
    * walk as [[PercentileWeightedAgg]]. */
  class PercentileWeightedPAgg extends Aggregator[WVal3, Seq[WVal3], Option[Double]] {
    def zero: Seq[WVal3] = Nil
    def reduce(b: Seq[WVal3], v: WVal3): Seq[WVal3] = if (v.w <= 0) b else v +: b
    def merge(a: Seq[WVal3], b: Seq[WVal3]): Seq[WVal3] = a ++ b
    def finish(b: Seq[WVal3]): Option[Double] =
      if (b.isEmpty) None
      else new PercentileWeightedAgg(b.head.p)
        .finish(b.map(e => WVal(e.v, e.w)))
    def bufferEncoder: Encoder[Seq[WVal3]] = ExpressionEncoder()
    def outputEncoder: Encoder[Option[Double]] = ExpressionEncoder()
  }

  /** multi_distinct_group_concat: distinct values joined with a
    * separator; sorted for cross-engine determinism (the reference
    * leaves order undefined — documented canonicalization). */
  class DistinctConcatAgg(sep: String) extends Aggregator[String, Seq[String], String] {
    def zero: Seq[String] = Nil
    def reduce(b: Seq[String], v: String): Seq[String] =
      if (v == null || b.contains(v)) b else v +: b
    def merge(a: Seq[String], b: Seq[String]): Seq[String] = (a ++ b).distinct
    def finish(b: Seq[String]): String = b.sorted.mkString(sep)
    def bufferEncoder: Encoder[Seq[String]] = ExpressionEncoder()
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  def udfs: Seq[(String, UserDefinedFunction)] = {
    implicit val mapD: Encoder[Map[String, Double]] = ExpressionEncoder()
    implicit val seqL: Encoder[Seq[Long]] = ExpressionEncoder()
    implicit val wv: Encoder[WVal] = ExpressionEncoder()
    Seq(
      "sum_map" -> udaf(new MapFoldAgg(_ + _)),
      "min_map" -> udaf(new MapFoldAgg(math.min)),
      "max_map" -> udaf(new MapFoldAgg(math.max)),
      "avg_map" -> udaf(new AvgMapAgg),
      "count_map" -> udaf(new CountMapAgg),
      "group_array_intersect" -> udaf(new GroupArrayIntersectAgg),
      "group_array_union" -> udaf(new GroupArrayUnionAgg),
      "bitmap_union_int" -> udaf(new BitmapUnionIntAgg, Encoders.scalaLong),
      "group_bitmap_xor" -> udaf(new GroupBitmapXorAgg, Encoders.BINARY),
      "bool_xor" -> udaf(new BoolXorAgg, Encoders.scalaBoolean),
      "boolxor_agg" -> udaf(new BoolXorAgg, Encoders.scalaBoolean),
      "percentile_weighted_p50" -> udaf(new PercentileWeightedAgg(0.5)),
      "percentile_weighted_p90" -> udaf(new PercentileWeightedAgg(0.9)),
      "percentile_approx_weighted" -> udaf(new PercentileWeightedPAgg),
      "multi_distinct_group_concat" -> udaf(new DistinctConcatAgg(",")))
  }
}
