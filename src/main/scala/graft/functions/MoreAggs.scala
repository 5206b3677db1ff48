package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{udaf, udf}

/** Histogram / EMA / count_by_enum aggregates + HLL aliases
  * (reference: be/src/exprs/aggregate/aggregate_function_
  * {linear_histogram,ema,count_by_enum}.*, hll_union_agg.*).
  */
object MoreAggs {

  case class HistBucket(lower: Double, upper: Double, cnt: Long)
  case class TsVal(ts: Long, v: Double)

  /** linear_histogram(value, width): equal-width buckets
    * [k*width, (k+1)*width); mergeable map state. */
  class LinearHistogramAgg(width: Double)
      extends Aggregator[Double, Map[Long, Long], Seq[HistBucket]] {
    def zero: Map[Long, Long] = Map.empty
    def reduce(b: Map[Long, Long], v: Double): Map[Long, Long] = {
      val k = math.floor(v / width).toLong
      b.updated(k, b.getOrElse(k, 0L) + 1)
    }
    def merge(a: Map[Long, Long], b: Map[Long, Long]): Map[Long, Long] =
      b.foldLeft(a) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }
    def finish(b: Map[Long, Long]): Seq[HistBucket] =
      b.toSeq.sortBy(_._1).map { case (k, c) => HistBucket(k * width, (k + 1) * width, c) }
    def bufferEncoder: Encoder[Map[Long, Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[HistBucket]] = ExpressionEncoder()
  }

  /** ema(ts, value) with fixed smoothing alpha: time-ordered fold
    * v_i = alpha*x_i + (1-alpha)*v_{i-1}, seeded with the first value
    * (the reference's ema over an ordered window). */
  class EmaAgg(alpha: Double) extends Aggregator[TsVal, Seq[TsVal], Double] {
    def zero: Seq[TsVal] = Nil
    def reduce(b: Seq[TsVal], v: TsVal): Seq[TsVal] = v +: b
    def merge(a: Seq[TsVal], b: Seq[TsVal]): Seq[TsVal] = a ++ b
    def finish(b: Seq[TsVal]): Double = {
      val sorted = b.sortBy(_.ts).map(_.v)
      if (sorted.isEmpty) Double.NaN
      else sorted.tail.foldLeft(sorted.head)((acc, x) => alpha * x + (1 - alpha) * acc)
    }
    def bufferEncoder: Encoder[Seq[TsVal]] = ExpressionEncoder()
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** count_by_enum: per-group value histogram, key-sorted. */
  class CountByEnumAgg extends Aggregator[String, Map[String, Long], Seq[BehaviorAggs.ItemCnt]] {
    def zero: Map[String, Long] = Map.empty
    def reduce(b: Map[String, Long], v: String): Map[String, Long] = {
      val k = if (v == null) "__null__" else v
      b.updated(k, b.getOrElse(k, 0L) + 1)
    }
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      b.foldLeft(a) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) }
    def finish(b: Map[String, Long]): Seq[BehaviorAggs.ItemCnt] =
      b.toSeq.sortBy(_._1).map { case (k, c) => BehaviorAggs.ItemCnt(k, c) }
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[BehaviorAggs.ItemCnt]] = ExpressionEncoder()
  }

  case class KeyedStr(s: String, sortKey: Long)

  /** group_concat(x ORDER BY k SEPARATOR sep[, DISTINCT]) as a true
    * mergeable UDAF (reference: aggregate_function_group_concat.* with
    * the sort combinator). */
  class GroupConcatOrdAgg(sep: String, distinct: Boolean)
      extends Aggregator[KeyedStr, Seq[KeyedStr], String] {
    def zero: Seq[KeyedStr] = Nil
    def reduce(b: Seq[KeyedStr], v: KeyedStr): Seq[KeyedStr] =
      if (v.s == null) b else v +: b
    def merge(a: Seq[KeyedStr], b: Seq[KeyedStr]): Seq[KeyedStr] = a ++ b
    def finish(b: Seq[KeyedStr]): String = {
      val sorted = b.sortBy(e => (e.sortKey, e.s))
      val vals = sorted.map(_.s)
      (if (distinct) vals.distinct else vals).mkString(sep)
    }
    def bufferEncoder: Encoder[Seq[KeyedStr]] = ExpressionEncoder()
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** to_quantile_state (reference: quantile_state column type +
    * aggregate_function_quantile_state) — the mergeable exact state is
    * the sorted value multiset serialized as big-endian doubles; the
    * reference's QUANTILE_UNION + QUANTILE_PERCENT read the same way.
    * Exact (the reference's TDigest is approximate — we keep exactness
    * and document the stronger guarantee); state size is bounded by the
    * per-group value count, sharded like any agg state. */
  class QuantileStateAgg extends Aggregator[Double, Seq[Double], Array[Byte]] {
    def zero: Seq[Double] = Nil
    def reduce(b: Seq[Double], v: Double): Seq[Double] = v +: b
    def merge(a: Seq[Double], b: Seq[Double]): Seq[Double] = a ++ b
    def finish(b: Seq[Double]): Array[Byte] = {
      val sorted = b.sorted.toArray
      val bb = java.nio.ByteBuffer.allocate(sorted.length * 8)
      sorted.foreach(bb.putDouble)
      bb.array()
    }
    def bufferEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** QUANTILE_UNION over serialized states (merge = sorted merge). */
  class QuantileUnionAgg extends Aggregator[Array[Byte], Seq[Double], Array[Byte]] {
    private def decode(b: Array[Byte]): Seq[Double] = {
      if (b == null) Nil
      else {
        val bb = java.nio.ByteBuffer.wrap(b)
        Seq.fill(b.length / 8)(bb.getDouble)
      }
    }
    def zero: Seq[Double] = Nil
    def reduce(b: Seq[Double], v: Array[Byte]): Seq[Double] = b ++ decode(v)
    def merge(a: Seq[Double], b: Seq[Double]): Seq[Double] = a ++ b
    def finish(b: Seq[Double]): Array[Byte] = {
      val sorted = b.sorted.toArray
      val bb = java.nio.ByteBuffer.allocate(sorted.length * 8)
      sorted.foreach(bb.putDouble)
      bb.array()
    }
    def bufferEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def udfs: Seq[(String, UserDefinedFunction)] = Seq(
    "group_concat_ord" ->
      udaf(new GroupConcatOrdAgg(",", distinct = false), ExpressionEncoder[KeyedStr]()),
    "group_concat_distinct_ord" ->
      udaf(new GroupConcatOrdAgg(",", distinct = true), ExpressionEncoder[KeyedStr]()),
    "linear_histogram_100" -> udaf(new LinearHistogramAgg(100.0), Encoders.scalaDouble),
    "ema3" -> udaf(new EmaAgg(0.3), ExpressionEncoder[TsVal]()),
    "count_by_enum" -> udaf(new CountByEnumAgg, Encoders.STRING),
    "to_quantile_state" -> udaf(new QuantileStateAgg, Encoders.scalaDouble),
    "quantile_union" -> udaf(new QuantileUnionAgg, Encoders.BINARY),
    // quantile_percent(state, p): exact linear-interpolated percentile
    // from a serialized state (scalar, like the reference's)
    "quantile_percent" -> udf((b: Array[Byte], p: Double) => {
      if (b == null || b.length < 8) null
      else {
        val bb = java.nio.ByteBuffer.wrap(b)
        val vs = Array.fill(b.length / 8)(bb.getDouble)
        val rank = p * (vs.length - 1)
        val lo = rank.toInt
        val hi = math.min(lo + 1, vs.length - 1)
        java.lang.Double.valueOf(vs(lo) + (rank - lo) * (vs(hi) - vs(lo)))
      }
    }))

  /** Doris-named HLL surface over Spark's datasketches built-ins. */
  def sqlDefs: Seq[String] = Seq(
    "hll_cardinality(s BINARY) RETURNS BIGINT RETURN hll_sketch_estimate(s)")
}
