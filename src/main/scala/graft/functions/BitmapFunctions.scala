package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.{udaf, udf}
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** Doris BITMAP type + function family re-expressed over Spark
  * (reference: be/src/core/data_type/data_type_bitmap.h, scalar fns
  * be/src/exprs/function/function_bitmap.cpp, aggregates
  * be/src/exprs/aggregate/aggregate_function_bitmap*.cpp).
  *
  * Representation: portable Roaring64NavigableMap bytes in a BINARY
  * column. Bitmaps are built distributedly (each partition unions its
  * own ids; merge is bitmap-or), so bitmap_agg over 10^11 ids shards
  * exactly like Doris's BITMAP_UNION agg-table columns.
  */
object Bitmaps {

  def ser(bm: Roaring64NavigableMap): Array[Byte] = {
    bm.runOptimize()
    val bos = new ByteArrayOutputStream()
    bm.serialize(new DataOutputStream(bos))
    bos.toByteArray
  }

  def deser(b: Array[Byte]): Roaring64NavigableMap = {
    val bm = new Roaring64NavigableMap()
    if (b != null && b.nonEmpty)
      bm.deserialize(new DataInputStream(new ByteArrayInputStream(b)))
    bm
  }

  private def binop(a: Array[Byte], b: Array[Byte])(
      f: (Roaring64NavigableMap, Roaring64NavigableMap) => Unit): Array[Byte] = {
    val x = deser(a); f(x, deser(b)); ser(x)
  }

  /** bitmap_agg: longs -> bitmap (Doris BITMAP_UNION over to_bitmap). */
  class BitmapAgg extends Aggregator[Long, Roaring64NavigableMap, Array[Byte]] {
    def zero: Roaring64NavigableMap = new Roaring64NavigableMap()
    def reduce(b: Roaring64NavigableMap, v: Long): Roaring64NavigableMap = { b.addLong(v); b }
    def merge(a: Roaring64NavigableMap, b: Roaring64NavigableMap): Roaring64NavigableMap = { a.or(b); a }
    def finish(b: Roaring64NavigableMap): Array[Byte] = ser(b)
    def bufferEncoder: Encoder[Roaring64NavigableMap] =
      Encoders.javaSerialization[Roaring64NavigableMap]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** bitmap_union: merge pre-built bitmap partials. */
  class BitmapUnionAgg extends Aggregator[Array[Byte], Roaring64NavigableMap, Array[Byte]] {
    def zero: Roaring64NavigableMap = new Roaring64NavigableMap()
    def reduce(b: Roaring64NavigableMap, v: Array[Byte]): Roaring64NavigableMap = { b.or(deser(v)); b }
    def merge(a: Roaring64NavigableMap, b: Roaring64NavigableMap): Roaring64NavigableMap = { a.or(b); a }
    def finish(b: Roaring64NavigableMap): Array[Byte] = ser(b)
    def bufferEncoder: Encoder[Roaring64NavigableMap] =
      Encoders.javaSerialization[Roaring64NavigableMap]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** bitmap_intersect over bitmap partials (Doris BITMAP_INTERSECT). */
  class BitmapIntersectAgg extends Aggregator[Array[Byte], Option[Roaring64NavigableMap], Array[Byte]] {
    def zero: Option[Roaring64NavigableMap] = None
    def reduce(b: Option[Roaring64NavigableMap], v: Array[Byte]): Option[Roaring64NavigableMap] =
      b match { case None => Some(deser(v)); case Some(x) => x.and(deser(v)); Some(x) }
    def merge(a: Option[Roaring64NavigableMap], b: Option[Roaring64NavigableMap]): Option[Roaring64NavigableMap] =
      (a, b) match {
        case (None, x) => x
        case (x, None) => x
        case (Some(x), Some(y)) => x.and(y); Some(x)
      }
    def finish(b: Option[Roaring64NavigableMap]): Array[Byte] =
      ser(b.getOrElse(new Roaring64NavigableMap()))
    def bufferEncoder: Encoder[Option[Roaring64NavigableMap]] =
      Encoders.javaSerialization[Option[Roaring64NavigableMap]]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def udfs: Seq[(String, UserDefinedFunction)] = Seq(
    "bitmap_agg" -> udaf(new BitmapAgg, Encoders.scalaLong),
    "bitmap_union" -> udaf(new BitmapUnionAgg, Encoders.BINARY),
    "bitmap_intersect_agg" -> udaf(new BitmapIntersectAgg, Encoders.BINARY),
    "to_bitmap" -> udf((v: Long) => { val b = new Roaring64NavigableMap(); b.addLong(v); ser(b) }),
    // INTENTIONAL override of Spark 4's builtin bitmap_count (which
    // counts bits of a fixed 4KB bitmap blob): Doris bitmap_count is
    // the cardinality of a roaring bitmap. The graft entry replaces the
    // builtin (reviewed in RegistryShadowSpec).
    "bitmap_count" -> udf((b: Array[Byte]) => deser(b).getLongCardinality),
    "bitmap_contains" -> udf((b: Array[Byte], v: Long) => deser(b).contains(v)),
    // iterator order is already ascending-unsigned (Roaring64NavigableMap
    // iterates unsigned), matching the reference's BITMAP ordering and
    // bitmap_min/bitmap_max; .sorted would impose signed order instead
    "bitmap_to_array" -> udf((b: Array[Byte]) => deser(b).toArray),
    "bitmap_min" -> udf((b: Array[Byte]) => { val x = deser(b); if (x.isEmpty) null else java.lang.Long.valueOf(x.first()) }),
    "bitmap_max" -> udf((b: Array[Byte]) => { val x = deser(b); if (x.isEmpty) null else java.lang.Long.valueOf(x.last()) }),
    "bitmap_and" -> udf((a: Array[Byte], b: Array[Byte]) => binop(a, b)(_ and _)),
    "bitmap_or" -> udf((a: Array[Byte], b: Array[Byte]) => binop(a, b)(_ or _)),
    "bitmap_xor" -> udf((a: Array[Byte], b: Array[Byte]) => binop(a, b)(_ xor _)),
    "bitmap_andnot" -> udf((a: Array[Byte], b: Array[Byte]) => binop(a, b)(_ andNot _)),
    "bitmap_and_count" -> udf((a: Array[Byte], b: Array[Byte]) => deser(binop(a, b)(_ and _)).getLongCardinality),
    "bitmap_or_count" -> udf((a: Array[Byte], b: Array[Byte]) => deser(binop(a, b)(_ or _)).getLongCardinality),
    "bitmap_has_any" -> udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deser(a); x.and(deser(b)); !x.isEmpty
    }),
    "bitmap_subset_limit" -> udf((b: Array[Byte], start: Long, limit: Long) => {
      val out = new Roaring64NavigableMap()
      val it = deser(b).iterator()
      var taken = 0L
      while (it.hasNext && taken < limit) {
        val v = it.next()
        if (v >= start) { out.addLong(v); taken += 1 }
      }
      ser(out)
    }),
    // string codec + slicing surface (reference: bitmap_from_string /
    // bitmap_to_string / sub_bitmap / bitmap_subset_in_range in
    // be/src/exprs/function/function_bitmap.cpp)
    // unparseable tokens yield NULL (not an exception), matching the
    // reference's parse-failure contract
    "bitmap_from_string" -> udf((s: String) => {
      if (s == null) null
      else {
        val out = new Roaring64NavigableMap()
        var ok = true
        if (s.nonEmpty) s.split(",").foreach { p =>
          p.trim.toLongOption match {
            case Some(v) => out.addLong(v)
            case None => ok = false
          }
        }
        if (ok) ser(out) else null
      }
    }),
    // unsigned rendering, matching the reference's uint64 bitmap values
    "bitmap_to_string" -> udf((b: Array[Byte]) => {
      val sb = new StringBuilder
      val it = deser(b).iterator()
      while (it.hasNext) {
        if (sb.nonEmpty) sb.append(',')
        sb.append(java.lang.Long.toUnsignedString(it.next()))
      }
      sb.toString
    }),
    // bitmap_hash / bitmap_hash64 (function_bitmap.cpp BitmapHash):
    // single-member bitmap of the unsigned murmur hash of the string —
    // 32-bit form seeded MURMUR3_32_SEED, 64-bit form x64_64 seed 0
    "bitmap_hash" -> udf((s: String) => {
      val out = new Roaring64NavigableMap()
      if (s != null)
        out.addLong(Integer.toUnsignedLong(Murmur3.hash32(s.getBytes("UTF-8"), 104729)))
      ser(out)
    }),
    "bitmap_hash64" -> udf((s: String) => {
      val out = new Roaring64NavigableMap()
      if (s != null) out.addLong(Murmur3.hash64(s.getBytes("UTF-8"), 0L))
      ser(out)
    }),
    // offset = element rank (ascending unsigned); negative offsets count
    // from the end; NULL when limit<=0, |offset| exceeds cardinality, or
    // the slice selects nothing (BitmapValue::offset_limit's contract)
    "sub_bitmap" -> udf((b: Array[Byte], offset: Long, len: Long) => {
      val m = deser(b)
      val card = m.getLongCardinality
      if (len <= 0 || math.abs(offset) > card) null
      else {
        val start = if (offset < 0) card + offset else offset
        val out = new Roaring64NavigableMap()
        val it = m.iterator()
        var i = 0L
        var taken = 0L
        while (it.hasNext && taken < len) {
          val v = it.next()
          if (i >= start) { out.addLong(v); taken += 1 }
          i += 1
        }
        if (taken == 0L) null else ser(out)
      }
    }),
    "bitmap_subset_in_range" -> udf((b: Array[Byte], lo: Long, hi: Long) => {
      val out = new Roaring64NavigableMap()
      val it = deser(b).iterator()
      while (it.hasNext) { val v = it.next(); if (v >= lo && v < hi) out.addLong(v) }
      ser(out)
    }),
    "bitmap_remove" -> udf((b: Array[Byte], v: Long) => {
      val m = deser(b); m.removeLong(v); ser(m)
    }),
    "bitmap_has_all" -> udf((a: Array[Byte], b: Array[Byte]) => {
      val x = deser(b); x.andNot(deser(a)); x.isEmpty
    }),
    "bitmap_xor_count" -> udf((a: Array[Byte], b: Array[Byte]) =>
      deser(binop(a, b)(_ xor _)).getLongCardinality))
}
