package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf
import org.roaringbitmap.longlong.Roaring64NavigableMap

/** EXACT-NAME registrations for the reference's parameterized
  * aggregates (BuiltinAggregateFunctions.java): window_funnel /
  * retention / sequence_match / sequence_count / topn / topn_array /
  * topn_weighted / linear_histogram / histogram /
  * exponential_moving_average / intersect_count / bitmap_union_count /
  * ai_agg / group_concat. The earlier *_3d / *5 / *_100 registrations
  * parameterized at registration time; these take the constant the way
  * Doris does — as leading arguments, read from the rows (the FE
  * guarantees they are literals, so any row's value is THE value).
  * Variadic event/value tails are fixed at the 3-slot canonical form
  * (UDAF arity is static — documented).
  */
object ParamAggs {

  import BehaviorAggs.{Ev, EvBuf, FunnelMode}

  /** JSON string-escape for topn keys (quote, backslash, control chars). */
  def jsonKey(s: String): String = {
    val sb = new StringBuilder("\"")
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '"'            => sb.append("\\\"")
        case '\\'           => sb.append("\\\\")
        case '\b'           => sb.append("\\b")
        case '\f'           => sb.append("\\f")
        case '\n'           => sb.append("\\n")
        case '\r'           => sb.append("\\r")
        case '\t'           => sb.append("\\t")
        case c if c < 0x20  => sb.append(f"\\u${c.toInt}%04x")
        case c              => sb.append(c)
      }
      i += 1
    }
    sb.append('"').toString
  }

  case class FunnelRow(win: Long, mode: String, ts: java.time.Instant,
                       e1: Boolean, e2: Boolean, e3: Boolean)
  case class FunnelBuf(win: Long, mode: String, events: Seq[Ev])

  /** window_funnel(window_seconds, mode, ts, e1, e2, e3) — delegates to
    * the mode machinery in [[BehaviorAggs.WindowFunnelAgg]]. */
  class WindowFunnelNamed extends Aggregator[FunnelRow, FunnelBuf, Int] {
    def zero: FunnelBuf = FunnelBuf(-1L, null, Nil)
    def reduce(b: FunnelBuf, r: FunnelRow): FunnelBuf = {
      val mask = (if (r.e1) 1 else 0) | (if (r.e2) 2 else 0) | (if (r.e3) 4 else 0)
      val keepZero = r.mode != null && r.mode.equalsIgnoreCase("fixed")
      val micros = r.ts.getEpochSecond * 1000000L + r.ts.getNano / 1000L
      val evs = if (mask == 0 && !keepZero) b.events else Ev(micros, mask) +: b.events
      FunnelBuf(r.win, r.mode, evs)
    }
    def merge(a: FunnelBuf, b: FunnelBuf): FunnelBuf =
      FunnelBuf(math.max(a.win, b.win), if (a.mode != null) a.mode else b.mode,
        a.events ++ b.events)
    def finish(b: FunnelBuf): Int = {
      val mode = Option(b.mode).map(_.toLowerCase) match {
        case Some("deduplication") => FunnelMode.Dedup
        case Some("fixed")         => FunnelMode.Fixed
        case Some("increase")      => FunnelMode.Increase
        case _                     => FunnelMode.Default
      }
      new BehaviorAggs.WindowFunnelAgg(b.win * 1000000L, 3, mode)
        .finish(EvBuf(b.events))
    }
    def bufferEncoder: Encoder[FunnelBuf] = ExpressionEncoder()
    def outputEncoder: Encoder[Int] = Encoders.scalaInt
  }

  case class Bools3(e1: Boolean, e2: Boolean, e3: Boolean)

  /** retention(e1, e2, e3) — canonical 3-condition form. */
  class RetentionNamed extends Aggregator[Bools3, Int, Seq[Boolean]] {
    private val inner = new BehaviorAggs.RetentionAgg(3)
    def zero: Int = 0
    def reduce(b: Int, r: Bools3): Int =
      b | (if (r.e1) 1 else 0) | (if (r.e2) 2 else 0) | (if (r.e3) 4 else 0)
    def merge(a: Int, b: Int): Int = a | b
    def finish(b: Int): Seq[Boolean] = inner.finish(b)
    def bufferEncoder: Encoder[Int] = Encoders.scalaInt
    def outputEncoder: Encoder[Seq[Boolean]] = ExpressionEncoder()
  }

  case class SeqRow(pat: String, ts: Long, e1: Boolean, e2: Boolean, e3: Boolean)
  case class SeqBuf(pat: String, events: Seq[Ev])

  /** sequence_match / sequence_count('(?1)(?2)..[(?t<=N)]', ts, e1..e3)
    * — chain patterns with an optional single time-gap guard (the
    * subset the reference's own regression suite exercises). */
  class SequenceNamed(returnCount: Boolean)
      extends Aggregator[SeqRow, SeqBuf, Long] {
    def zero: SeqBuf = SeqBuf(null, Nil)
    def reduce(b: SeqBuf, r: SeqRow): SeqBuf = {
      val mask = (if (r.e1) 1 else 0) | (if (r.e2) 2 else 0) | (if (r.e3) 4 else 0)
      SeqBuf(if (b.pat != null) b.pat else r.pat,
        if (mask == 0) b.events else Ev(r.ts, mask) +: b.events)
    }
    def merge(a: SeqBuf, b: SeqBuf): SeqBuf =
      SeqBuf(if (a.pat != null) a.pat else b.pat, a.events ++ b.events)
    def finish(b: SeqBuf): Long = {
      val pat = Option(b.pat).getOrElse("")
      val n = "\\(\\?([0-9])\\)".r.findAllMatchIn(pat).map(_.group(1).toInt).toSeq
      require(n == (1 to n.length), s"only chain patterns (?1)(?2)... supported: $pat")
      val gap = "\\(\\?t<=([0-9]+)\\)".r.findFirstMatchIn(pat)
        .map(_.group(1).toLong * 1000000L).getOrElse(0L)
      new BehaviorAggs.SequenceAgg(n.length, returnCount, gap)
        .finish(EvBuf(b.events))
    }
    def bufferEncoder: Encoder[SeqBuf] = ExpressionEncoder()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  case class ItemK(item: String, k: Int)

  /** topn(col, k): Doris-style JSON object {"item":cnt,...}, count
    * desc then item asc (exact — the reference's space-saving sketch is
    * exact until capacity, documented stronger guarantee). */
  class TopNNamed extends Aggregator[ItemK, (Map[String, Long], Int), String] {
    def zero: (Map[String, Long], Int) = (Map.empty, 0)
    def reduce(b: (Map[String, Long], Int), r: ItemK): (Map[String, Long], Int) =
      (if (r.item == null) b._1 else b._1.updated(r.item, b._1.getOrElse(r.item, 0L) + 1),
        math.max(b._2, r.k))
    def merge(a: (Map[String, Long], Int), b: (Map[String, Long], Int)): (Map[String, Long], Int) =
      (b._1.foldLeft(a._1) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) },
        math.max(a._2, b._2))
    def finish(b: (Map[String, Long], Int)): String =
      b._1.toSeq.sortBy { case (item, cnt) => (-cnt, item) }.take(b._2)
        .map { case (item, cnt) => ParamAggs.jsonKey(item) + ":" + cnt }
        .mkString("{", ",", "}")
    def bufferEncoder: Encoder[(Map[String, Long], Int)] = ExpressionEncoder()
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** topn_array(col, k): top-k items as an array. */
  class TopNArrayNamed extends Aggregator[ItemK, (Map[String, Long], Int), Seq[String]] {
    private val inner = new TopNNamed
    def zero: (Map[String, Long], Int) = inner.zero
    def reduce(b: (Map[String, Long], Int), r: ItemK): (Map[String, Long], Int) = inner.reduce(b, r)
    def merge(a: (Map[String, Long], Int), b: (Map[String, Long], Int)): (Map[String, Long], Int) = inner.merge(a, b)
    def finish(b: (Map[String, Long], Int)): Seq[String] =
      b._1.toSeq.sortBy { case (item, cnt) => (-cnt, item) }.take(b._2).map(_._1)
    def bufferEncoder: Encoder[(Map[String, Long], Int)] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder()
  }

  case class ItemWK(item: String, w: Long, k: Int)

  /** topn_weighted(col, weight, k): top-k by summed weight. */
  class TopNWeightedNamed extends Aggregator[ItemWK, (Map[String, Long], Int), Seq[String]] {
    def zero: (Map[String, Long], Int) = (Map.empty, 0)
    def reduce(b: (Map[String, Long], Int), r: ItemWK): (Map[String, Long], Int) =
      (if (r.item == null) b._1 else b._1.updated(r.item, b._1.getOrElse(r.item, 0L) + r.w),
        math.max(b._2, r.k))
    def merge(a: (Map[String, Long], Int), b: (Map[String, Long], Int)): (Map[String, Long], Int) =
      (b._1.foldLeft(a._1) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) },
        math.max(a._2, b._2))
    def finish(b: (Map[String, Long], Int)): Seq[String] =
      b._1.toSeq.sortBy { case (item, w) => (-w, item) }.take(b._2).map(_._1)
    def bufferEncoder: Encoder[(Map[String, Long], Int)] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[String]] = ExpressionEncoder()
  }

  case class VW(v: Double, width: Double)

  /** linear_histogram(value, width): Doris JSON shape
    * {"num_buckets":N,"buckets":[{"lower":..,"upper":..,"count":..,
    * "acc_count":..}]}. */
  class LinearHistogramNamed extends Aggregator[VW, (Map[Long, Long], Double), String] {
    def zero: (Map[Long, Long], Double) = (Map.empty, 0.0)
    def reduce(b: (Map[Long, Long], Double), r: VW): (Map[Long, Long], Double) = {
      val k = math.floor(r.v / r.width).toLong
      (b._1.updated(k, b._1.getOrElse(k, 0L) + 1), r.width)
    }
    def merge(a: (Map[Long, Long], Double), b: (Map[Long, Long], Double)): (Map[Long, Long], Double) =
      (b._1.foldLeft(a._1) { case (m, (k, c)) => m.updated(k, m.getOrElse(k, 0L) + c) },
        if (a._2 != 0.0) a._2 else b._2)
    def finish(b: (Map[Long, Long], Double)): String = {
      val w = b._2
      var acc = 0L
      val items = b._1.toSeq.sortBy(_._1).map { case (k, c) =>
        acc += c
        s"""{"lower":${k * w},"upper":${(k + 1) * w},"count":$c,"acc_count":$acc}"""
      }
      s"""{"num_buckets":${items.length},"buckets":[${items.mkString(",")}]}"""
    }
    def bufferEncoder: Encoder[(Map[Long, Long], Double)] = ExpressionEncoder()
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  case class VNb(v: Double, nb: Int)

  /** histogram(value, num_buckets): exact equi-height buckets (ntile
    * split — first len%n buckets take the extra row), Doris JSON shape
    * {"num_buckets":N,"buckets":[{"lower":..,"upper":..,"count":..,
    * "pre_sum":..,"ndv":..}]}. The reference samples; exact here
    * (documented stronger guarantee). */
  class HistogramNamed extends Aggregator[VNb, (Seq[Double], Int), String] {
    def zero: (Seq[Double], Int) = (Nil, 0)
    def reduce(b: (Seq[Double], Int), r: VNb): (Seq[Double], Int) =
      (r.v +: b._1, math.max(b._2, r.nb))
    def merge(a: (Seq[Double], Int), b: (Seq[Double], Int)): (Seq[Double], Int) =
      (a._1 ++ b._1, math.max(a._2, b._2))
    def finish(b: (Seq[Double], Int)): String = {
      val sorted = b._1.sorted.toArray
      val n = math.max(1, math.min(b._2, sorted.length))
      if (sorted.isEmpty) return """{"num_buckets":0,"buckets":[]}"""
      val base = sorted.length / n
      val extra = sorted.length % n
      var off = 0
      var pre = 0L
      val items = (0 until n).map { i =>
        val sz = base + (if (i < extra) 1 else 0)
        val slice = sorted.slice(off, off + sz)
        off += sz
        pre += sz
        s"""{"lower":${slice.head},"upper":${slice.last},"count":$sz,""" +
          s""""pre_sum":$pre,"ndv":${slice.distinct.length}}"""
      }
      s"""{"num_buckets":$n,"buckets":[${items.mkString(",")}]}"""
    }
    def bufferEncoder: Encoder[(Seq[Double], Int)] = ExpressionEncoder()
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  case class EmaRow(halfDecay: Double, v: Double, t: Double)

  /** exponential_moving_average(half_decay, value, timeunit) — the
    * reference's mergeable time-decayed state
    * (aggregate_function_ema.h: scale = 2^(-dt/hd), result =
    * value / sumWeights where sumWeights = 1/(1-2^(-1/hd))). */
  class EmaNamed extends Aggregator[EmaRow, (Double, Double, Double, Boolean), Double] {
    // state: (value, time, half_decay, nonEmpty)
    def zero: (Double, Double, Double, Boolean) = (0.0, 0.0, 0.0, false)
    private def mergePoint(s: (Double, Double, Double, Boolean),
                           v: Double, t: Double, hd: Double): (Double, Double, Double, Boolean) = {
      if (!s._4) (v, t, hd, true)
      else if (s._2 > t) (s._1 + v * math.pow(2, -(s._2 - t) / hd), s._2, hd, true)
      else if (s._2 < t) (s._1 * math.pow(2, -(t - s._2) / hd) + v, t, hd, true)
      else (s._1 + v, t, hd, true)
    }
    def reduce(s: (Double, Double, Double, Boolean), r: EmaRow): (Double, Double, Double, Boolean) =
      mergePoint(s, r.v, r.t, r.halfDecay)
    def merge(a: (Double, Double, Double, Boolean), b: (Double, Double, Double, Boolean)): (Double, Double, Double, Boolean) =
      if (!b._4) a
      else if (!a._4) b
      else mergePoint(a, b._1, b._2, if (a._3 != 0.0) a._3 else b._3)
    def finish(s: (Double, Double, Double, Boolean)): Double =
      if (!s._4) Double.NaN
      else s._1 * (1.0 - math.pow(2, -1.0 / s._3))
    def bufferEncoder: Encoder[(Double, Double, Double, Boolean)] = ExpressionEncoder()
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** bitmap_union_count / orthogonal_bitmap_union_count over bitmap
    * partials. */
  class BitmapUnionCountNamed extends Aggregator[Array[Byte], Roaring64NavigableMap, Long] {
    def zero: Roaring64NavigableMap = new Roaring64NavigableMap()
    def reduce(b: Roaring64NavigableMap, v: Array[Byte]): Roaring64NavigableMap = { b.or(Bitmaps.deser(v)); b }
    def merge(a: Roaring64NavigableMap, b: Roaring64NavigableMap): Roaring64NavigableMap = { a.or(b); a }
    def finish(b: Roaring64NavigableMap): Long = b.getLongCardinality
    def bufferEncoder: Encoder[Roaring64NavigableMap] =
      Encoders.javaSerialization[Roaring64NavigableMap]
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  case class ICRow(bm: Array[Byte], c: String, v1: String, v2: String)

  /** intersect_count(bitmap, filterCol, v1, v2) — canonical two-value
    * form: cardinality of AND over the groups where filterCol matches
    * each value (aggregate_function_orthogonal_bitmap.cpp). */
  class IntersectCountNamed
      extends Aggregator[ICRow, (Array[Byte], Array[Byte], Boolean, Boolean), Long] {
    def zero: (Array[Byte], Array[Byte], Boolean, Boolean) =
      (Array.emptyByteArray, Array.emptyByteArray, false, false)
    private def or(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
      val x = Bitmaps.deser(a); x.or(Bitmaps.deser(b)); Bitmaps.ser(x)
    }
    def reduce(s: (Array[Byte], Array[Byte], Boolean, Boolean), r: ICRow): (Array[Byte], Array[Byte], Boolean, Boolean) = {
      var st = s
      if (r.c == r.v1) st = (or(st._1, r.bm), st._2, true, st._4)
      if (r.c == r.v2) st = (st._1, or(st._2, r.bm), st._3, true)
      st
    }
    def merge(a: (Array[Byte], Array[Byte], Boolean, Boolean), b: (Array[Byte], Array[Byte], Boolean, Boolean)): (Array[Byte], Array[Byte], Boolean, Boolean) =
      (or(a._1, b._1), or(a._2, b._2), a._3 || b._3, a._4 || b._4)
    def finish(s: (Array[Byte], Array[Byte], Boolean, Boolean)): Long =
      if (!s._3 || !s._4) 0L
      else {
        val x = Bitmaps.deser(s._1); x.and(Bitmaps.deser(s._2))
        x.getLongCardinality
      }
    def bufferEncoder: Encoder[(Array[Byte], Array[Byte], Boolean, Boolean)] = ExpressionEncoder()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** orthogonal_bitmap_intersect(bitmap, filterCol, v1, v2) — the
    * bitmap-valued sibling of [[IntersectCountNamed]] (canonical
    * two-value form): serialized AND of the per-value unions
    * (aggregate_function_orthogonal_bitmap.h BitmapIntersect). */
  class OrthogonalBitmapIntersectNamed
      extends Aggregator[ICRow, (Array[Byte], Array[Byte], Boolean, Boolean), Array[Byte]] {
    private val inner = new IntersectCountNamed
    def zero: (Array[Byte], Array[Byte], Boolean, Boolean) = inner.zero
    def reduce(s: (Array[Byte], Array[Byte], Boolean, Boolean), r: ICRow): (Array[Byte], Array[Byte], Boolean, Boolean) =
      inner.reduce(s, r)
    def merge(a: (Array[Byte], Array[Byte], Boolean, Boolean), b: (Array[Byte], Array[Byte], Boolean, Boolean)): (Array[Byte], Array[Byte], Boolean, Boolean) =
      inner.merge(a, b)
    def finish(s: (Array[Byte], Array[Byte], Boolean, Boolean)): Array[Byte] =
      if (!s._3 || !s._4) Bitmaps.ser(new Roaring64NavigableMap())
      else {
        val x = Bitmaps.deser(s._1); x.and(Bitmaps.deser(s._2)); Bitmaps.ser(x)
      }
    def bufferEncoder: Encoder[(Array[Byte], Array[Byte], Boolean, Boolean)] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  case class ExprRow(bm: Array[Byte], c: String, expr: String)

  /** orthogonal_bitmap_expr_calculate(_count)(bitmap, filterCol, expr):
    * boolean algebra over per-tag bitmap unions
    * (util/bitmap_expr_calculation.h): '&' and, '|' or, '-' andNot,
    * '^' xor — ALL EQUAL precedence, left-associative, parentheses,
    * backslash-escaped tag characters, exactly the reference's
    * shunting-yard. State accumulates only tags named in the
    * expression, so group state is bounded by the expression. */
  object BitmapExpr {
    sealed trait Tok
    case class Key(s: String) extends Tok
    case class Op(c: Char) extends Tok
    case object LP extends Tok
    case object RP extends Tok

    def tokenize(expr: String): Seq[Tok] = {
      val out = Seq.newBuilder[Tok]
      val key = new StringBuilder
      var i = 0
      def flush(): Unit = if (key.nonEmpty) { out += Key(key.toString); key.clear() }
      while (i < expr.length) {
        val c = expr.charAt(i)
        c match {
          case '\\' if i + 1 < expr.length => key.append(expr.charAt(i + 1)); i += 1
          case '&' | '|' | '^' | '-' => flush(); out += Op(c)
          case '(' => flush(); out += LP
          case ')' => flush(); out += RP
          case ' ' | '\t' => flush()
          case c2 => key.append(c2)
        }
        i += 1
      }
      flush()
      out.result()
    }

    // memoized: reduce() consults the key set once per input ROW
    private val keysCache =
      new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
    def keys(expr: String): Set[String] =
      keysCache.computeIfAbsent(expr,
        e => tokenize(e).collect { case Key(s) => s }.toSet)

    /** reverse-polish per the reference: equal precedence, left-assoc */
    def rpn(expr: String): Seq[Tok] = {
      val out = Seq.newBuilder[Tok]
      var ops = List.empty[Tok]
      tokenize(expr).foreach {
        case k: Key => out += k
        case LP => ops ::= LP
        case RP =>
          while (ops.nonEmpty && ops.head != LP) { out += ops.head; ops = ops.tail }
          if (ops.nonEmpty) ops = ops.tail
        case o: Op =>
          while (ops.nonEmpty && ops.head != LP) { out += ops.head; ops = ops.tail }
          ops ::= o
      }
      ops.foreach(o => if (o != LP) out += o)
      out.result()
    }

    def eval(expr: String, bitmaps: Map[String, Roaring64NavigableMap]): Roaring64NavigableMap = {
      def get(k: String) = bitmaps.getOrElse(k, new Roaring64NavigableMap())
      var st = List.empty[Roaring64NavigableMap]
      rpn(expr).foreach {
        case Key(k) => st ::= get(k)
        case Op(c) if st.size >= 2 =>
          val right = st.head; val left = st.tail.head
          st = st.drop(2)
          val r = new Roaring64NavigableMap()
          r.or(left)
          c match {
            case '&' => r.and(right)
            case '|' => r.or(right)
            case '-' => r.andNot(right)
            case '^' => r.xor(right)
          }
          st ::= r
        case _ => ()
      }
      st.headOption.getOrElse(new Roaring64NavigableMap())
    }
  }

  class BitmapExprCalcNamed
      extends Aggregator[ExprRow, (Map[String, Array[Byte]], String), Array[Byte]] {
    def zero: (Map[String, Array[Byte]], String) = (Map.empty, null)
    private def orInto(m: Map[String, Array[Byte]], k: String, v: Array[Byte]): Map[String, Array[Byte]] =
      m.get(k) match {
        case Some(prev) =>
          val x = Bitmaps.deser(prev); x.or(Bitmaps.deser(v)); m.updated(k, Bitmaps.ser(x))
        case None => m.updated(k, v)
      }
    def reduce(s: (Map[String, Array[Byte]], String), r: ExprRow): (Map[String, Array[Byte]], String) = {
      val e = if (s._2 != null) s._2 else r.expr
      if (r.c != null && BitmapExpr.keys(e).contains(r.c)) (orInto(s._1, r.c, r.bm), e)
      else (s._1, e)
    }
    def merge(a: (Map[String, Array[Byte]], String), b: (Map[String, Array[Byte]], String)): (Map[String, Array[Byte]], String) =
      (b._1.foldLeft(a._1) { case (m, (k, v)) => orInto(m, k, v) },
        if (a._2 != null) a._2 else b._2)
    def finish(s: (Map[String, Array[Byte]], String)): Array[Byte] =
      Bitmaps.ser(
        if (s._2 == null || s._1.isEmpty) new Roaring64NavigableMap()
        else BitmapExpr.eval(s._2, s._1.map { case (k, v) => k -> Bitmaps.deser(v) }))
    def bufferEncoder: Encoder[(Map[String, Array[Byte]], String)] = ExpressionEncoder()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  class BitmapExprCalcCountNamed
      extends Aggregator[ExprRow, (Map[String, Array[Byte]], String), Long] {
    private val inner = new BitmapExprCalcNamed
    def zero: (Map[String, Array[Byte]], String) = inner.zero
    def reduce(s: (Map[String, Array[Byte]], String), r: ExprRow): (Map[String, Array[Byte]], String) =
      inner.reduce(s, r)
    def merge(a: (Map[String, Array[Byte]], String), b: (Map[String, Array[Byte]], String)): (Map[String, Array[Byte]], String) =
      inner.merge(a, b)
    def finish(s: (Map[String, Array[Byte]], String)): Long =
      if (s._2 == null || s._1.isEmpty) 0L
      else BitmapExpr.eval(s._2, s._1.map { case (k, v) => k -> Bitmaps.deser(v) })
        .getLongCardinality
    def bufferEncoder: Encoder[(Map[String, Array[Byte]], String)] = ExpressionEncoder()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  case class SSep(s: String, sep: String)

  /** group_concat(col, sep) — sorted canonicalization (the reference
    * leaves un-ORDER-BY'd order undefined; documented). */
  class GroupConcatNamed extends Aggregator[SSep, (Seq[String], String), String] {
    def zero: (Seq[String], String) = (Nil, null)
    def reduce(b: (Seq[String], String), r: SSep): (Seq[String], String) =
      (if (r.s == null) b._1 else r.s +: b._1, if (b._2 != null) b._2 else r.sep)
    def merge(a: (Seq[String], String), b: (Seq[String], String)): (Seq[String], String) =
      (a._1 ++ b._1, if (a._2 != null) a._2 else b._2)
    def finish(b: (Seq[String], String)): String =
      b._1.sorted.mkString(Option(b._2).getOrElse(", "))
    def bufferEncoder: Encoder[(Seq[String], String)] = ExpressionEncoder()
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  case class SPrompt(s: String, prompt: String)

  /** ai_agg(col, task_prompt) — deterministic stub like the ai_*
    * scalar family: digest of the group (count + lexical min/max)
    * tagged with the prompt. */
  class AiAggStub extends Aggregator[SPrompt, (Long, String, String, String), String] {
    def zero: (Long, String, String, String) = (0L, null, null, null)
    def reduce(b: (Long, String, String, String), r: SPrompt): (Long, String, String, String) = {
      val mn = if (b._2 == null || (r.s != null && r.s < b._2)) r.s else b._2
      val mx = if (b._3 == null || (r.s != null && r.s > b._3)) r.s else b._3
      (b._1 + 1, mn, mx, if (b._4 != null) b._4 else r.prompt)
    }
    def merge(a: (Long, String, String, String), b: (Long, String, String, String)): (Long, String, String, String) = {
      val mn = Seq(a._2, b._2).filter(_ != null).sorted.headOption.orNull
      val mx = Seq(a._3, b._3).filter(_ != null).sorted.lastOption.orNull
      (a._1 + b._1, mn, mx, if (a._4 != null) a._4 else b._4)
    }
    def finish(b: (Long, String, String, String)): String =
      s"[${Option(b._4).getOrElse("")}] n=${b._1} min=${Option(b._2).getOrElse("")} max=${Option(b._3).getOrElse("")}"
    def bufferEncoder: Encoder[(Long, String, String, String)] = ExpressionEncoder()
    def outputEncoder: Encoder[String] = Encoders.STRING
  }

  def udfs: Seq[(String, UserDefinedFunction)] = Seq(
    "window_funnel" -> udaf(new WindowFunnelNamed, ExpressionEncoder[FunnelRow]()),
    "window_funnel_v1" -> udaf(new WindowFunnelNamed, ExpressionEncoder[FunnelRow]()),
    "window_funnel_v2" -> udaf(new WindowFunnelNamed, ExpressionEncoder[FunnelRow]()),
    "retention" -> udaf(new RetentionNamed, ExpressionEncoder[Bools3]()),
    "sequence_match" -> udaf(new SequenceNamed(false), ExpressionEncoder[SeqRow]()),
    "sequence_count" -> udaf(new SequenceNamed(true), ExpressionEncoder[SeqRow]()),
    "topn" -> udaf(new TopNNamed, ExpressionEncoder[ItemK]()),
    "topn_array" -> udaf(new TopNArrayNamed, ExpressionEncoder[ItemK]()),
    "topn_weighted" -> udaf(new TopNWeightedNamed, ExpressionEncoder[ItemWK]()),
    "linear_histogram" -> udaf(new LinearHistogramNamed, ExpressionEncoder[VW]()),
    "histogram" -> udaf(new HistogramNamed, ExpressionEncoder[VNb]()),
    "hist" -> udaf(new HistogramNamed, ExpressionEncoder[VNb]()),
    "exponential_moving_average" -> udaf(new EmaNamed, ExpressionEncoder[EmaRow]()),
    "bitmap_union_count" -> udaf(new BitmapUnionCountNamed, Encoders.BINARY),
    "orthogonal_bitmap_union_count" -> udaf(new BitmapUnionCountNamed, Encoders.BINARY),
    "bitmap_intersect" -> udaf(new Bitmaps.BitmapIntersectAgg, Encoders.BINARY),
    "intersect_count" -> udaf(new IntersectCountNamed, ExpressionEncoder[ICRow]()),
    "orthogonal_bitmap_intersect_count" ->
      udaf(new IntersectCountNamed, ExpressionEncoder[ICRow]()),
    "orthogonal_bitmap_intersect" ->
      udaf(new OrthogonalBitmapIntersectNamed, ExpressionEncoder[ICRow]()),
    "orthogonal_bitmap_expr_calculate" ->
      udaf(new BitmapExprCalcNamed, ExpressionEncoder[ExprRow]()),
    "orthogonal_bitmap_expr_calculate_count" ->
      udaf(new BitmapExprCalcCountNamed, ExpressionEncoder[ExprRow]()),
    "group_concat" -> udaf(new GroupConcatNamed, ExpressionEncoder[SSep]()),
    "ai_agg" -> udaf(new AiAggStub, ExpressionEncoder[SPrompt]()))
}
