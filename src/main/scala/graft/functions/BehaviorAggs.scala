package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf

/** Behavior-analytics aggregate family (SURVEY.md §2.5 "key
  * differentiator set"; reference: be/src/exprs/aggregate/
  * aggregate_function_{window_funnel,retention,sequence_match,topn}.*).
  *
  * Event inputs arrive as (ts_micros, cond-bitmask) pairs; state is the
  * per-group event list (same O(events-per-group) state Doris keeps),
  * mergeable across partitions, so the aggs shuffle like any hash agg.
  */
object BehaviorAggs {

  case class Ev(ts: Long, mask: Int)
  case class EvBuf(events: Seq[Ev])
  case class ItemCnt(item: String, cnt: Long)

  /** window_funnel(window, ts, c1..cn): longest chain c1→c2→…→ck with
    * strictly increasing ts, all within `window` micros of the chain's
    * first event. Greedy earliest-extension per start (optimal for
    * subsequence-with-deadline).
    *
    * Modes (reference: aggregate_function_window_funnel.cpp
    * _get_default/_get_increase/_get_deduplication/_get_fixed):
    *  - Default: advance on the next matching level from any LATER event
    *    (equal timestamps allowed — the reference requires only a
    *    different row + the window).
    *  - Increase: like Default but the FIRST in-window occurrence of the
    *    next level must carry a strictly GREATER timestamp than the
    *    previous chain event; otherwise the attempt dies there (the
    *    reference's `if (!is_matched) break` after find_one —
    *    aggregate_function_window_funnel.h:200-211 — never rescans for a
    *    later same-level event).
    *  - Dedup: a repeat of an ALREADY-PASSED level in the gap breaks
    *    this chain attempt.
    *  - Fixed: the next level must sit on the IMMEDIATELY following row
    *    (aggregate_function_window_funnel.h:189-198 — match_row advances
    *    by exactly 1 per level); ANY interposed row, including one with
    *    no event flags at all, breaks the attempt, so Fixed-mode buffers
    *    keep zero-mask rows like the reference's unconditional add().
    */
  object FunnelMode extends Enumeration { val Default, Dedup, Fixed, Increase = Value }

  class WindowFunnelAgg(windowMicros: Long, nConds: Int,
                        mode: FunnelMode.Value = FunnelMode.Default)
      extends Aggregator[Ev, EvBuf, Int] {
    def zero: EvBuf = EvBuf(Nil)
    // Fixed needs every row (un-flagged rows break its chains); the
    // other modes never look at zero-mask rows, so dropping them is a
    // pure state reduction
    def reduce(b: EvBuf, e: Ev): EvBuf =
      if (e.mask == 0 && mode != FunnelMode.Fixed) b else EvBuf(e +: b.events)
    def merge(a: EvBuf, b: EvBuf): EvBuf = EvBuf(a.events ++ b.events)
    def finish(b: EvBuf): Int = {
      val evs = b.events.sortBy(e => (e.ts, e.mask)).toArray
      var best = 0
      var i = 0
      while (i < evs.length) {
        if ((evs(i).mask & 1) != 0) {
          var level = 1
          var lastTs = evs(i).ts
          val deadline = evs(i).ts + windowMicros
          var j = i + 1
          var broken = false
          if (mode == FunnelMode.Fixed) {
            // exact contiguous rows: level k+1 on row i+k, in-window
            while (!broken && level < nConds && j < evs.length) {
              if ((evs(j).mask & (1 << level)) != 0 && evs(j).ts <= deadline) {
                level += 1; j += 1
              } else broken = true
            }
          } else {
            while (j < evs.length && !broken && level < nConds && evs(j).ts <= deadline) {
              val m = evs(j).mask
              val nextBit = (m & (1 << level)) != 0
              if (nextBit && (mode != FunnelMode.Increase || evs(j).ts > lastTs)) {
                level += 1; lastTs = evs(j).ts
              } else if (nextBit && mode == FunnelMode.Increase) {
                // first occurrence of the next level is not strictly
                // later -> the whole attempt dies (reference breaks,
                // it does not rescan)
                broken = true
              } else if (mode == FunnelMode.Dedup && (m & ((1 << level) - 1)) != 0) {
                // a passed level repeats -> this attempt is dead
                broken = true
              }
              j += 1
            }
          }
          if (level > best) best = level
          if (best == nConds) return best
        }
        i += 1
      }
      best
    }
    def bufferEncoder: Encoder[EvBuf] = ExpressionEncoder()
    def outputEncoder: Encoder[Int] = Encoders.scalaInt
  }

  /** retention(c1..cn): r(0)=seen(c1); r(i)=seen(c1)&&seen(c_{i+1}). */
  class RetentionAgg(nConds: Int) extends Aggregator[Int, Int, Seq[Boolean]] {
    def zero: Int = 0
    def reduce(b: Int, mask: Int): Int = b | mask
    def merge(a: Int, b: Int): Int = a | b
    def finish(b: Int): Seq[Boolean] = {
      val first = (b & 1) != 0
      (0 until nConds).map(i => if (i == 0) first else first && ((b & (1 << i)) != 0))
    }
    def bufferEncoder: Encoder[Int] = Encoders.scalaInt
    def outputEncoder: Encoder[Seq[Boolean]] = ExpressionEncoder()
  }

  /** sequence_match / sequence_count for chain patterns
    * "(?1)(?2)…(?n)": subsequence with strictly increasing ts;
    * count = non-overlapping greedy matches. */
  /** maxGapMicros (the ClickHouse/Doris "(?t<=N)" time guard): every
    * consecutive matched pair must be 0 < dt <= N apart; 0 = unbounded.
    * Exact via a latest-achiever DP: for "exists chain", keeping only
    * the LATEST timestamp reaching each level is sufficient — any
    * earlier achiever that admits a transition admits it from the
    * latest one too (dt only shrinks), and strict increase holds
    * because levels update per-timestamp batch (equal-ts events never
    * chain). For COUNT the same DP runs greedily non-overlapping:
    * each completion increments and resets the level state, so later
    * matches only use later events (earliest-completion greedy). */
  class SequenceAgg(nConds: Int, returnCount: Boolean, maxGapMicros: Long = 0L)
      extends Aggregator[Ev, EvBuf, Long] {
    def zero: EvBuf = EvBuf(Nil)
    def reduce(b: EvBuf, e: Ev): EvBuf =
      if (e.mask == 0) b else EvBuf(e +: b.events)
    def merge(a: EvBuf, b: EvBuf): EvBuf = EvBuf(a.events ++ b.events)
    def finish(b: EvBuf): Long = {
      val evs = b.events.sortBy(e => (e.ts, e.mask)).toArray
      if (maxGapMicros > 0L) return finishGap(evs)
      var matches = 0L
      var level = 0
      var lastTs = Long.MinValue
      var i = 0
      while (i < evs.length) {
        val e = evs(i)
        if (e.ts > lastTs && (e.mask & (1 << level)) != 0) {
          level += 1; lastTs = e.ts
          if (level == nConds) {
            matches += 1
            if (!returnCount) return 1L
            level = 0
          }
        }
        i += 1
      }
      if (returnCount) matches else 0L
    }
    private def finishGap(evs: Array[Ev]): Long = {
      val lat = Array.fill(nConds + 1)(Long.MinValue)
      var matches = 0L
      var i = 0
      while (i < evs.length) {
        val ts = evs(i).ts
        var j = i
        while (j < evs.length && evs(j).ts == ts) j += 1
        val upd = Array.fill(nConds + 1)(Long.MinValue)
        var k = i
        while (k < j) {
          val m = evs(k).mask
          var lv = 1
          while (lv <= nConds) {
            if ((m & (1 << (lv - 1))) != 0) {
              val ok = lv == 1 ||
                (lat(lv - 1) != Long.MinValue && ts - lat(lv - 1) <= maxGapMicros)
              if (ok) upd(lv) = ts
            }
            lv += 1
          }
          k += 1
        }
        var lv = 1
        while (lv <= nConds) { if (upd(lv) > lat(lv)) lat(lv) = upd(lv); lv += 1 }
        if (lat(nConds) != Long.MinValue) {
          if (!returnCount) return 1L
          matches += 1
          // non-overlapping: a completed match consumes its events, so
          // later matches must rebuild every level from later batches
          java.util.Arrays.fill(lat, Long.MinValue)
        }
        i = j
      }
      if (returnCount) matches else 0L
    }
    def bufferEncoder: Encoder[EvBuf] = ExpressionEncoder()
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** topn(item, k): heavy hitters, space-saving style with a capped
    * state (cap >> k bounds memory at any group cardinality; exact when
    * distinct items per group <= cap). Deterministic ties: count desc,
    * then item asc. */
  class TopNAgg(k: Int, cap: Int) extends Aggregator[String, Map[String, Long], Seq[ItemCnt]] {
    def zero: Map[String, Long] = Map.empty
    private def trim(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= cap) m
      else m.toSeq.sortBy { case (it, c) => (-c, it) }.take(cap).toMap
    def reduce(b: Map[String, Long], v: String): Map[String, Long] =
      if (v == null) b else trim(b.updated(v, b.getOrElse(v, 0L) + 1L))
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      trim(b.foldLeft(a) { case (m, (it, c)) => m.updated(it, m.getOrElse(it, 0L) + c) })
    def finish(b: Map[String, Long]): Seq[ItemCnt] =
      b.toSeq.sortBy { case (it, c) => (-c, it) }.take(k).map { case (it, c) => ItemCnt(it, c) }
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[ItemCnt]] = ExpressionEncoder()
  }

  /** topn_weighted(item, weight, k): top items by SUM of weight
    * (reference: aggregate_function_topn.h TopNWeighted variant) —
    * same capped space-saving state as TopNAgg, exact when distinct
    * items per group <= cap. Ties: weight desc, then item asc. */
  class TopNWeightedAgg(k: Int, cap: Int)
      extends Aggregator[ItemCnt, Map[String, Long], Seq[ItemCnt]] {
    def zero: Map[String, Long] = Map.empty
    private def trim(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= cap) m
      else m.toSeq.sortBy { case (it, c) => (-c, it) }.take(cap).toMap
    def reduce(b: Map[String, Long], v: ItemCnt): Map[String, Long] =
      if (v == null || v.item == null) b
      else trim(b.updated(v.item, b.getOrElse(v.item, 0L) + v.cnt))
    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      trim(b.foldLeft(a) { case (m, (it, c)) => m.updated(it, m.getOrElse(it, 0L) + c) })
    def finish(b: Map[String, Long]): Seq[ItemCnt] =
      b.toSeq.sortBy { case (it, c) => (-c, it) }.take(k).map { case (it, c) => ItemCnt(it, c) }
    def bufferEncoder: Encoder[Map[String, Long]] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[ItemCnt]] = ExpressionEncoder()
  }

  /** product agg (reference: aggregate_function_product.*). */
  class ProductAgg extends Aggregator[Double, Double, Double] {
    def zero: Double = 1.0
    def reduce(b: Double, v: Double): Double = b * v
    def merge(a: Double, b: Double): Double = a * b
    def finish(b: Double): Double = b
    def bufferEncoder: Encoder[Double] = Encoders.scalaDouble
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  def udfs: Seq[(String, UserDefinedFunction)] = {
    val evEnc: Encoder[Ev] = ExpressionEncoder()
    Seq(
      // 3-cond variants bound to the common funnel shapes; windows in micros.
      "window_funnel_3d" -> udaf(new WindowFunnelAgg(3L * 24 * 3600 * 1000000, 3), evEnc),
      "window_funnel_1h" -> udaf(new WindowFunnelAgg(3600L * 1000000, 3), evEnc),
      "window_funnel_3d_dedup" ->
        udaf(new WindowFunnelAgg(3L * 24 * 3600 * 1000000, 3, FunnelMode.Dedup), evEnc),
      "window_funnel_3d_fixed" ->
        udaf(new WindowFunnelAgg(3L * 24 * 3600 * 1000000, 3, FunnelMode.Fixed), evEnc),
      "window_funnel_3d_increase" ->
        udaf(new WindowFunnelAgg(3L * 24 * 3600 * 1000000, 3, FunnelMode.Increase), evEnc),
      "retention3" -> udaf(new RetentionAgg(3), Encoders.scalaInt),
      "sequence_match2" -> udaf(new SequenceAgg(2, false), evEnc),
      "sequence_count2" -> udaf(new SequenceAgg(2, true), evEnc),
      "sequence_match3" -> udaf(new SequenceAgg(3, false), evEnc),
      "sequence_count3" -> udaf(new SequenceAgg(3, true), evEnc),
      "sequence_match2_1h" -> udaf(new SequenceAgg(2, false, 3600L * 1000000), evEnc),
      "sequence_match3_1h" -> udaf(new SequenceAgg(3, false, 3600L * 1000000), evEnc),
      "topn5" -> udaf(new TopNAgg(5, 4096), Encoders.STRING),
      "topn_weighted5" -> udaf(new TopNWeightedAgg(5, 4096), ExpressionEncoder[ItemCnt]()),
      "product_agg" -> udaf(new ProductAgg, Encoders.scalaDouble))
  }
}
