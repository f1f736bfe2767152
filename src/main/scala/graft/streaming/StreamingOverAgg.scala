package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.OutputMode

case class OverEmit(key: Long, id: Long, tsMicros: Long, frameSum: BigDecimal, nInFrame: Int)

/** Streaming OVER aggregation (SURVEY.md §2.5 —
  * RowTimeRowsBoundedPrecedingFunction.java semantics): per-key
  * ROWS BETWEEN k PRECEDING AND CURRENT ROW aggregate in event-time
  * order, one row per event once the watermark makes it final
  * ([[WatermarkFold]]: maturity, (ts, id) order, timer, eviction).
  *
  * The accumulator is the frame tail, the last k + 1 released values,
  * so state is bounded. Sums are computed in BigDecimal(scale 2) so
  * emission is exact and order-independent (oracle-comparable).
  */
object StreamingOverAgg {
  private[streaming] def roundCents(v: Double): BigDecimal =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)

  def apply(spark: SparkSession, events: Dataset[GEvent], kPreceding: Int,
            watermarkDelay: String = "1 minute"): Dataset[OverEmit] =
    WatermarkFold(events, watermarkDelay, init = List.empty[Double]) { (tail, e) =>
      val frame = (e.value :: tail).take(kPreceding + 1)
      (frame, Some(OverEmit(e.key, e.id, e.tsMicros, frame.map(roundCents).sum, frame.size)))
    }
}

/** UNBOUNDED PRECEDING variant (SURVEY.md §2.5 —
  * RowTimeRowsUnboundedPrecedingFunction.java semantics): per-key
  * running aggregate over ALL rows up to the current one in
  * (event-time, id) order, released by [[WatermarkFold]]. The
  * accumulator is O(1), a running sum in integer cents (values are
  * 2-dp money, so the sum is exact) and a count: the smallest state
  * footprint of the over family, no frame tail at all.
  */
object StreamingUnboundedOverAgg {
  def apply(spark: SparkSession, events: Dataset[GEvent],
            watermarkDelay: String = "1 minute"): Dataset[OverEmit] =
    WatermarkFold(events, watermarkDelay, init = (0L, 0)) { case ((sumCents, n), e) =>
      val sum = sumCents + (StreamingOverAgg.roundCents(e.value) * 100).toLongExact
      ((sum, n + 1), Some(OverEmit(e.key, e.id, e.tsMicros, BigDecimal(sum) / 100, n + 1)))
    }
}

/** RANGE-frame variant (RowTimeRangeBoundedPrecedingFunction.java
  * semantics): per-key sum over events in [t − range, t], released by
  * [[WatermarkFold]]; the accumulator is the (ts, value) history
  * pruned to the range window, so state is bounded. Same-timestamp
  * peers are summed in (ts, id) release order — a peer with a higher
  * id is not yet visible to a lower-id row at the identical timestamp
  * (SQL RANGE frames include all peers; identical-timestamp keys
  * don't occur in the test data).
  */
object StreamingRangeOverAgg {
  def apply(spark: SparkSession, events: Dataset[GEvent], rangeMicros: Long,
            watermarkDelay: String = "1 minute"): Dataset[OverEmit] =
    WatermarkFold(events, watermarkDelay, init = List.empty[(Long, Double)]) { (history, e) =>
      val kept = ((e.tsMicros, e.value) :: history).filter(_._1 >= e.tsMicros - rangeMicros)
      val inFrame = kept.filter(_._1 <= e.tsMicros)
      (kept, Some(OverEmit(e.key, e.id, e.tsMicros,
        inFrame.map(h => StreamingOverAgg.roundCents(h._2)).sum, inFrame.size)))
    }
}

case class JoinEmit(key: Long, leftId: Long, rightId: Long)

/** Emitted by StreamingLeftOuterJoin: a changelog row — `+I` adds a
  * (left, right) pair or a null-padded left (rightId = -1), `-D`
  * retracts the pad when the left's first match arrives. Folding
  * additions minus retractions yields exactly the batch LEFT OUTER
  * JOIN (Changelog.fold semantics). */
case class OuterJoinEmit(key: Long, leftId: Long, rightId: Long,
                         _change_kind: String)

/** Unbounded stream-stream LEFT OUTER equi-join (SURVEY.md §2.3 —
  * the reference's StreamingJoinOperator.java outer mode: the left
  * row is emitted null-padded while unmatched, and the pad is
  * RETRACTED when its first match arrives). Spark has no per-row
  * RowKind, so the retraction rides the `_change_kind` column
  * convention; the changelog's fold is arrival-order invariant —
  * additions are the per-key cross product and every pad of a
  * matched left is retracted exactly once — so the folded result
  * equals the batch left outer join regardless of batching.
  *
  * It is [[StreamingFullOuterJoin]]'s fold with the right-side pads
  * off: a right that arrives before any left is buffered silently and
  * so is never retracted. `idleRetentionMicros` is the full-outer
  * eviction (evicted unmatched lefts keep their pad, the reference's
  * idle-state-retention trade).
  */
object StreamingLeftOuterJoin {
  /** `updateBefore = true` switches the pad replacement to the
    * reference's RETRACT mode (StreamingJoinOperator.java:277 emits
    * UPDATE_BEFORE/UPDATE_AFTER): the first match of a previously
    * null-padded left emits `-U (left, null)` then `+U (left, right)`
    * — an exact retraction pair for consumers that need RowKind
    * parity — while genuinely new pairs stay `+I`. The default keeps
    * the upsert-style `-D` pad delete. Folds are identical either
    * way: net (+I/+U) minus (-U/-D) per (key, leftId, rightId). */
  def apply(spark: SparkSession, left: Dataset[GEvent], right: Dataset[GEvent],
            idleRetentionMicros: Long = Long.MaxValue,
            updateBefore: Boolean = false): Dataset[OuterJoinEmit] =
    StreamingFullOuterJoin.fold(spark, left, right, idleRetentionMicros,
      rightPads = false, updateBefore)
}

/** Unbounded stream-stream FULL OUTER equi-join — the reference's
  * StreamingJoinOperator full-outer mode: BOTH sides emit null-padded
  * while unmatched (pad ids = -1), and each side's pad is retracted
  * when its first opposite-side row arrives. RIGHT OUTER is this
  * operator with the sides swapped (exactly how the reference plans
  * it). The fold (+I net of -D per pair) is arrival-order invariant
  * and equals the batch FULL OUTER JOIN.
  *
  * `idleRetentionMicros` is the reference's IDLE_STATE_RETENTION
  * trade, parity with the LEFT OUTER sibling: rows older than the
  * key's max event time minus the retention are evicted at the end of
  * each batch (evicted unmatched rows keep their pad), so both buffers
  * are bounded by the retention span instead of growing with the
  * stream. The prune runs at batch end, not per row: a later row of
  * the same batch still matches a row below the floor. As in
  * [[StreamingSymmetricJoin]], the span is measured from the key's own
  * latest row and no timer is set, so a key that goes idle keeps its
  * buffers.
  */
object StreamingFullOuterJoin {
  /** Both sides' buffered (ts, id, matched) rows. */
  private type Sides = (List[(Long, Long, Boolean)], List[(Long, Long, Boolean)])

  def apply(spark: SparkSession, left: Dataset[GEvent],
            right: Dataset[GEvent],
            idleRetentionMicros: Long = Long.MaxValue): Dataset[OuterJoinEmit] =
    fold(spark, left, right, idleRetentionMicros, rightPads = true,
      updateBefore = false)

  /** The outer-join changelog fold on [[ArrivalFold]], over [[Sides]].
    * Lefts are always padded; rights only with `rightPads`.
    * `updateBefore` replaces a left pad with the -U/+U pair instead of
    * -D/+I (right pads always retract as -D). */
  private[streaming] def fold(spark: SparkSession, left: Dataset[GEvent],
                              right: Dataset[GEvent], idleRetentionMicros: Long,
                              rightPads: Boolean,
                              updateBefore: Boolean): Dataset[OuterJoinEmit] = {
    import spark.implicits._
    val (leftDel, leftAdd) = if (updateBefore) ("-U", "+U") else ("-D", "+I")
    val tagged = left.map(_.copy(kind = "L")).union(right.map(_.copy(kind = "R")))
    val prune = (_: Long, _: Sides, now: Sides) =>
      if (idleRetentionMicros == Long.MaxValue) (now, Nil)
      else {
        val floor = (now._1 ++ now._2).map(_._1).max - idleRetentionMicros
        ((now._1.filter(_._1 >= floor), now._2.filter(_._1 >= floor)), Nil)
      }
    ArrivalFold[Long, Sides, OuterJoinEmit](tagged, _.key, OutputMode.Append,
        init = (Nil, Nil), batchEnd = prune) { case ((lefts, rights), e) =>
      val isLeft = e.kind == "L"
      def row(other: Long, kind: String) =
        if (isLeft) OuterJoinEmit(e.key, e.id, other, kind)
        else OuterJoinEmit(e.key, other, e.id, kind)
      val others = if (isLeft) rights else lefts
      val pad = if (others.isEmpty && (isLeft || rightPads)) List(row(-1L, "+I")) else Nil
      // an unmatched padded row's first match retracts its pad
      val matches = others.flatMap { case (_, o, matched) =>
        val padded = !matched && (!isLeft || rightPads)
        val retract =
          if (!padded) Nil
          else if (isLeft) List(OuterJoinEmit(e.key, -1L, o, "-D"))
          else List(OuterJoinEmit(e.key, o, -1L, leftDel))
        retract :+ row(o, if (padded && !isLeft) leftAdd else "+I")
      }
      val mine = (e.tsMicros, e.id, others.nonEmpty)
      val seen = others.map { case (ts, o, _) => (ts, o, true) }
      (if (isLeft) (mine :: lefts, seen) else (seen, mine :: rights), pad ++ matches)
    }
  }
}

/** Unbounded stream-stream equi-join (SURVEY.md §2.3 —
  * StreamingJoinOperator.java:36 semantics, inner variant): symmetric
  * hash in keyed state on [[ArrivalFold]]. Each arriving row joins the
  * buffered opposite side and is then buffered itself — no watermark
  * bound on matching (that is the point: Spark's native stream-stream
  * join requires a time bound; the reference's does not).
  *
  * `idleRetentionMicros` is the reference's IDLE_STATE_RETENTION knob:
  * rows older than the key's max event time minus the retention are
  * dropped before each row matches, so both buffers are bounded by the
  * retention span; Long.MaxValue (the default) keeps every row. The
  * span is measured from the key's own latest row and no timer is set,
  * so a key that goes idle keeps its buffers.
  */
object StreamingSymmetricJoin {
  def apply(spark: SparkSession, left: Dataset[GEvent], right: Dataset[GEvent],
            idleRetentionMicros: Long = Long.MaxValue): Dataset[JoinEmit] = {
    import spark.implicits._
    val tagged = left.map(_.copy(kind = "L")).union(right.map(_.copy(kind = "R")))
    // accumulator: the buffered (ts, id) lefts and rights, and the key's max ts
    val init = (List.empty[(Long, Long)], List.empty[(Long, Long)], Long.MinValue)
    ArrivalFold(tagged, _.key, OutputMode.Append, init) { case ((lefts, rights, maxTs), e) =>
      val top = maxTs max e.tsMicros
      val live: List[(Long, Long)] => List[(Long, Long)] =
        if (idleRetentionMicros == Long.MaxValue) identity
        else _.filter(_._1 >= top - idleRetentionMicros)
      val (ls, rs) = (live(lefts), live(rights))
      val me = (e.tsMicros, e.id)
      if (e.kind == "L") ((live(me :: ls), rs, top), rs.map(r => JoinEmit(e.key, e.id, r._2)))
      else ((ls, live(me :: rs), top), ls.map(l => JoinEmit(e.key, l._2, e.id)))
    }
  }
}
