package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

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
  * key's max event time minus the retention are evicted after each
  * batch (evicted unmatched rows keep their pad), so both buffers are
  * bounded by the retention span instead of growing with the stream.
  */
object StreamingFullOuterJoin {
  /** Both sides' buffered (ts, id, matched) rows. */
  case class State(lefts: List[(Long, Long, Boolean)],
                   rights: List[(Long, Long, Boolean)])

  def apply(spark: SparkSession, left: Dataset[GEvent],
            right: Dataset[GEvent],
            idleRetentionMicros: Long = Long.MaxValue): Dataset[OuterJoinEmit] =
    fold(spark, left, right, idleRetentionMicros, rightPads = true,
      updateBefore = false)

  /** The outer-join changelog fold. Lefts are always padded; rights
    * only with `rightPads`. `updateBefore` replaces a left pad with the
    * -U/+U pair instead of -D/+I (right pads always retract as -D). */
  private[streaming] def fold(spark: SparkSession, left: Dataset[GEvent],
                              right: Dataset[GEvent], idleRetentionMicros: Long,
                              rightPads: Boolean,
                              updateBefore: Boolean): Dataset[OuterJoinEmit] = {
    import spark.implicits._
    val (leftDel, leftAdd) = if (updateBefore) ("-U", "+U") else ("-D", "+I")
    val tagged = left.map(_.copy(kind = "L")).union(right.map(_.copy(kind = "R")))
    tagged.groupByKey(_.key).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: Long, rows: Iterator[GEvent], state: GroupState[State]) =>
        var st = state.getOption.getOrElse(State(Nil, Nil))
        val out = scala.collection.mutable.ListBuffer.empty[OuterJoinEmit]
        var maxTs = (st.lefts.map(_._1) ++ st.rights.map(_._1))
          .foldLeft(Long.MinValue)(_ max _)
        rows.toSeq.sortBy(e => (e.tsMicros, e.id)).foreach { e =>
          maxTs = maxTs max e.tsMicros
          val isLeft = e.kind == "L"
          def row(other: Long, kind: String) =
            if (isLeft) OuterJoinEmit(key, e.id, other, kind)
            else OuterJoinEmit(key, other, e.id, kind)
          val others = if (isLeft) st.rights else st.lefts
          if (others.isEmpty && (isLeft || rightPads)) out += row(-1L, "+I")
          // an unmatched padded row's first match retracts its pad
          others.foreach { case (_, o, matched) =>
            val padded = !matched && (!isLeft || rightPads)
            if (padded) out += (if (isLeft) OuterJoinEmit(key, -1L, o, "-D")
              else OuterJoinEmit(key, o, -1L, leftDel))
            out += row(o, if (padded && !isLeft) leftAdd else "+I")
          }
          val mine = (e.tsMicros, e.id, others.nonEmpty)
          val seen = others.map { case (ts, o, _) => (ts, o, true) }
          st = if (isLeft) State(mine :: st.lefts, seen) else State(seen, mine :: st.rights)
        }
        if (idleRetentionMicros != Long.MaxValue) {
          val floor = maxTs - idleRetentionMicros
          st = State(st.lefts.filter(_._1 >= floor),
            st.rights.filter(_._1 >= floor))
        }
        if (st.lefts.isEmpty && st.rights.isEmpty) {
          if (state.exists) state.remove()
        } else state.update(st)
        out.iterator
    }
  }
}

/** Unbounded stream-stream equi-join (SURVEY.md §2.3 —
  * StreamingJoinOperator.java:36 semantics, inner variant): symmetric
  * hash in keyed state. Each arriving row joins the full buffered
  * opposite side and is then buffered itself — no watermark bound on
  * matching (that is the point: Spark's native stream-stream join
  * requires a time bound; the reference's does not).
  *
  * State grows with the inputs; production deployments bound it with
  * idle-state retention (the reference's
  * ExecutionConfigOptions#IDLE_STATE_RETENTION) — a TTL sweep on
  * tsMicros can be added to the state update without changing the
  * emission logic.
  */
object StreamingSymmetricJoin {
  case class State(lefts: List[(Long, Long)], rights: List[(Long, Long)])

  /** idleRetentionMicros: rows older than (max event time seen in the
    * key's state − retention) are evicted before matching — the
    * reference's IDLE_STATE_RETENTION knob; Long.MaxValue = keep all. */
  def apply(spark: SparkSession, left: Dataset[GEvent], right: Dataset[GEvent],
            idleRetentionMicros: Long = Long.MaxValue): Dataset[JoinEmit] = {
    import spark.implicits._
    val tagged = left.map(_.copy(kind = "L")).union(right.map(_.copy(kind = "R")))
    tagged.groupByKey(_.key).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: Long, rows: Iterator[GEvent], state: GroupState[State]) =>
        var st = state.getOption.getOrElse(State(Nil, Nil))
        val out = scala.collection.mutable.ListBuffer.empty[JoinEmit]
        var maxTs = (st.lefts ++ st.rights).map(_._1).foldLeft(Long.MinValue)(_ max _)
        // process in deterministic order within the batch
        rows.toSeq.sortBy(e => (e.tsMicros, e.id)).foreach { e =>
          maxTs = maxTs max e.tsMicros
          val floor = if (idleRetentionMicros == Long.MaxValue) Long.MinValue
                      else maxTs - idleRetentionMicros
          if (e.kind == "L") {
            st.rights.foreach { case (ts, r) =>
              if (ts >= floor) out += JoinEmit(key, e.id, r) }
            st = st.copy(lefts = (e.tsMicros, e.id) :: st.lefts)
          } else {
            st.lefts.foreach { case (ts, l) =>
              if (ts >= floor) out += JoinEmit(key, l, e.id) }
            st = st.copy(rights = (e.tsMicros, e.id) :: st.rights)
          }
        }
        // evict dead state so it stays bounded under retention
        if (idleRetentionMicros != Long.MaxValue) {
          val floor = maxTs - idleRetentionMicros
          st = State(st.lefts.filter(_._1 >= floor), st.rights.filter(_._1 >= floor))
        }
        state.update(st)
        out.iterator
    }
  }
}
