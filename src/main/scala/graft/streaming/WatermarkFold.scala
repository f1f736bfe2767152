package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The watermark-ordered keyed fold behind the event-time operators:
  * per-key state plus an event-time timer that releases buffered rows
  * in order, the shape of the reference's RowTimeSortOperator and
  * RowTime{Rows,Range}*PrecedingFunction (SURVEY.md §2.5, §2.6). An
  * operator built on it supplies only its per-row `step` and the
  * accumulator's initial value `init`.
  *
  *  - Maturity: a buffered row is final once `tsMicros <= watermark`.
  *    Spark drops rows older than the watermark before the operator,
  *    so no earlier row of the key can still arrive: the completeness
  *    contract of "Watermarks in Stream Processing Systems" (VLDB 2021).
  *    Rows not yet final stay buffered in the key's state.
  *  - Release order: the final rows go through `step` in `order`,
  *    (tsMicros, id) by default; [[rightsFirst]] puts an "R"-kind row
  *    before the lefts of its timestamp. `step` threads the accumulator
  *    and emits any number of rows per released row.
  *  - Timer: while rows are pending, an event-time timer at watermark
  *    + 1 ms releases them on the next micro-batch even if the key sees
  *    no more traffic; with none pending it is set at `expiresAt(acc)`,
  *    if the accumulator has a finite expiry.
  *  - Eviction: the key's state is removed once nothing is pending and
  *    either the accumulator equals `init` (the state holds nothing a
  *    fresh key would not) or the watermark has reached
  *    `expiresAt(acc)` (idle-state retention; never by default).
  *
  * The state is the accumulator plus the pending rows, restored from
  * the checkpoint like any keyed state ("State Management in Apache
  * Flink", VLDB 2017), so a restart resumes the fold where it stopped.
  */
private[streaming] object WatermarkFold {
  /** A key's state: the accumulator and the rows not yet final. */
  case class Keyed[A](acc: A, pending: List[GEvent])

  val byTsId: Ordering[GEvent] = Ordering.by(e => (e.tsMicros, e.id))
  /** (tsMicros, id) with rights first at a tie: a right at the same
    * event time as a left is visible to it. */
  val rightsFirst: Ordering[GEvent] = Ordering.by(e => (e.tsMicros, e.kind != "R", e.id))

  /** `ts + retention` saturating at Long.MaxValue: a large finite
    * retention near the sentinel must mean "practically never", not
    * wrap negative and evict the key's state immediately. */
  def expiry(ts: Long, retentionMicros: Long): Long =
    if (retentionMicros > Long.MaxValue - ts) Long.MaxValue
    else ts + retentionMicros

  def apply[A: TypeTag, O <: Product : TypeTag](
      events: Dataset[GEvent], watermarkDelay: String, init: A,
      order: Ordering[GEvent] = byTsId,
      expiresAt: A => Long = (_: A) => Long.MaxValue)(
      step: (A, GEvent) => (A, IterableOnce[O])): Dataset[O] = {
    import events.sparkSession.implicits._
    events
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", watermarkDelay)
      .as[GEvent]
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[GEvent], state: GroupState[Keyed[A]]) =>
          val cur = state.getOption.getOrElse(Keyed(init, Nil))
          val wmMs = state.getCurrentWatermarkMs()
          val (mature, pending) =
            (cur.pending ++ rows).partition(_.tsMicros <= wmMs * 1000L)
          var acc = cur.acc
          val out = mature.sorted(order).flatMap { e =>
            val (next, emitted) = step(acc, e)
            acc = next
            emitted
          }
          val expiry = expiresAt(acc)
          if (pending.isEmpty && (acc == init || wmMs * 1000L >= expiry)) {
            if (state.exists) state.remove()
          } else {
            state.update(Keyed(acc, pending))
            if (pending.nonEmpty) state.setTimeoutTimestamp(wmMs + 1)
            else if (expiry != Long.MaxValue)
              state.setTimeoutTimestamp((expiry / 1000L + 1) max (wmMs + 1))
          }
          out.iterator
      }(Encoders.product[Keyed[A]], Encoders.product[O])
  }
}
