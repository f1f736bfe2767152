package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The arrival-ordered keyed fold behind the operators that act on a
  * row when it arrives, not when the watermark makes it final: the
  * shape of the reference's AppendOnlyTopNFunction,
  * DeduplicateKeepLastRowFunction, StreamingJoinOperator and
  * TemporalProcessTimeJoinOperator (SURVEY.md §2.3, §2.6). The sibling
  * of [[WatermarkFold]]; an operator built on it supplies only its
  * per-row `step`, the accumulator's initial value `init` and, where it
  * needs one, a batch-end hook.
  *
  *  - Grouping: by `key`, in the caller's output `mode` (Update for
  *    operators that emit revisions, Append for the rest).
  *  - Release order: each micro-batch's rows of a key go through `step`
  *    in (tsMicros, id) order, so a batch's output does not depend on
  *    the order its rows arrived in; across batches the order is the
  *    arrival order. `step` threads the accumulator and emits any
  *    number of rows per row.
  *  - Batch end: `batchEnd(key, before, after)` sees the accumulator as
  *    the batch found it and as the rows left it, returns the one to
  *    store and may emit (one revision per batch, a retention prune).
  *  - Eviction: a key whose accumulator equals `init` keeps no state
  *    row. With `idle = Some((watermarkDelay, expiresAt))` the input is
  *    watermarked, an event-time timer fires at `expiresAt(acc)` and the
  *    key is removed once the watermark has reached it (idle-state
  *    retention, [[WatermarkFold]]'s timer arithmetic); without it no
  *    watermark is imposed and no timer is set.
  *
  * The state is the accumulator, restored from the checkpoint like any
  * keyed state ("State Management in Apache Flink", VLDB 2017), so a
  * restart resumes the fold where it stopped.
  */
private[streaming] object ArrivalFold {
  /** A key's state: the accumulator. */
  case class Keyed[A](acc: A)

  def apply[K: Encoder, A: TypeTag, O <: Product : TypeTag](
      events: Dataset[GEvent], key: GEvent => K, mode: OutputMode, init: A,
      idle: Option[(String, A => Long)] = None,
      batchEnd: (K, A, A) => (A, IterableOnce[O]) = (_: K, _: A, a: A) => (a, Nil))(
      step: (A, GEvent) => (A, IterableOnce[O])): Dataset[O] = {
    import events.sparkSession.implicits._
    val src = idle.fold(events)(i => events
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", i._1).as[GEvent])
    val timeout =
      if (idle.isDefined) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    src.groupByKey(key).flatMapGroupsWithState(mode, timeout) {
      (k: K, rows: Iterator[GEvent], state: GroupState[Keyed[A]]) =>
        val before = state.getOption.fold(init)(_.acc)
        var acc = before
        val out = rows.toSeq.sorted(WatermarkFold.byTsId).flatMap { e =>
          val (next, emitted) = step(acc, e)
          acc = next
          emitted
        }
        val (last, tail) = batchEnd(k, before, acc)
        val wmMs = idle.map(_ => state.getCurrentWatermarkMs())
        val expiry = idle.fold(Long.MaxValue)(_._2(last))
        if (last == init || wmMs.exists(_ * 1000L >= expiry)) {
          if (state.exists) state.remove()
        } else {
          state.update(Keyed(last))
          if (expiry != Long.MaxValue)
            wmMs.foreach(ms => state.setTimeoutTimestamp((expiry / 1000L + 1) max (ms + 1)))
        }
        out.iterator ++ tail
    }(Encoders.product[Keyed[A]], Encoders.product[O])
  }
}
