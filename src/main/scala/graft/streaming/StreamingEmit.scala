package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Emitted by StreamingTemporalSort: rows released in event-time order
  * as the watermark passes them; emitSeq is the per-key emission
  * position (contiguous from 1). */
case class SortEmit(key: Long, id: Long, tsMicros: Long, emitSeq: Long)

/** Streaming temporal sort (SURVEY.md §2.6 —
  * operators/sort/RowTimeSortOperator.java:43 / StreamSortOperator
  * .java:50): out-of-order rows are buffered per key and released
  * sorted by (event time, id) once the watermark passes them — the
  * [[WatermarkFold]] itself, with the emitted count as accumulator.
  */
object StreamingTemporalSort {
  def apply(spark: SparkSession, ds: Dataset[GEvent],
            watermarkDelay: String = "1 minute"): Dataset[SortEmit] =
    WatermarkFold(ds, watermarkDelay, init = 0L) { (emitted, e) =>
      (emitted + 1, Some(SortEmit(e.key, e.id, e.tsMicros, emitted + 1)))
    }
}

/** Emitted by StreamingConnect: data events in watermark-matured
  * event-time order, flagged with the per-key gate state set by the
  * control events seen before them. */
case class ConnectEmit(key: Long, id: Long, tsMicros: Long, muted: Boolean)

/** connect / CoProcessFunction analog (SURVEY.md §2.9 —
  * DataStream.java:259 connect + CoProcessFunction): a control stream
  * and a data stream share keyed state. Here both arrive as one keyed
  * stream; control kinds toggle a per-key gate (`controlOn` mutes,
  * `controlOff` unmutes) and every other kind is emitted with the gate
  * state in force when it occurred. Events are released by
  * [[WatermarkFold]] in (event-time, id) order, so control/data
  * interleaving is deterministic — the two-input operator's
  * processElement1/processElement2 race resolved by event time.
  */
object StreamingConnect {
  def apply(spark: SparkSession, ds: Dataset[GEvent], controlOn: String,
            controlOff: String,
            watermarkDelay: String = "1 minute"): Dataset[ConnectEmit] =
    WatermarkFold(ds, watermarkDelay, init = false) { (muted, e) =>
      if (e.kind == controlOn) (true, None)
      else if (e.kind == controlOff) (false, None)
      else (muted, Some(ConnectEmit(e.key, e.id, e.tsMicros, muted)))
    }
}

/** Input/output rows of the late-fire window aggregate. */
case class WEvent(key: String, tsMicros: Long, id: Long)
case class WindowFire(key: String, wstartMicros: Long, phase: String,
                      fireSeq: Int, n: Long)

/** Tumbling-window count with EARLY / ON-TIME / LATE firing and
  * allowed lateness (SURVEY.md §2.9 —
  * plan/utils/WindowEmitStrategy.scala:33-40, WindowedStream.java:159
  * allowedLateness / :178 sideOutputLateData).
  *
  * Emission contract per (key, window):
  *  - early: once per micro-batch while the window is still open,
  *    whenever its count changed (AFTER_DELAY-style accumulating
  *    preview);
  *  - ontime: exactly once when the TRUE watermark passes window end;
  *  - late: once per micro-batch after the on-time fire when a
  *    late-but-within-lateness row changed the count (accumulating
  *    re-fire);
  * fireSeq numbers the fires per (key, window) from 0.
  *
  * Watermark budget: Spark drops rows older than ITS watermark before
  * a stateful operator runs, so the stream declares a watermark of
  * (delay + lateness) and the operator fires against the TRUE
  * watermark = spark watermark + lateness. A row is then dropped by
  * Spark exactly when it is later than the allowed lateness — the
  * reference's side-output boundary — while window state survives
  * until true-wm ≥ end + lateness, the reference's cleanup time.
  */
object StreamingLateFireWindow {
  case class WState(counts: Map[Long, Long], lastFired: Map[Long, Long],
                    fireSeqs: Map[Long, Int], ontimeDone: Set[Long])

  def apply(spark: SparkSession, ds: Dataset[WEvent], windowMicros: Long,
            watermarkDelayWithLateness: String,
            latenessMicros: Long): Dataset[WindowFire] = {
    import spark.implicits._
    val withTs = ds
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", watermarkDelayWithLateness)
      .as[WEvent]
    withTs.groupByKey(_.key).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: String, rows: Iterator[WEvent], state: GroupState[WState]) =>
        val cur = state.getOption.getOrElse(
          WState(Map.empty, Map.empty, Map.empty, Set.empty))
        var counts = cur.counts
        rows.foreach { e =>
          val w = e.tsMicros - math.floorMod(e.tsMicros, windowMicros)
          counts = counts.updated(w, counts.getOrElse(w, 0L) + 1L)
        }
        val sparkWm = state.getCurrentWatermarkMs() * 1000L
        // spark-wm 0 is the pre-data floor, not (max − delay − lateness);
        // adding the lateness budget to it would fabricate progress.
        val trueWm = if (sparkWm == 0L) 0L else sparkWm + latenessMicros
        var lastFired = cur.lastFired
        var fireSeqs = cur.fireSeqs
        var ontimeDone = cur.ontimeDone
        val out = counts.keys.toList.sorted.flatMap { w =>
          val end = w + windowMicros
          val n = counts(w)
          def fire(phase: String): Option[WindowFire] = {
            val seq = fireSeqs.getOrElse(w, 0)
            fireSeqs = fireSeqs.updated(w, seq + 1)
            lastFired = lastFired.updated(w, n)
            Some(WindowFire(key, w, phase, seq, n))
          }
          if (end > trueWm) {
            if (!lastFired.get(w).contains(n)) fire("early") else None
          } else if (!ontimeDone(w)) {
            ontimeDone += w
            fire("ontime")
          } else if (!lastFired.get(w).contains(n)) {
            fire("late")
          } else None
        }
        // cleanup: spark-wm ≥ end ⇔ true-wm ≥ end + lateness
        val dead = counts.keys.filter(_ + windowMicros <= sparkWm).toSet
        state.update(WState(counts -- dead, lastFired -- dead,
          fireSeqs -- dead, ontimeDone -- dead))
        if ((counts.keySet -- dead).nonEmpty)
          state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + 1)
        out.iterator
    }
  }
}
