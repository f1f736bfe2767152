package graft.streaming

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Canonical keyed event shape used by the stateful streaming
  * operators (micros since epoch for event time — exact arithmetic in
  * state, converted to TimestampType at the edges). */
case class GEvent(key: Long, tsMicros: Long, id: Long, kind: String, value: Double)

/** Emitted by StreamingTopN: the [startRank, n] SLICE snapshot per
  * state revision (the full top-n when startRank = 1, the default;
  * ranks below a RANGE's start are buffered but never emitted);
  * `emitSeq` is the per-key revision — folding to max(emitSeq) yields
  * the final ranking (the changelog-fold convention for Spark's
  * missing per-row RowKind, SURVEY.md §7.2). */
case class TopNEmit(key: Long, rank: Int, id: Long, value: Double, emitSeq: Long)

case class AsOfEmit(key: Long, leftId: Long, leftTsMicros: Long,
                    rightId: Long, rightTsMicros: Long, matched: Boolean)

case class CepEmit(key: Long, aId: Long, aTsMicros: Long, bId: Long, bTsMicros: Long)

/** Streaming Top-N (SURVEY.md §2.6 — StreamExecRank's
  * AppendOnlyTopNFunction.java:48 semantics): per-key sorted buffer in
  * keyed state; emits a revised top-n snapshot whenever it changes.
  * State is bounded at n entries per key by construction.
  */
object StreamingTopN {
  case class State(seq: Long, top: List[(Double, Long)])

  /** idleRetentionMicros bounds state by KEY liveness (the reference's
    * ExecutionConfigOptions idle-state-retention): a key receiving no
    * rows for the retention interval past the watermark is evicted via
    * EventTimeTimeout — without it, per-key state is bounded at n rows
    * but the key set itself grows without bound. Long.MaxValue (the
    * default) keeps the original no-timeout behavior for feeds with
    * fixed key cardinality.
    *
    * `startRank` (r10 — the reference's RankRange,
    * runtime/operators/rank/AbstractTopNFunction rankStart/rankEnd:
    * `rn > lo AND rn <= hi` selects ranks lo+1..hi): the buffer still
    * holds the full top-`n` (displacement above the range moves rows
    * INTO it), but revisions emit — and `emitSeq` advances — only when
    * the ranks-startRank..n SLICE changes. */
  def apply(spark: SparkSession, ds: Dataset[GEvent], n: Int,
            idleRetentionMicros: Long = Long.MaxValue,
            watermarkDelay: String = "10 seconds",
            startRank: Int = 1): Dataset[TopNEmit] = {
    import spark.implicits._
    require(startRank >= 1 && startRank <= n,
      s"rank range start $startRank outside [1, $n]")
    val ttl = idleRetentionMicros != Long.MaxValue
    // EventTimeTimeout needs a watermarked input; the no-TTL path must
    // not impose one (st4 feeds an unwatermarked stream).
    val src = if (ttl)
      ds.withColumn("ts", timestamp_micros(col("tsMicros")))
        .withWatermark("ts", watermarkDelay).as[GEvent]
    else ds
    val timeoutConf =
      if (ttl) GroupStateTimeout.EventTimeTimeout else GroupStateTimeout.NoTimeout
    src.groupByKey(_.key).flatMapGroupsWithState(
        OutputMode.Update, timeoutConf) {
      (key: Long, rows: Iterator[GEvent], state: GroupState[State]) =>
        if (ttl && state.hasTimedOut) {
          state.remove() // idle past retention: drop the key's buffer
          Iterator.empty
        } else {
          val cur = state.getOption.getOrElse(State(0L, Nil))
          var top = cur.top
          var lastActivityMicros = Long.MinValue
          rows.foreach { r =>
            lastActivityMicros = lastActivityMicros max r.tsMicros
            top = ((r.value, r.id) :: top)
              .sortBy { case (v, id) => (-v, id) }.take(n)
          }
          val bufChanged = top != cur.top
          // a revision is a change of the EMITTED slice; the buffer
          // below startRank must still persist (it defines
          // displacement into the range)
          val sliceChanged =
            top.drop(startRank - 1) != cur.top.drop(startRank - 1)
          val ns = State(if (sliceChanged) cur.seq + 1 else cur.seq, top)
          if (bufChanged) state.update(ns)
          if (ttl && state.exists) {
            // evict when the watermark passes last activity + retention
            // (must stay above the current watermark to be settable)
            val fireMs = (lastActivityMicros / 1000L) + (idleRetentionMicros / 1000L)
            state.setTimeoutTimestamp(fireMs max (state.getCurrentWatermarkMs() + 1))
          }
          if (sliceChanged)
            top.zipWithIndex.iterator.drop(startRank - 1)
              .map { case ((v, id), i) =>
                TopNEmit(key, i + 1, id, v, ns.seq)
              }
          else Iterator.empty
        }
    }
  }
}

/** Emitted by StreamingDedupKeepFirst: the event-time-first row of
  * each (key[, kind]) group, exactly once, at watermark maturity. */
case class DedupEmit(key: Long, kind: String, id: Long, tsMicros: Long,
                     value: Double)

/** Streaming keep-first deduplication on EVENT TIME (SURVEY.md §2.6 —
  * the reference's rowtime dedup,
  * `operators/deduplicate/DeduplicateKeepFirstRowFunction.java`):
  * emit the (tsMicros, id)-minimal row per group exactly once, when
  * the watermark passes its timestamp — at that point no earlier row
  * can still arrive (older-than-watermark input is dropped before the
  * operator), so the emission equals the batch
  * `row_number() OVER (ORDER BY ts, id) = 1` row. Append-mode output;
  * `dropDuplicates` (arrival-order keep-first) is NOT equivalent on a
  * multi-partition source — which row arrives first is a race.
  *
  * State: one candidate row per group until maturity, then a
  * tombstone so later rows stay suppressed. `idleRetentionMicros`
  * evicts the tombstone after the watermark passes the emitted
  * timestamp by the retention span (the idle-state-retention trade:
  * a very late duplicate arriving after eviction would re-emit).
  *
  * Boundary convention: maturity is `ts <= watermark`, matching the
  * oracles' `ts <= wm` bookkeeping (and the final-watermark flush of
  * a bounded run). Spark's late filter drops only rows STRICTLY older
  * than the watermark, so a row with ts EXACTLY equal to the current
  * watermark could in principle arrive after the boundary batch and
  * lose to an equal-timestamp candidate already emitted — the same
  * at-the-watermark tie every watermark consumer here (and the
  * reference's window firing) resolves in favor of finality.
  */
object StreamingDedupKeepFirst {
  case class State(ts: Long, id: Long, value: Double, emitted: Boolean)

  /** `ts + retention` saturating at Long.MaxValue: a large finite
    * retention near the sentinel must mean "practically never", not
    * wrap negative and evict the tombstone immediately. */
  private def matureAt(ts: Long, retentionMicros: Long): Long =
    if (retentionMicros > Long.MaxValue - ts) Long.MaxValue
    else ts + retentionMicros

  def apply(spark: SparkSession, ds: Dataset[GEvent], byKind: Boolean,
            watermarkDelay: String = "1 minute",
            idleRetentionMicros: Long = Long.MaxValue): Dataset[DedupEmit] = {
    import spark.implicits._
    val withTs = ds
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", watermarkDelay)
      .as[GEvent]
    withTs.groupByKey(e => (e.key, if (byKind) e.kind else ""))
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (gk: (Long, String), rows: Iterator[GEvent], state: GroupState[State]) =>
        val wm = state.getCurrentWatermarkMs() * 1000L
        val cur = state.getOption
        if (cur.exists(_.emitted)) {
          // tombstone: suppress post-emission rows; evict on retention
          rows.foreach(_ => ())
          if (idleRetentionMicros != Long.MaxValue) {
            val s = cur.get
            val evictAt = matureAt(s.ts, idleRetentionMicros)
            if (wm >= evictAt) state.remove()
            else state.setTimeoutTimestamp(
              (evictAt / 1000L + 1)
                max (state.getCurrentWatermarkMs() + 1))
          }
          Iterator.empty
        } else {
          var cand = cur.map(s => (s.ts, s.id, s.value))
          rows.foreach { e =>
            val earlier = cand.forall(c =>
              e.tsMicros < c._1 || (e.tsMicros == c._1 && e.id < c._2))
            if (earlier) cand = Some((e.tsMicros, e.id, e.value))
          }
          cand match {
            case Some((ts, id, v)) if ts <= wm =>
              // matured: no earlier row can arrive — emit exactly once
              state.update(State(ts, id, v, emitted = true))
              if (idleRetentionMicros != Long.MaxValue)
                state.setTimeoutTimestamp(
                  (matureAt(ts, idleRetentionMicros) / 1000L + 1)
                    max (state.getCurrentWatermarkMs() + 1))
              Iterator.single(DedupEmit(gk._1, gk._2, id, ts, v))
            case Some((ts, id, v)) =>
              state.update(State(ts, id, v, emitted = false))
              // flush on the no-data batch once the watermark matures us
              state.setTimeoutTimestamp(
                (ts / 1000L + 1) max (state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            case None => Iterator.empty
          }
        }
    }
  }
}

/** Emitted by StreamingDedupKeepLast: the current event-time-latest
  * row of a (key[, kind]) group; emitSeq is the per-group revision —
  * folding to max(emitSeq) yields the final keep-last row (the
  * changelog-fold convention for Spark's missing RowKind). */
case class DedupLastEmit(key: Long, kind: String, id: Long, tsMicros: Long,
                         value: Double, emitSeq: Long)

/** Streaming keep-LAST deduplication (SURVEY.md §2.6 — the
  * reference's `DeduplicateKeepLastRowFunction.java:34`): state holds
  * only the (tsMicros, id)-maximal row per group; a newer arrival
  * replaces it and emits a new revision immediately (no watermark
  * wait — keep-last is an update stream, exactly the reference's
  * semantics). Within a micro-batch only the newest row emits (the
  * reference's minibatch dedup). The changelog folds deterministically:
  * max(emitSeq) per group is the event-time-maximal row regardless of
  * arrival order. State: one row per group, bounded by group count.
  */
object StreamingDedupKeepLast {
  case class State(ts: Long, id: Long, value: Double, seq: Long)

  def apply(spark: SparkSession, ds: Dataset[GEvent],
            byKind: Boolean): Dataset[DedupLastEmit] = {
    import spark.implicits._
    ds.groupByKey(e => (e.key, if (byKind) e.kind else ""))
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
      (gk: (Long, String), rows: Iterator[GEvent], state: GroupState[State]) =>
        val cur = state.getOption
        var best = cur.map(s => (s.ts, s.id, s.value))
        rows.foreach { e =>
          val newer = best.forall(b =>
            e.tsMicros > b._1 || (e.tsMicros == b._1 && e.id > b._2))
          if (newer) best = Some((e.tsMicros, e.id, e.value))
        }
        best match {
          case Some((ts, id, v))
              if cur.forall(s => ts != s.ts || id != s.id) =>
            val seq = cur.map(_.seq).getOrElse(0L) + 1
            state.update(State(ts, id, v, seq))
            Iterator.single(DedupLastEmit(gk._1, gk._2, id, ts, v, seq))
          case _ => Iterator.empty
        }
    }
  }
}

/** Streaming as-of (temporal) join — TemporalRowTimeJoinOperator.java:70
  * semantics: when the watermark passes a left row's time, join it to
  * the latest right version at or before it. Both sides are released
  * by [[WatermarkFold]], rights before lefts at equal event time; the
  * accumulator keeps only the latest released right version, so state
  * is bounded and watermark-driven.
  *
  * Late-data rule: rows older than the watermark are dropped by Spark
  * before reaching the operator (EventTimeTimeout path) — identical to
  * the reference's late-record handling at the watermark boundary.
  */
object StreamingAsOfJoin {
  /** idleRetentionMicros: once the watermark passes a key's last
    * arrival by this much, the key's residual state (the buffered
    * latest right version) is evicted — the reference's idle-state
    * retention. As there, an eviction trades memory for correctness
    * on very-late lefts: they join as unmatched instead of the
    * evicted version. Long.MaxValue (default) never evicts. */
  def apply(spark: SparkSession, left: Dataset[GEvent], right: Dataset[GEvent],
            watermarkDelay: String = "10 minutes",
            idleRetentionMicros: Long = Long.MaxValue): Dataset[AsOfEmit] = {
    import spark.implicits._
    val tagged = left.map(e => e.copy(kind = "L"))
      .union(right.map(e => e.copy(kind = "R")))
    // accumulator: the latest right (ts, id), and the key's last event
    // time; with no right there is nothing to keep once lefts drain
    val init: (Option[(Long, Long)], Long) = (None, Long.MinValue)
    val expiresAt = (a: (Option[(Long, Long)], Long)) =>
      if (a._1.isEmpty) Long.MinValue
      else if (idleRetentionMicros == Long.MaxValue) Long.MaxValue
      else a._2 + idleRetentionMicros
    WatermarkFold(tagged, watermarkDelay, init, WatermarkFold.rightsFirst,
        expiresAt) { case ((latest, last), e) =>
      val seen = last max e.tsMicros
      if (e.kind == "R") {
        val r = (e.tsMicros, e.id)
        ((Some(latest.fold(r)(Ordering[(Long, Long)].max(_, r))), seen), None)
      } else ((latest, seen), Some(latest match {
        case Some((rts, rid)) => AsOfEmit(e.key, e.id, e.tsMicros, rid, rts, matched = true)
        case None => AsOfEmit(e.key, e.id, e.tsMicros, -1L, -1L, matched = false)
      }))
    }
  }
}

/** Processing-time temporal join (SURVEY.md §2.3 —
  * TemporalProcessTimeJoinOperator.java:38 semantics): the right side
  * is a versioned table of which ONLY the latest version per key is
  * kept in state (each arriving right row replaces its predecessor —
  * no history, unlike the rowtime variant's buffered versions); each
  * arriving left row joins the version current AT ARRIVAL and emits
  * immediately — no watermark wait. This is the common streaming
  * dim-enrichment shape: state is one row per key, bounded by key
  * cardinality, not by time.
  *
  * Arrival order within a micro-batch is made deterministic by
  * processing rows in (tsMicros, id) order, so on an in-order feed
  * the result is oracle-checkable; across batches the semantics are
  * pure arrival order, exactly like the reference's proctime join.
  */
object StreamingProcTimeTemporalJoin {
  case class Version(tsMicros: Long, id: Long)

  def apply(spark: SparkSession, left: Dataset[GEvent],
            right: Dataset[GEvent]): Dataset[AsOfEmit] = {
    import spark.implicits._
    val tagged = left.map(_.copy(kind = "L")).union(right.map(_.copy(kind = "R")))
    tagged.groupByKey(_.key).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (key: Long, rows: Iterator[GEvent], state: GroupState[Version]) =>
        var cur = state.getOption
        val out = scala.collection.mutable.ListBuffer.empty[AsOfEmit]
        rows.toSeq.sortBy(e => (e.tsMicros, e.id)).foreach { e =>
          if (e.kind == "R") cur = Some(Version(e.tsMicros, e.id))
          else out += (cur match {
            case Some(v) => AsOfEmit(key, e.id, e.tsMicros, v.id, v.tsMicros, matched = true)
            case None    => AsOfEmit(key, e.id, e.tsMicros, -1L, -1L, matched = false)
          })
        }
        cur.foreach(state.update)
        out.iterator
    }
  }
}

/** Emitted by StreamingSemiAntiJoin: each matured left row with
  * whether a right-side row of the same key existed at (event-time ≤)
  * its timestamp — `matched` filters to SEMI, `!matched` to ANTI. */
case class SemiEmit(key: Long, id: Long, tsMicros: Long, matched: Boolean)

/** Streaming SEMI/ANTI join (SURVEY.md §2.3 — the reference's
  * StreamingSemiAntiJoinOperator.java: EXISTS / NOT EXISTS over an
  * unbounded stream). The reference emits a changelog (a left row's
  * membership retracts as the right side changes); this is the
  * event-time determinization of that changelog — each left row is
  * judged ONCE, at watermark maturity, against the rights with
  * `right.ts <= left.ts` (rows the stream had actually seen by the
  * left row's event time), so the append-mode output is deterministic
  * and batch-equal. Both sides are released by [[WatermarkFold]],
  * rights before lefts at equal event time, and the accumulator is
  * one flag, whether the key has released a right yet: no right-side
  * history is retained (plus the not-yet-mature buffer the watermark
  * bounds).
  */
object StreamingSemiAntiJoin {
  def apply(spark: SparkSession, left: Dataset[GEvent], right: Dataset[GEvent],
            watermarkDelay: String = "1 minute"): Dataset[SemiEmit] = {
    import spark.implicits._
    val tagged = left.map(_.copy(kind = "L")).union(right.map(_.copy(kind = "R")))
    WatermarkFold(tagged, watermarkDelay, init = false, WatermarkFold.rightsFirst) {
      (anyRight, e) =>
        if (e.kind == "R") (true, None)
        else (anyRight, Some(SemiEmit(e.key, e.id, e.tsMicros, anyRight)))
    }
  }
}

/** Streaming CEP "A followedBy B within T" (SURVEY.md §2.9 —
  * flink-cep NFA semantics for the relaxed-contiguity two-step
  * pattern): each A emits its earliest B. Both kinds are released by
  * [[WatermarkFold]] in (ts, id) order, so a B is judged once it is
  * final (B.ts <= watermark). The accumulator is the key's released,
  * still unmatched A's: an A is appended, a B matches every A of its
  * window (A.ts < B.ts < A.ts + within), and either drops the A's whose
  * window has closed by its time; the key expires `within` after its
  * latest A, so state is bounded by the window.
  */
object StreamingCEP {
  def apply(spark: SparkSession, events: Dataset[GEvent], aKind: String,
            bKind: String, withinMicros: Long,
            watermarkDelay: String = "10 minutes"): Dataset[CepEmit] = {
    import spark.implicits._
    WatermarkFold(events.filter(e => e.kind == aKind || e.kind == bKind),
        watermarkDelay, init = List.empty[(Long, Long)],
        expiresAt = (as: List[(Long, Long)]) =>
          as.lastOption.fold(Long.MinValue)(_._1 + withinMicros)) { (as, e) =>
      val live = as.filter(_._1 + withinMicros > e.tsMicros)
      if (e.kind == aKind) (live :+ (e.tsMicros -> e.id), Nil)
      else {
        val (hit, rest) = live.partition(_._1 < e.tsMicros)
        (rest, hit.map { case (ats, aid) => CepEmit(e.key, aid, ats, e.id, e.tsMicros) })
      }
    }
  }
}

/** Run a (bounded) streaming query to completion and return its output
  * as a named table — the MemoryStream/parquet harness used by both the
  * specs and the oracle-checked st* queries. Each micro-batch's output
  * stays on the executors as locally checkpointed blocks until the
  * caller collects it. */
object StreamRunner {
  /** Scratch root for the BOUNDED drives' checkpoint trees (offset/
    * commit WALs, file-source log, state-store deltas). These drives
    * are correctness harnesses, not durability claims — the queries
    * that DO claim durable recovery (st33's offline state read, st54's
    * exactly-once channel, ty17's keyed store) pass their own explicit
    * on-disk locations and are unaffected. For pure scratch, a RAM-
    * backed dir is the right default where one exists (guide §6:
    * checkpoint placement is an I/O-placement knob; measured warm
    * min-of-2 solos st1 1.63→1.54, st3 2.51→2.34, st11 3.12→2.83,
    * st14 1.55→1.51 s — ~6% per bounded drive from the offset/commit/
    * state-delta writes). Parameterised: SPARK_GRAFT_STREAM_CKPT_ROOT
    * overrides (a cluster deployment would point checkpoints at
    * HDFS/object storage instead).
    */
  private lazy val scratchRoot: Option[java.nio.file.Path] = {
    val root = sys.env.get("SPARK_GRAFT_STREAM_CKPT_ROOT")
      .orElse(Option(java.nio.file.Paths.get("/dev/shm"))
        .filter(p => java.nio.file.Files.isDirectory(p) &&
          java.nio.file.Files.isWritable(p)).map(_.toString))
    root.map { r =>
      val d = java.nio.file.Paths.get(r,
        s"graft_ckpt_${ProcessHandle.current().pid()}")
      java.nio.file.Files.createDirectories(d)
      Runtime.getRuntime.addShutdownHook(new Thread(() => FileUtils.deleteQuietly(d.toFile)))
      d
    }
  }

  /** Starts `writer` with [[LocalCheckpointFileManager]] installed on
    * `spark`: every streaming query of the engine starts here. */
  def start(spark: SparkSession, writer: DataStreamWriter[_]): StreamingQuery = {
    LocalCheckpointFileManager.install(spark)
    writer.start()
  }

  def toTable(spark: SparkSession, df: DataFrame, mode: OutputMode,
              name: String, checkpointDir: Option[String] = None): DataFrame = {
    spark.catalog.dropTempView(name)
    // state-store count is fixed at first run from shuffle.partitions;
    // a handful of partitions is right for these bounded drives (each
    // store carries init/commit overhead per micro-batch: measured
    // 15.0s → 9.4s over st3/st8/st16/st18 going 8 → 4 at sf0.1; 2 is
    // flat-to-worse, so 4 keeps parallelism). Harness-only knob — a
    // production deployment sizes partitions to key cardinality.
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTITIONS", "4"))
    // explicit caller dir wins (durable-claim queries); otherwise a
    // fresh scratch tree per drive, deleted as soon as the drive ends
    // (Spark's own temp-checkpoint path would land on java.io.tmpdir
    // and be cleaned the same way — this just picks the faster medium)
    val scratch = if (checkpointDir.isDefined) None
      else scratchRoot.map(r => java.nio.file.Files.createTempDirectory(r, name))
    // Each batch is checkpointed into the block manager, so its rows
    // never pass through the driver; Complete batches replace the kept
    // ones, as the whole result table is re-emitted every trigger. The
    // batch frame belongs to the query's cloned session, so only its
    // plan is kept and is re-homed on `spark` below. `q.stop()` joins
    // the query thread before `kept` is read.
    val kept = scala.collection.mutable.ArrayBuffer.empty[LogicalPlan]
    val sink: (DataFrame, Long) => Unit = { (batch, _) =>
      if (mode == OutputMode.Complete) kept.clear()
      kept += batch.localCheckpoint(eager = true).queryExecution.analyzed
    }
    try {
      val w0 = df.writeStream.outputMode(mode).queryName(name).foreachBatch(sink)
      val w = checkpointDir.orElse(scratch.map(_.toString))
        .fold(w0)(d => w0.option("checkpointLocation", d))
      val q = start(spark, w)
      try q.processAllAvailable() finally q.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      scratch.foreach(d => FileUtils.deleteQuietly(d.toFile))
    }
    kept.map(GraftSqlBridge.ofRows(spark, _)).reduceOption(_ union _)
      .getOrElse(spark.createDataFrame(java.util.List.of[Row](), df.schema))
      .createOrReplaceTempView(name)
    spark.table(name)
  }
}
