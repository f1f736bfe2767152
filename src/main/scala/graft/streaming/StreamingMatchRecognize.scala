package graft.streaming

import graft.operators.{MatchRecognize, PatternNFA}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING MATCH_RECOGNIZE for arbitrary patterns (SURVEY.md §2.9 —
  * the reference's StreamExecMatch.scala:68 runs its NFA per key on an
  * unbounded stream; this is the Spark analog over
  * `flatMapGroupsWithState`). The batch facade compiles the clause;
  * this operator runs the SAME per-anchor scan as the batch doors
  * ([[PatternNFA.scanMature]]), with a different completeness signal:
  *
  *  - DEFINE predicates are pre-evaluated map-side into a bitmask
  *    column (identical to the batch path) so keyed state buffers only
  *    (tsMicros, id, satMask, nav) rows — no event payloads.
  *  - Batch offers an anchor once a later event has passed its
  *    deadline or the key has ended; this operator offers it once the
  *    watermark has: anchor.ts + within <= watermark, when every event
  *    its window could bind is final. Emitted rows therefore equal the
  *    batch scan over the complete input, independent of how events
  *    were batched.
  *  - State is bounded by the window: an event is evicted at the same
  *    bound that matures it as an anchor (ts + within <= watermark),
  *    so each anchor is offered exactly once, and per-key state holds
  *    at most one `within` of events. An event-time timer fires at the
  *    earliest buffered event's deadline so quiet keys still flush and
  *    release state (idle-state hygiene).
  *  - The skip point of SKIP PAST LAST ROW / SKIP TO FIRST|LAST rides
  *    in state across micro-batches as a (ts, id) [[PatternNFA.Mark]];
  *    the scan turns it into a start index on the way in and back into
  *    a mark on the way out.
  *
  * MEASURES on streams (the reference supports exactly this: streaming
  * MATCH_RECOGNIZE with MEASURES, ONE ROW PER MATCH only): see
  * [[measures]] — the state additionally carries the measure columns'
  * numeric values per event, and the per-match aggregates fold inside
  * the state function at maturity (no join-back is possible against an
  * unbounded stream, so the carried-column design replaces the batch
  * path's equi-join).
  */
object StreamingMatchRecognize {

  /** Buffered events are (tsMicros, id, satMask, nav, navS) quints —
    * `nav`/`navS` carry the context predicates' TYPED column values
    * (numeric / string slots of the same index space; empty when the
    * clause has no navigation). `markIncl` distinguishes the
    * SKIP TO FIRST/LAST (inclusive re-arm) mark from SKIP PAST LAST
    * ROW (exclusive). */
  case class MRState(evs: List[(Long, Long, Long, Array[Double], Array[String])],
                     markTs: Long, markId: Long, hasMark: Boolean,
                     markIncl: Boolean = false)

  case class MRMeasState(
      evs: List[(Long, Long, Long, Seq[Option[Double]], Array[Double], Array[String])],
      markTs: Long, markId: Long, hasMark: Boolean,
      matchSeq: Long, idleSinceMicros: Long = 0L,
      markIncl: Boolean = false)

  case class MeasuresEmit(key: Long, match_seq: Long,
                          values: Seq[Option[Double]],
                          classifier: String = null)

  /** The clause door: compiles the MATCH_RECOGNIZE clause onto the
    * strict row-pattern scan and runs it through [[runKeyedSteps]]. */
  private def runKeyed[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, events: DataFrame, clause: String,
      watermarkDelay: String, requireMsg: String, mode: PatternNFA.ScanMode)(
      onMatch: (Long, PatternNFA.Matched, Long) => Seq[T] = PatternNFA.noRows,
      onTimeout: (Long, PatternNFA.PTimeout, Long) => Seq[T] = PatternNFA.noRows)
      : Dataset[T] = {
    val c = MatchRecognize.compile(clause)
    require(c.measures.isEmpty, requireMsg)
    runKeyedSteps(spark, events, c.steps,
      c.defines.map { case (n, body) => n -> expr(body) },
      c.withinMicros, c.afterMatch, c.navCols, c.ctx, watermarkDelay,
      strict = true, mode)(onMatch, onTimeout)
  }

  /** SHARED state plumbing for every door but [[measures]] — bitmask
    * projection, watermark column, buffer fold, eviction (== maturity)
    * bound, flush-on-silence timer — around one
    * [[PatternNFA.scanMature]] call per key and trigger. The doors
    * differ only in the scan mode and the (onMatch, onTimeout)
    * emitters, exactly like the batch doors, so the matches and both
    * timeout outputs see the same offered anchors by construction.
    * The API-pattern doors (the reference's `CEP.pattern(stream, …)` —
    * PatternStream.java: the CEP library IS stream-first) feed the
    * Pattern-algebra steps directly — the only route to streaming
    * GROUP patterns and NO SKIP, which have no SQL clause form. */
  private def runKeyedSteps[T: org.apache.spark.sql.Encoder](
      spark: SparkSession, events: DataFrame, steps: Seq[PatternNFA.Step],
      preds: Seq[(String, org.apache.spark.sql.Column)], withinMicros: Long,
      afterMatch: PatternNFA.AfterMatch, navCols: Seq[String],
      defCtx: Map[String, Seq[PatternNFA.CtxCmp]], watermarkDelay: String,
      strict: Boolean = false,
      mode: PatternNFA.ScanMode = PatternNFA.ScanMode.Matches)(
      onMatch: (Long, PatternNFA.Matched, Long) => Seq[T] = PatternNFA.noRows,
      onTimeout: (Long, PatternNFA.PTimeout, Long) => Seq[T] = PatternNFA.noRows)
      : Dataset[T] = {
    import spark.implicits._
    require(preds.size <= 64, "at most 64 pattern variables")
    val satCol = preds.zipWithIndex.map { case ((_, p), i) =>
      when(p, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    // nav projections must mirror PatternNFA.prepare exactly (NaN/null
    // = NULL; typed slots) — the streaming scan evaluates the same
    // RCmp trees
    val (navCol, navSCol) = PatternNFA.navProjections(navCols,
      PatternNFA.navStringFlags(events, navCols))
    val pattern = PatternNFA.compileSteps(steps, preds.map(_._1), defCtx)
    val within = withinMicros

    // the watermark column must survive the projection — event-time
    // timeout requires the watermark node in the grouped plan
    val ds = events
      .withColumn("_et", timestamp_micros(col("tsMicros")))
      .withWatermark("_et", watermarkDelay)
      .select(col("key").cast("long"), col("tsMicros").cast("long"),
        col("id").cast("long"), satCol.cast("long").as("_sat"),
        navCol.as("_nav"), navSCol.as("_navS"), col("_et"))
      .as[(Long, Long, Long, Long, Array[Double], Array[String], java.sql.Timestamp)]

    ds.groupByKey(_._1).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: Long,
       rows: Iterator[(Long, Long, Long, Long, Array[Double], Array[String], java.sql.Timestamp)],
       state: GroupState[MRState]) =>
        val cur = state.getOption.getOrElse(MRState(Nil, 0L, 0L, hasMark = false))
        val buffered = rows.foldLeft(cur.evs) {
          case (acc, (_, ts, id, sat, nav, navS, _)) => (ts, id, sat, nav, navS) :: acc
        }
        val wm = state.getCurrentWatermarkMs() * 1000L
        val mark0 = if (cur.hasMark)
          Some(PatternNFA.Mark(cur.markTs, cur.markId, cur.markIncl)) else None
        val (emitted, mark) = PatternNFA.scanMature(key, buffered, pattern,
          within, afterMatch, wm, mark0, strict, mode)(onMatch, onTimeout)
        // eviction bound == maturity bound: kept events are exactly the
        // not-yet-mature suffix of the buffer
        val kept = buffered.filter { case (ts, _, _, _, _) => ts + within > wm }
        if (kept.isEmpty) {
          if (state.exists) state.remove()
        } else {
          state.update(MRState(kept,
            mark.map(_.ts).getOrElse(0L), mark.map(_.id).getOrElse(0L),
            mark.isDefined, mark.exists(_.inclusive)))
          // flush-on-silence: fire when the earliest buffered event's
          // window closes even if the key never sees traffic again
          val nextDeadlineMs = (kept.map(_._1).min + within) / 1000L + 1
          state.setTimeoutTimestamp(
            nextDeadlineMs max (state.getCurrentWatermarkMs() + 1))
        }
        emitted.iterator
    }
  }

  /** events: (key, tsMicros, id, kind, ...) — extra columns visible to
    * DEFINE predicates, exactly like the batch facade. Output rows are
    * the batch [[PatternNFA.PMatch]] shape. */
  def apply(spark: SparkSession, events: DataFrame, clause: String,
            watermarkDelay: String = "10 minutes"): Dataset[PatternNFA.PMatch] = {
    import spark.implicits._
    runKeyed[PatternNFA.PMatch](spark, events, clause, watermarkDelay,
      "MEASURES is batch-only (the reference restricts streaming MATCH_RECOGNIZE too)",
      PatternNFA.ScanMode.Matches)(onMatch = (key, m, _) => Seq(m.row(key)))
  }

  /** Streaming CEP via the PATTERN API (the reference's
    * `CEP.pattern(stream, pattern)` — flink-cep PatternStream.java):
    * steps over kind-equality variables, any [[PatternNFA.AfterMatch]]
    * strategy including NoSkip, group patterns included — same
    * maturity/eviction/mark contract as the clause door. */
  def pattern(spark: SparkSession, events: DataFrame,
              steps: Seq[PatternNFA.Step], withinMicros: Long,
              afterMatch: PatternNFA.AfterMatch = PatternNFA.SkipToNextRow,
              watermarkDelay: String = "10 minutes")
      : Dataset[PatternNFA.PMatch] = {
    import spark.implicits._
    runKeyedSteps[PatternNFA.PMatch](spark, events, steps,
      PatternNFA.kindPreds(steps), withinMicros, afterMatch, Nil, Map.empty,
      watermarkDelay)(onMatch = (key, m, _) => Seq(m.row(key)))
  }

  /** Timed-out partial matches on the unbounded stream — the
    * reference's CEP timeout side output (`PatternStream.java:175`
    * select(timeoutFunction) / TimedOutPartialMatchHandler): when an
    * anchor MATURES (its window is provably complete) without a full
    * match, the longest bound prefix is emitted, exactly when the
    * reference's within-timer would fire. Plumbing is [[runKeyed]] —
    * shared with [[apply]], so both side outputs see identical
    * offered anchors by construction (the SkipPastLastEvent mark
    * advances on FULL matches in both scans). */
  def timeouts(spark: SparkSession, events: DataFrame, clause: String,
               watermarkDelay: String = "10 minutes")
      : Dataset[PatternNFA.PTimeout] = {
    import spark.implicits._
    runKeyed[PatternNFA.PTimeout](spark, events, clause, watermarkDelay,
      "timeout side output carries bindings, not MEASURES",
      PatternNFA.ScanMode.Timeouts)(onTimeout = (_, t, _) => Seq(t))
  }

  /** Streaming PER-BRANCH timeout side output (r12; the PATTERN-API
    * door of [[PatternNFA.runTimeoutBranches]] — flink-cep
    * NFA.advanceTime hands EVERY live partial branch to
    * TimedOutPartialMatchHandler at expiry, deadline-stamped, match
    * status never suppressing). r13: loop interiors supported (the
    * full branchShape family — until-loops and groups stay loud);
    * NoSkip by construction, so no skip mark threads through state. */
  def timeoutBranches(spark: SparkSession, events: DataFrame,
                      steps: Seq[PatternNFA.Step], withinMicros: Long,
                      watermarkDelay: String = "10 minutes")
      : Dataset[PatternNFA.PTimeoutB] = {
    import spark.implicits._
    // fail fast at construction on a single-step pattern and on
    // unsupported quantifiers (until-loops, groups) instead of inside
    // executor tasks on the first micro-batch; loop-first patterns
    // stay rejected by the shared scan guards
    PatternNFA.validateBranchShapes(steps)
    runKeyedSteps[PatternNFA.PTimeoutB](spark, events, steps,
      PatternNFA.kindPreds(steps), withinMicros, PatternNFA.NoSkip, Nil,
      Map.empty, watermarkDelay, mode = PatternNFA.ScanMode.Branches)(
      onTimeout = PatternNFA.branchRow)
  }

  /** Streaming MATCH_RECOGNIZE WITH MEASURES (ONE ROW PER MATCH) —
    * the reference's full streaming surface. Measure columns must be
    * numeric (they are carried through keyed state as doubles; exact
    * for integral values below 2^53, and integral-sourced FIRST/LAST/
    * MIN/MAX re-emit as longs). CLASSIFIER() (r10) is the one string
    * measure: per-match single-valued, derived from the bindings at
    * emission (no carried column needed) — this EXCEEDS the reference,
    * whose MatchCodeGenerator has no CLASSIFIER support at all.
    * Output: (key, one column per measure alias) — MATCH_NUMBER() is
    * the per-key 1-based sequence of EMITTED matches, carried in state
    * across micro-batches.
    *
    * Idle-state retention (`idleRetentionMicros`): once a key's event
    * buffer drains, the only state left is the residual MATCH_NUMBER
    * counter — without an eviction path that residue grows with the
    * number of distinct keys ever matched, unboundedly, on a high-churn
    * stream. With retention set, the residue is evicted after the key
    * stays idle (no events, no matches) for the given event-time span;
    * a match arriving AFTER eviction restarts MATCH_NUMBER at 1 for
    * that key — exactly the reference's idle-state-retention trade
    * (Flink's table.exec.state.ttl resets accumulators the same way).
    * `None` (default) keeps the reference's strict MATCH_NUMBER
    * continuity at the cost of per-matched-key residual state.
    *
    * `attachWatermark = false` skips the operator's own
    * `withWatermark` node: for a CASCADE input (a windowed aggregate
    * feeding MATCH_RECOGNIZE — the reference's
    * testMatchRecognizeAppliedToWindowedGrouping shape) the SOURCE
    * watermark below the aggregate drives maturity directly. A second
    * node would start at 0 and pin the min-policy global watermark
    * there forever (its column only sees rows the aggregate already
    * emitted), deadlocking the pipeline; and the aggregate's output
    * rows must NOT carry event-time metadata into this operator, or
    * the pre-operator late filter would drop them (they trail the
    * global watermark by construction) — strip it by projecting the
    * window bound through unix_micros into a plain long. */
  def measures(spark: SparkSession, events: DataFrame, clause: String,
               watermarkDelay: String = "10 minutes",
               idleRetentionMicros: Option[Long] = None,
               attachWatermark: Boolean = true): DataFrame = {
    import spark.implicits._
    val c = MatchRecognize.compile(clause)
    require(c.measures.nonEmpty, "no MEASURES in clause — use apply()")
    require(!c.allRows, "streaming MATCH_RECOGNIZE is ONE ROW PER MATCH only " +
      "(the reference has the same restriction)")
    val preds = c.defines.map { case (n, body) => n -> expr(body) }
    val satCol = preds.zipWithIndex.map { case ((_, p), i) =>
      when(p, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val measures = c.measures
    // measure columns may be EXPRESSIONS of event columns (the batch
    // path's SUM(B.price * B.rate) form) — resolve them with expr();
    // COUNT(*) carries no column at all
    val mcols = measures
      .filter(m => m.func != "MATCH_NUMBER" && m.func != "CLASSIFIER" &&
        m.func != "MATCH_ROWTIME" && m.colName != "*")
      .map(_.colName).distinct
    val colIdx = mcols.zipWithIndex.toMap
    val integralCol: Set[String] = if (mcols.isEmpty) Set.empty else {
      import org.apache.spark.sql.types._
      mcols.zip(events.select(mcols.map(n => expr(n)): _*).schema)
        .collect { case (n, f) if (f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }) => n }.toSet
    }
    val within = c.withinMicros
    val steps = c.steps
    val afterMatch = c.afterMatch
    // step indices each measure reads its bound events from (pattern
    // variables are unique in this grammar; a SUBSET variable reads
    // its members' bindings merged in sequence order)
    val stepIdxsOf: Map[String, Seq[Int]] =
      measures.filter(m => m.func != "MATCH_NUMBER" && m.varName.nonEmpty)
        .map(_.varName).distinct
        .map(v => v -> c.membersOf(v).map(mv =>
          steps.indexWhere(_.kind == mv)).sorted).toMap

    val navCols = c.navCols
    val pattern = PatternNFA.compileSteps(steps, preds.map(_._1), c.ctx)
    val (navCol, navSCol) = PatternNFA.navProjections(navCols,
      PatternNFA.navStringFlags(events, navCols))
    val withEt =
      if (attachWatermark) events
        .withColumn("_et", timestamp_micros(col("tsMicros")))
        .withWatermark("_et", watermarkDelay)
      else {
        // cascade mode: the caller provides a watermark-TAGGED _et
        // (typically the upstream window's rowtime, future-shifted
        // past the late filter — see the method doc); a second
        // withWatermark node here would pin the min-policy global
        // watermark at zero
        require(events.columns.contains("_et"),
          "attachWatermark = false needs a caller-provided " +
            "watermark-tagged _et column (see measures() doc)")
        events
      }
    val ds = withEt
      .select(col("key").cast("long"), col("tsMicros").cast("long"),
        col("id").cast("long"), satCol.cast("long").as("_sat"),
        array(mcols.map(n => expr(n).cast("double")): _*).as("_mv"),
        navCol.as("_nav"), navSCol.as("_navS"), col("_et"))
      .as[(Long, Long, Long, Long, Seq[Option[Double]], Array[Double],
           Array[String], java.sql.Timestamp)]

    val emitted = ds.groupByKey(_._1).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: Long,
       rows: Iterator[(Long, Long, Long, Long, Seq[Option[Double]],
                       Array[Double], Array[String], java.sql.Timestamp)],
       state: GroupState[MRMeasState]) =>
        val cur = state.getOption.getOrElse(
          MRMeasState(Nil, 0L, 0L, hasMark = false, matchSeq = 0L))
        var newRows = 0
        val buffered = rows.foldLeft(cur.evs) {
          case (acc, (_, ts, id, sat, mv, nav, navS, _)) =>
            newRows += 1; (ts, id, sat, mv, nav, navS) :: acc
        }
        val wm = state.getCurrentWatermarkMs() * 1000L
        val mark0 = if (cur.hasMark)
          Some(PatternNFA.Mark(cur.markTs, cur.markId, cur.markIncl)) else None
        val quads = buffered.map { case (ts, id, sat, _, nav, navS) =>
          (ts, id, sat, nav, navS) }
        val mvalsOf = buffered.map { case (ts, id, _, mv, _, _) =>
          (ts, id) -> mv }.toMap
        val (rawMatches, mark) = PatternNFA.scanMature(key, quads, pattern,
          within, afterMatch, wm, mark0, strict = true)(
          onMatch = (_, m, _) => Seq(m.pairs))
        var seq = cur.matchSeq
        def fold(m: MatchRecognize.Measure,
                 bindings: Seq[Seq[(Long, Long)]]): Option[Double] = {
          if (m.func == "MATCH_NUMBER") return Some(seq.toDouble)
          if (m.func == "CLASSIFIER") return None // rides the string slot
          if (m.func == "MATCH_ROWTIME") // last row's ts (exact < 2^53)
            return Some(bindings.iterator.flatten.map(_._1).max.toDouble)
          // unqualified measures aggregate over ALL rows of the match
          // (steps bind in order, so flatten — and a SUBSET's
          // ascending-step concatenation — preserves match order)
          val bound = if (m.varName.isEmpty) bindings.flatten
            else stepIdxsOf(m.varName).flatMap(bindings(_))
          if (m.colName == "*") // COUNT(*): all rows, null-insensitive
            return (Some(bound.size.toDouble), m.roundTo) match {
              case (Some(v), Some(n)) => Some(BigDecimal(v)
                .setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble)
              case (r, _) => r
            }
          // opts keeps the null slots: FIRST/LAST must mirror the batch
          // path's min_by/max_by(col, pos), which returns the (possibly
          // null) value AT the boundary position — dropping Nones first
          // would instead return the earliest/latest NON-NULL value and
          // the two surfaces would diverge. The null-skipping `vals` is
          // only for the SQL null-ignoring aggregates (SUM/AVG/MIN/MAX)
          // and COUNT(col)'s non-null count.
          val opts = bound.map(e => mvalsOf(e)(colIdx(m.colName)))
          val vals = opts.flatten
          val raw = m.func match {
            case "COUNT" => Some(vals.size.toDouble)
            // logical offsets ride the ordered bound list; out of
            // range is NULL (mirrors the batch get() path)
            case "FIRST" => opts.lift(m.off).flatten
            case "LAST" => opts.lift(opts.size - 1 - m.off).flatten
            case _ if vals.isEmpty => None
            case "SUM" => Some(vals.sum)
            case "AVG" => Some(vals.sum / vals.size)
            case "MIN" => Some(vals.min)
            case "MAX" => Some(vals.max)
          }
          (raw, m.roundTo) match {
            case (Some(v), Some(n)) => Some(BigDecimal(v)
              .setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble)
            case _ => raw
          }
        }
        val needClassifier = measures.exists(_.func == "CLASSIFIER")
        val out = rawMatches.map { bindings =>
          seq += 1
          // CLASSIFIER() under ONE ROW PER MATCH (FINAL semantics) =
          // the variable that bound the match's LAST row — mirrors the
          // batch path's max_by(var_name, pos); steps bind sequential
          // (ts, id)-ordered segments, so the max event across all
          // bindings names it
          val classifier = if (!needClassifier) null else {
            var bestTs = Long.MinValue; var bestId = Long.MinValue
            var bv: String = null
            bindings.indices.foreach { i =>
              bindings(i).foreach { case (ts, id) =>
                if (ts > bestTs || (ts == bestTs && id > bestId)) {
                  bestTs = ts; bestId = id; bv = steps(i).kind
                }
              }
            }
            bv
          }
          MeasuresEmit(key, seq, measures.map(m => fold(m, bindings)),
            classifier)
        }
        val kept = buffered.filter { case (ts, _, _, _, _, _) => ts + within > wm }
        val (mkTs, mkId, mkIncl) = (mark.map(_.ts).getOrElse(0L),
          mark.map(_.id).getOrElse(0L), mark.exists(_.inclusive))
        if (kept.isEmpty && seq == 0L) {
          if (state.exists) state.remove()
        } else if (kept.isEmpty) {
          // residual state: only the MATCH_NUMBER counter (+skip mark)
          // survives — a later match on this key continues the sequence
          idleRetentionMicros match {
            case None =>
              // strict MATCH_NUMBER continuity: retained indefinitely
              state.update(MRMeasState(Nil, mkTs, mkId,
                mark.isDefined, seq, idleSinceMicros = 0L, mkIncl))
            case Some(r) =>
              // idleness starts when the buffer drains (any activity —
              // new events, emitted matches, or a live buffer a moment
              // ago — restarts the clock at the current watermark)
              val active = newRows > 0 || out.nonEmpty ||
                cur.evs.nonEmpty || cur.idleSinceMicros == 0L
              val idleSince = if (active) wm else cur.idleSinceMicros
              if (!active && wm >= idleSince + r) {
                // retention elapsed: evict — MATCH_NUMBER restarts at 1
                // if this key ever matches again (the documented delta)
                state.remove()
              } else {
                state.update(MRMeasState(Nil, mkTs, mkId,
                  mark.isDefined, seq, idleSince, mkIncl))
                state.setTimeoutTimestamp(((idleSince + r) / 1000L + 1)
                  max (state.getCurrentWatermarkMs() + 1))
              }
          }
        } else {
          state.update(MRMeasState(kept, mkTs, mkId,
            mark.isDefined, seq, idleSinceMicros = 0L, mkIncl))
          val nextDeadlineMs = (kept.map(_._1).min + within) / 1000L + 1
          state.setTimeoutTimestamp(
            nextDeadlineMs max (state.getCurrentWatermarkMs() + 1))
        }
        out.iterator
    }

    // unpack the value array into named measure columns; integral-
    // sourced positional measures re-emit as longs (exact below 2^53)
    val named = measures.zipWithIndex.map { case (m, i) =>
      val base = m.func match {
        case "MATCH_NUMBER" => col("match_seq")
        case "MATCH_ROWTIME" => timestamp_micros(col("values")(i).cast("long"))
        case "CLASSIFIER" => col("classifier")
        case "COUNT" => col("values")(i).cast("long")
        case "FIRST" | "LAST" | "MIN" | "MAX" if integralCol(m.colName) =>
          col("values")(i).cast("long")
        case _ => col("values")(i)
      }
      base.as(m.alias)
    }
    emitted.toDF().select(col("key") +: named: _*)
  }
}
