package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import graft.operators.{MatchRecognize, PatternNFA}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** STREAMING MATCH_RECOGNIZE for arbitrary patterns (SURVEY.md §2.9 —
  * the reference's StreamExecMatch.scala:68 runs its NFA per key on an
  * unbounded stream; this is the Spark analog over
  * `flatMapGroupsWithState`). The batch facade compiles the clause;
  * this operator runs the SAME per-anchor scan as the batch doors
  * ([[PatternNFA.scanMature]]), with a different completeness signal.
  * Every door (the clause with and without MEASURES, the PATTERN API,
  * both timeout side outputs) runs through one keyed state path,
  * [[runKeyedSteps]]:
  *
  *  - DEFINE predicates are pre-evaluated map-side into a bitmask
  *    column (the batch projection, [[PatternNFA.scanColumns]]) so
  *    keyed state buffers only (tsMicros, id, satMask, nav, navS,
  *    measure values) rows — no event payloads.
  *  - Batch offers an anchor once a later event has passed its
  *    deadline or the key has ended; this operator offers it once the
  *    watermark has: anchor.ts + within <= watermark, when every event
  *    its window could bind is final. Emitted rows therefore equal the
  *    batch scan over the complete input, independent of how events
  *    were batched.
  *  - State is bounded by the window: an event is evicted at the same
  *    bound that matures it as an anchor (ts + within <= watermark),
  *    so each anchor is offered exactly once, and per-key state holds
  *    at most one `within` of events.
  *  - The skip point of SKIP PAST LAST ROW / SKIP TO FIRST|LAST rides
  *    in state across micro-batches as a (ts, id) [[PatternNFA.Mark]];
  *    the scan turns it into a start index on the way in and back into
  *    a mark on the way out.
  *  - A door may carry an accumulator across triggers (the MATCH_NUMBER
  *    counter of [[measures]]; a constant for the other doors). The
  *    eviction rule is [[WatermarkFold]]'s: a key's state is removed
  *    once nothing is buffered and either the accumulator equals its
  *    initial value or the watermark has reached `expiresAt(acc)`. An
  *    event-time timer fires at the earliest buffered event's deadline,
  *    or at the expiry when nothing is buffered, so quiet keys still
  *    flush and release state.
  */
object StreamingMatchRecognize {

  /** A buffered event: (tsMicros, id, satMask, nav, navS, measure
    * values). `nav`/`navS` carry the context predicates' TYPED column
    * values (numeric / string slots of the same index space; empty
    * when the clause has no navigation); the measure values are empty
    * for every door but [[measures]]. */
  type Buffered = (Long, Long, Long, Array[Double], Array[String], Seq[Option[Double]])

  /** A key's state: the buffered events, the skip mark and the door's
    * accumulator. `markIncl` distinguishes the SKIP TO FIRST/LAST
    * (inclusive re-arm) mark from SKIP PAST LAST ROW (exclusive). */
  case class MRState[A](evs: List[Buffered], markTs: Long, markId: Long,
                        hasMark: Boolean, markIncl: Boolean, acc: A)

  case class MeasuresEmit(key: Long, match_seq: Long,
                          values: Seq[Option[Double]],
                          classifier: String = null)

  /** A trigger's measure values per buffered (tsMicros, id). */
  type MeasureValues = Map[(Long, Long), Seq[Option[Double]]]

  private def definePreds(c: MatchRecognize.Compiled): Seq[(String, Column)] =
    c.defines.map { case (n, body) => n -> expr(body) }

  /** The match emitter of a door that emits no matches. */
  private def noMatches[A, T]: (A, Long, PatternNFA.Matched, MeasureValues) => (A, Seq[T]) =
    (a, _, _, _) => (a, Nil)

  /** The match emitter of the [[PatternNFA.PMatch]] doors. */
  private def matchRows[A]: (A, Long, PatternNFA.Matched, MeasureValues) => (A, Seq[PatternNFA.PMatch]) =
    (a, key, m, _) => (a, Seq(m.row(key)))

  /** The clause door without MEASURES: compiles the MATCH_RECOGNIZE
    * clause onto the strict row-pattern scan and runs it through
    * [[runKeyedSteps]] with a constant accumulator. */
  private def runKeyed[T: Encoder](
      spark: SparkSession, events: DataFrame, clause: String,
      watermarkDelay: String, requireMsg: String, mode: PatternNFA.ScanMode)(
      onMatch: (Boolean, Long, PatternNFA.Matched, MeasureValues) => (Boolean, Seq[T]) =
        noMatches[Boolean, T],
      onTimeout: (Long, PatternNFA.PTimeout, Long) => Seq[T] = PatternNFA.noRows)
      : Dataset[T] = {
    val c = MatchRecognize.compile(clause)
    require(c.measures.isEmpty, requireMsg)
    runKeyedSteps(spark, events, c.steps, definePreds(c), c.withinMicros,
      c.afterMatch, c.navCols, c.ctx, watermarkDelay, strict = true, mode,
      init = false)(onMatch, onTimeout)
  }

  /** The ONE keyed state path of every door: the scan projection plus
    * the door's measure values, the watermark column, the buffer fold,
    * eviction (== maturity) bound, the accumulator's eviction rule and
    * the timer, around one [[PatternNFA.scanMature]] call per key and
    * trigger. The doors differ only in the scan mode, the accumulator
    * (`init`, `expiresAt`, threaded through `onMatch`) and the
    * (onMatch, onTimeout) emitters, exactly like the batch doors, so
    * the matches and both timeout outputs see the same offered anchors
    * by construction. The API-pattern doors (the reference's
    * `CEP.pattern(stream, …)` — PatternStream.java: the CEP library IS
    * stream-first) feed the Pattern-algebra steps directly — the only
    * route to streaming GROUP patterns and NO SKIP, which have no SQL
    * clause form.
    *
    * `attachWatermark = false` is the cascade mode of [[measures]]:
    * the caller provides the watermark-tagged `_et` column. */
  private def runKeyedSteps[T: Encoder, A: TypeTag](
      spark: SparkSession, events: DataFrame, steps: Seq[PatternNFA.Step],
      preds: Seq[(String, Column)], withinMicros: Long,
      afterMatch: PatternNFA.AfterMatch, navCols: Seq[String],
      defCtx: Map[String, Seq[PatternNFA.CtxCmp]], watermarkDelay: String,
      strict: Boolean, mode: PatternNFA.ScanMode, init: A,
      expiresAt: A => Long = (_: A) => Long.MaxValue,
      measureCols: Seq[Column] = Nil, attachWatermark: Boolean = true)(
      onMatch: (A, Long, PatternNFA.Matched, MeasureValues) => (A, Seq[T]) =
        noMatches[A, T],
      onTimeout: (Long, PatternNFA.PTimeout, Long) => Seq[T] = PatternNFA.noRows)
      : Dataset[T] = {
    import spark.implicits._
    val pattern = PatternNFA.compileSteps(steps, preds.map(_._1), defCtx)
    val within = withinMicros
    val hasMeasures = measureCols.nonEmpty
    // the watermark column must survive the projection — event-time
    // timeout requires the watermark node in the grouped plan
    val withEt =
      if (attachWatermark) events
        .withColumn("_et", timestamp_micros(col("tsMicros")))
        .withWatermark("_et", watermarkDelay)
      else {
        // cascade mode: the caller provides a watermark-TAGGED _et
        // (typically the upstream window's rowtime, future-shifted
        // past the late filter — see the measures() doc); a second
        // withWatermark node here would pin the min-policy global
        // watermark at zero
        require(events.columns.contains("_et"),
          "attachWatermark = false needs a caller-provided " +
            "watermark-tagged _et column (see measures() doc)")
        events
      }
    val ds = withEt
      .select(PatternNFA.scanColumns(events, preds, navCols) :+
        array(measureCols: _*).cast("array<double>").as("_mv") :+ col("_et"): _*)
      .as[(Long, Long, Long, Long, Array[Double], Array[String],
           Seq[Option[Double]], java.sql.Timestamp)]

    ds.groupByKey(_._1).flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
      (key: Long,
       rows: Iterator[(Long, Long, Long, Long, Array[Double], Array[String],
                       Seq[Option[Double]], java.sql.Timestamp)],
       state: GroupState[MRState[A]]) =>
        val cur = state.getOption.getOrElse(
          MRState(Nil, 0L, 0L, hasMark = false, markIncl = false, init))
        val buffered = rows.foldLeft(cur.evs) {
          case (evs, (_, ts, id, sat, nav, navS, mv, _)) => (ts, id, sat, nav, navS, mv) :: evs
        }
        val wm = state.getCurrentWatermarkMs() * 1000L
        val mark0 = if (cur.hasMark)
          Some(PatternNFA.Mark(cur.markTs, cur.markId, cur.markIncl)) else None
        var acc = cur.acc
        lazy val measureValues: MeasureValues =
          if (!hasMeasures) Map.empty
          else buffered.map(e => (e._1, e._2) -> e._6).toMap
        val (emitted, mark) = PatternNFA.scanMature(key,
          buffered.map(e => (e._1, e._2, e._3, e._4, e._5)), pattern,
          within, afterMatch, wm, mark0, strict, mode)(
          onMatch = (k, m, _) => {
            val (next, out) = onMatch(acc, k, m, measureValues)
            acc = next
            out
          }, onTimeout)
        // eviction bound == maturity bound: kept events are exactly the
        // not-yet-mature suffix of the buffer
        val kept = buffered.filter(_._1 + within > wm)
        val expiry = expiresAt(acc)
        if (kept.isEmpty && (acc == init || wm >= expiry)) {
          if (state.exists) state.remove()
        } else {
          state.update(MRState(kept,
            mark.map(_.ts).getOrElse(0L), mark.map(_.id).getOrElse(0L),
            mark.isDefined, mark.exists(_.inclusive), acc))
          // flush-on-silence: fire when the earliest buffered event's
          // window closes even if the key never sees traffic again, or
          // at the accumulator's expiry once nothing is buffered
          val next = if (kept.nonEmpty) kept.map(_._1).min + within else expiry
          if (next != Long.MaxValue)
            state.setTimeoutTimestamp(
              (next / 1000L + 1) max (state.getCurrentWatermarkMs() + 1))
        }
        emitted.iterator
    }(Encoders.product[MRState[A]], implicitly[Encoder[T]])
  }

  /** events: (key, tsMicros, id, kind, ...) — extra columns visible to
    * DEFINE predicates, exactly like the batch facade. Output rows are
    * the batch [[PatternNFA.PMatch]] shape. */
  def apply(spark: SparkSession, events: DataFrame, clause: String,
            watermarkDelay: String = "10 minutes"): Dataset[PatternNFA.PMatch] = {
    import spark.implicits._
    runKeyed(spark, events, clause, watermarkDelay,
      "clause has MEASURES: run it through StreamingMatchRecognize.measures",
      PatternNFA.ScanMode.Matches)(onMatch = matchRows)
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
    runKeyedSteps(spark, events, steps, PatternNFA.kindPreds(steps),
      withinMicros, afterMatch, Nil, Map.empty, watermarkDelay, strict = false,
      PatternNFA.ScanMode.Matches, init = false)(onMatch = matchRows)
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
    runKeyedSteps[PatternNFA.PTimeoutB, Boolean](spark, events, steps,
      PatternNFA.kindPreds(steps), withinMicros, PatternNFA.NoSkip, Nil,
      Map.empty, watermarkDelay, strict = false, PatternNFA.ScanMode.Branches,
      init = false)(onTimeout = PatternNFA.branchRow)
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
    * the per-key 1-based sequence of EMITTED matches.
    *
    * This door runs on the one keyed state path ([[runKeyedSteps]]):
    * every buffered event carries its measure values, and the per-match
    * aggregates fold at maturity (no join-back is possible against an
    * unbounded stream, so the carried values replace the batch path's
    * equi-join). Its accumulator is (MATCH_NUMBER, the event time of the
    * last match's last row), carried in state across micro-batches and
    * restarts.
    *
    * Idle-state retention (`idleRetentionMicros`): once a key's event
    * buffer drains, the only state left is the residual MATCH_NUMBER
    * counter — without an eviction path that residue grows with the
    * number of distinct keys ever matched, unboundedly, on a high-churn
    * stream. With retention set, the accumulator expires at the last
    * match's last row + within + retention: the residue is evicted once
    * the buffer is empty and the watermark has reached that time. A
    * match arriving AFTER eviction restarts MATCH_NUMBER at 1 for that
    * key — exactly the reference's idle-state-retention trade (Flink's
    * table.exec.state.ttl resets accumulators the same way). `None`
    * (default) keeps the reference's strict MATCH_NUMBER continuity at
    * the cost of per-matched-key residual state.
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
    // step indices each measure reads its bound events from (pattern
    // variables are unique in this grammar; a SUBSET variable reads
    // its members' bindings merged in sequence order)
    val stepIdxsOf: Map[String, Seq[Int]] =
      measures.filter(m => m.func != "MATCH_NUMBER" && m.varName.nonEmpty)
        .map(_.varName).distinct
        .map(v => v -> c.membersOf(v).map(mv =>
          steps.indexWhere(_.kind == mv)).sorted).toMap
    def round(v: Option[Double], m: MatchRecognize.Measure): Option[Double] =
      (v, m.roundTo) match {
        case (Some(x), Some(n)) => Some(BigDecimal(x)
          .setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble)
        case _ => v
      }
    def fold(m: MatchRecognize.Measure, seq: Long,
             bindings: Seq[Seq[(Long, Long)]], mv: MeasureValues): Option[Double] = {
      if (m.func == "MATCH_NUMBER") return Some(seq.toDouble)
      if (m.func == "CLASSIFIER") return None // rides the string slot
      if (m.func == "MATCH_ROWTIME") // last row's ts (exact < 2^53)
        return Some(bindings.iterator.flatten.map(_._1).max.toDouble)
      // unqualified measures aggregate over ALL rows of the match
      // (steps bind in order, so flatten — and a SUBSET's
      // ascending-step concatenation — preserves match order)
      val bound = if (m.varName.isEmpty) bindings.flatten
        else stepIdxsOf(m.varName).flatMap(bindings(_))
      // COUNT(*): all rows, null-insensitive
      if (m.colName == "*") return round(Some(bound.size.toDouble), m)
      // opts keeps the null slots: FIRST/LAST must mirror the batch
      // path's min_by/max_by(col, pos), which returns the (possibly
      // null) value AT the boundary position — dropping Nones first
      // would instead return the earliest/latest NON-NULL value and
      // the two surfaces would diverge. The null-skipping `vals` is
      // only for the SQL null-ignoring aggregates (SUM/AVG/MIN/MAX)
      // and COUNT(col)'s non-null count.
      val opts = bound.map(e => mv(e)(colIdx(m.colName)))
      val vals = opts.flatten
      round(m.func match {
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
      }, m)
    }
    // CLASSIFIER() under ONE ROW PER MATCH (FINAL semantics) = the
    // variable that bound the match's LAST row — mirrors the batch
    // path's max_by(var_name, pos); steps bind sequential (ts, id)-
    // ordered segments, so the max event across all bindings names it
    val needClassifier = measures.exists(_.func == "CLASSIFIER")
    def classifier(bindings: Seq[Seq[(Long, Long)]]): String =
      if (!needClassifier) null
      else steps(bindings.indices.filter(bindings(_).nonEmpty)
        .maxBy(i => bindings(i).max)).kind

    val emitted = runKeyedSteps(spark, events, steps, definePreds(c), within,
        c.afterMatch, c.navCols, c.ctx, watermarkDelay, strict = true,
        PatternNFA.ScanMode.Matches, init = (0L, Long.MinValue),
        expiresAt = (a: (Long, Long)) =>
          idleRetentionMicros.fold(Long.MaxValue)(a._2 + within + _),
        measureCols = mcols.map(n => expr(n).cast("double")),
        attachWatermark = attachWatermark)(
      onMatch = { case ((seq0, _), key, m, mv) =>
        val bindings = m.pairs
        val seq = seq0 + 1
        ((seq, bindings.iterator.flatten.map(_._1).max),
          Seq(MeasuresEmit(key, seq, measures.map(fold(_, seq, bindings, mv)),
            classifier(bindings))))
      })

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
