package graft.queries

import graft.{QueryGroup, Tables}
import graft.streaming._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._

/** Structured Streaming surface, executed as REAL streaming queries
  * inside the correctness gate: each query reads the events parquet
  * through `readStream`, runs through watermarks / stateful operators to
  * `StreamRunner.toTable` (a foreachBatch sink that keeps each
  * micro-batch's rows on the executors), and the collected output is
  * oracle-checked against batch SQL (the bounded-input streaming result
  * is deterministic).
  *
  * Watermark bookkeeping mirrored in the oracles: Spark's watermark is
  * floor(max event-time millis) − delay, so SQL computes
  * (epoch_ms(max ts) − delay_ms) and compares in microseconds.
  */
object Streaming extends QueryGroup {

  private val dec18_2 = DecimalType(18, 2)
  private val H72 = 259200000000L // 72 hours in µs (st23 pattern window)
  private val H2 = 7200000000L    // 2 hours in µs (st57 branch timeouts)

  /** Recursively delete a scratch directory when the JVM exits (the
    * st33 checkpoint tree must outlive the LAZY state reader built
    * over it, so an in-query delete is not an option). */
  private def deleteAtExit(p: java.nio.file.Path): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)))

  /** events as an unbounded stream; ts normalized to TimestampType
    * whatever physical shape the driver generated (see Tables). */
  private def eventStream(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Tables.schemaOf(s, s"$dir/events.parquet")
    Tables.normalizeEventTs(
      s.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))
  }

  private def asGEvents(s: SparkSession, dir: String) = {
    import s.implicits._
    eventStream(s, dir).select(
        col("user_id").as("key"),
        unix_micros(col("ts")).as("tsMicros"),
        col("event_id").as("id"),
        col("event_type").as("kind"),
        col("value"))
      .as[GEvent]
  }

  override def queries = Seq(

    // Streaming tumbling-window agg, APPEND mode: a window emits once,
    // when the watermark passes its end, and its state is dropped —
    // the bounded-state form that survives an unbounded stream
    // (StreamExecGroupWindowAggregate semantics).
    q("st1_stream_tumble",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT wstart, event_type, n, total FROM (
        |  SELECT date_trunc('hour', ts) AS wstart, event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events GROUP BY 1, 2), wm
        |WHERE epoch_us(wstart + INTERVAL 1 HOUR) <= wm.wm_us
        |ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec18_2)).cast(DoubleType).as("total"))
      StreamRunner.toTable(s, agg, OutputMode.Append, "st1_out")
        .select(col("window.start").as("wstart"), col("event_type"), col("n"), col("total"))
        .orderBy("wstart", "event_type")
    },

    // Streaming unbounded group agg in update mode; the update
    // changelog is folded to final state (single bounded batch →
    // last update per key = batch aggregate).
    q("st2_stream_groupagg",
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val agg = eventStream(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec18_2)).cast(DoubleType).as("total"))
      val updates = StreamRunner.toTable(s, agg, OutputMode.Update, "st2_out")
      // Last update per key, sequenced by the count column: per-key
      // counts are strictly increasing across update emissions, so max(n)
      // identifies the final revision without relying on sink row order
      // (which is not contractual across micro-batches).
      graft.operators.Dedup.keepLast(updates, Seq("user_id"), "n", "n")
        .select("user_id", "n", "total")
        .orderBy("user_id")
    },

    // Stream-stream interval join with watermarks on both sides
    // (Spark's native implementation of StreamExecIntervalJoin).
    q("st3_stream_interval_join",
      """SELECT a.event_id AS signup_id, b.event_id AS purchase_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'signup' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY signup_id, purchase_id""".stripMargin) { (s, dir) =>
      val a = eventStream(s, dir).filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id").as("u1"),
          col("ts").as("a_ts"))
        .withWatermark("a_ts", "1 hour")
      val b = eventStream(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("u2"),
          col("ts").as("b_ts"))
        .withWatermark("b_ts", "1 hour")
      val joined = a.join(b,
        col("u1") === col("u2") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"))
      StreamRunner.toTable(s, joined, OutputMode.Append, "st3_out")
        .select("signup_id", "purchase_id")
        .orderBy("signup_id", "purchase_id")
    },

    // Streaming top-3 per user by value (custom stateful operator);
    // changelog folded to the final revision per key.
    q("st4_stream_topn",
      """SELECT user_id, rank, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
        |  FROM events)
        |WHERE rank <= 3
        |ORDER BY user_id, rank""".stripMargin) { (s, dir) =>
      import s.implicits._
      val emits = StreamingTopN(s, asGEvents(s, dir), n = 3)
      val table = StreamRunner.toTable(s, emits.toDF(), OutputMode.Update, "st4_out")
      // re-alias one side: self-joining the memory-sink view reuses
      // the same attribute ids and trips conflicting-reference checks.
      val lastSeq = table.groupBy(col("key")).agg(max("emitSeq").as("emitSeq"))
        .select(col("key").as("_k"), col("emitSeq").as("_s"))
      table.join(lastSeq, col("key") === col("_k") && col("emitSeq") === col("_s"))
        .select(col("key").as("user_id"), col("rank"), col("id").as("event_id"),
          col("value"))
        .orderBy("user_id", "rank")
    },

    // Streaming session windows (merging windows, MergingWindowSet
    // semantics) — gap 30 min per user, APPEND mode: a session emits
    // once the watermark passes its end (last event + gap) and its
    // merge state is evicted.
    q("st7_stream_session",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, session_start, n_events FROM (
        |  SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
        |    epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us
        |  FROM sess GROUP BY user_id, sid), wm
        |WHERE session_end_us <= wm.wm_us
        |ORDER BY user_id, session_start""".stripMargin) { (s, dir) =>
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 minute")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      StreamRunner.toTable(s, agg, OutputMode.Append, "st7_out")
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"))
        .orderBy("user_id", "session_start")
    },

    // Streaming as-of join: each mature purchase joined to the latest
    // signup at-or-before it (TemporalRowTimeJoinOperator semantics;
    // maturity = Spark watermark, mirrored exactly in the oracle).
    q("st5_stream_asof",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'purchase'),
        |sg AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |       WHERE event_type = 'signup'),
        |m AS (SELECT p.user_id, p.event_id AS purchase_id, sg.event_id AS s_id,
        |        row_number() OVER (PARTITION BY p.user_id, p.event_id
        |                           ORDER BY sg.ts_us DESC, sg.event_id DESC) AS rn
        |      FROM p LEFT JOIN sg ON sg.user_id = p.user_id AND sg.ts_us <= p.ts_us)
        |SELECT m.user_id, purchase_id, coalesce(s_id, -1) AS signup_id
        |FROM m, wm
        |WHERE rn = 1 AND EXISTS (SELECT 1 FROM p WHERE p.event_id = purchase_id AND p.ts_us <= wm.wm_us)
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = asGEvents(s, dir)
      val out = StreamingAsOfJoin(s,
        left = ev.filter(_.kind == "purchase"),
        right = ev.filter(_.kind == "signup"),
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st5_out")
        .select(col("key").as("user_id"), col("leftId").as("purchase_id"),
          col("rightId").as("signup_id"))
        .orderBy("purchase_id")
    },

    // Processing-time temporal join: each purchase enriches against
    // the LATEST signup version at arrival (no watermark wait, state =
    // one version per key — TemporalProcessTimeJoinOperator semantics).
    // The bounded in-order feed makes arrival order = (ts, id) order,
    // so the oracle is "latest signup strictly before the purchase in
    // (ts, id) order"; unlike st5 every purchase emits (no maturity).
    q("st21_proctime_temporal",
      """WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'purchase'),
        |sg AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |       WHERE event_type = 'signup'),
        |m AS (SELECT p.user_id, p.event_id AS purchase_id, sg.event_id AS s_id,
        |        row_number() OVER (PARTITION BY p.event_id
        |                           ORDER BY sg.ts_us DESC, sg.event_id DESC) AS rn
        |      FROM p LEFT JOIN sg ON sg.user_id = p.user_id
        |        AND (sg.ts_us < p.ts_us OR (sg.ts_us = p.ts_us AND sg.event_id < p.event_id)))
        |SELECT user_id, purchase_id, coalesce(s_id, -1) AS signup_id
        |FROM m WHERE rn = 1
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = asGEvents(s, dir)
      val out = StreamingProcTimeTemporalJoin(s,
        left = ev.filter(_.kind == "purchase"),
        right = ev.filter(_.kind == "signup"))
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st21_out")
        .select(col("key").as("user_id"), col("leftId").as("purchase_id"),
          col("rightId").as("signup_id"))
        .orderBy("purchase_id")
    },

    // Streaming LEFT OUTER interval join: matches emit on arrival;
    // unmatched signups emit null-padded once the watermark passes
    // their whole join window (Spark's state-eviction rule, mirrored
    // in the oracle).
    q("st11_stream_interval_outer",
      """WITH wm AS (
        |  SELECT (least(
        |    (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'signup'),
        |    (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase'))
        |    - 60000) * 1000 AS wm_us),
        |a AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'signup'),
        |b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'purchase'),
        |matched AS (
        |  SELECT a.event_id AS signup_id, b.event_id AS purchase_id
        |  FROM a JOIN b ON a.user_id = b.user_id
        |    AND b.ts_us >= a.ts_us AND b.ts_us <= a.ts_us + 3600000000),
        |unmatched AS (
        |  SELECT a.event_id AS signup_id, CAST(NULL AS BIGINT) AS purchase_id
        |  FROM a, wm
        |  WHERE a.ts_us + 3600000000 < wm.wm_us
        |    AND NOT EXISTS (SELECT 1 FROM b WHERE b.user_id = a.user_id
        |      AND b.ts_us >= a.ts_us AND b.ts_us <= a.ts_us + 3600000000))
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched
        |ORDER BY signup_id, purchase_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val a = eventStream(s, dir).filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id").as("u1"),
          col("ts").as("a_ts"))
        .withWatermark("a_ts", "1 minute")
      val b = eventStream(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("u2"),
          col("ts").as("b_ts"))
        .withWatermark("b_ts", "1 minute")
      val joined = a.join(b,
        col("u1") === col("u2") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"), "leftOuter")
      StreamRunner.toTable(s, joined, OutputMode.Append, "st11_out")
        .select("signup_id", "purchase_id")
        .orderBy(col("signup_id"), asc_nulls_first("purchase_id"))
    },

    // Streaming hopping windows (1h size / 30m slide), APPEND mode:
    // each hop emits at watermark passage and its state is evicted
    // (complete mode would retain every window ever seen — unbounded
    // state on a real stream).
    q("st10_stream_hop",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT wstart, n FROM (
        |  SELECT tb - to_seconds(k * 1800) AS wstart, count(*) AS n
        |  FROM (SELECT time_bucket(INTERVAL '30 minutes', ts) AS tb FROM events),
        |    unnest([0, 1]) AS u(k)
        |  GROUP BY 1), wm
        |WHERE epoch_us(wstart + INTERVAL 1 HOUR) <= wm.wm_us
        |ORDER BY wstart""".stripMargin) { (s, dir) =>
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"))
      StreamRunner.toTable(s, agg, OutputMode.Append, "st10_out")
        .select(col("window.start").as("wstart"), col("n"))
        .orderBy("wstart")
    },

    // Streaming per-window DISTINCT-user count. COUNT(DISTINCT) is
    // unsupported inside streaming aggregation, so this is the
    // canonical two-stage form: dropDuplicates on (user, window) —
    // whose state the watermark evicts once the window closes — then
    // an ordinary windowed count over the deduplicated stream.
    q("st16_stream_distinct",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT wstart, n_users FROM (
        |  SELECT date_trunc('hour', ts) AS wstart, count(DISTINCT user_id) AS n_users
        |  FROM events GROUP BY 1), wm
        |WHERE epoch_us(wstart + INTERVAL 1 HOUR) <= wm.wm_us
        |ORDER BY wstart""".stripMargin) { (s, dir) =>
      val dedup = eventStream(s, dir)
        .withWatermark("ts", "1 minute")
        .select(col("ts"), col("user_id"), window(col("ts"), "1 hour").as("w"))
        .dropDuplicates("user_id", "w")
      val agg = dedup.groupBy(col("w")).agg(count(lit(1)).as("n_users"))
      StreamRunner.toTable(s, agg, OutputMode.Append, "st16_out")
        .select(col("w.start").as("wstart"), col("n_users"))
        .orderBy("wstart")
    },

    // CHAINED stateful aggregation (multi-stateful pipeline): hourly
    // counts (stage 1, append on hour close) roll into daily
    // total/max/hour-count (stage 2, grouped on window_time of the
    // hour window, append on day close) — two watermark-driven
    // stateful operators in ONE streaming query.
    q("st17_stream_chained",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |hourly AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
        |           FROM events GROUP BY 1),
        |closed_h AS (SELECT * FROM hourly, wm
        |             WHERE epoch_us(h + INTERVAL 1 HOUR) <= wm_us),
        |daily AS (SELECT CAST(date_trunc('day', h) AS TIMESTAMP) AS dstart,
        |            CAST(sum(n) AS BIGINT) AS total, max(n) AS max_hour, count(*) AS n_hours
        |          FROM closed_h GROUP BY 1)
        |SELECT dstart, total, max_hour, n_hours FROM daily, wm
        |WHERE epoch_us(dstart + INTERVAL 1 DAY) <= wm_us
        |ORDER BY dstart""".stripMargin) { (s, dir) =>
      val hourly = eventStream(s, dir)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
      val daily = hourly
        .groupBy(window(window_time(col("window")), "1 day"))
        .agg(sum("n").as("total"), max("n").as("max_hour"),
          count(lit(1)).as("n_hours"))
      StreamRunner.toTable(s, daily, OutputMode.Append, "st17_out")
        .select(col("window.start").as("dstart"), col("total"),
          col("max_hour"), col("n_hours"))
        .orderBy("dstart")
    },

    // Streaming OVER aggregation: per-user ROWS 3 PRECEDING..CURRENT
    // sum in event-time order, emitted at watermark maturity.
    q("st8_stream_over",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE) AS frame_sum,
        |  least(CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT), 4) AS n_in_frame
        |FROM events, wm WHERE epoch_us(ts) <= wm.wm_us
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val out = StreamingOverAgg(s, asGEvents(s, dir), kPreceding = 3,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st8_out")
        .select(col("key").as("user_id"), col("id").as("event_id"),
          col("frameSum").cast(DoubleType).as("frame_sum"),
          col("nInFrame").as("n_in_frame"))
        .orderBy("user_id", "event_id")
    },

    // Streaming UNBOUNDED PRECEDING OVER (RowTimeRowsUnbounded-
    // PrecedingFunction): per-user running sum over everything so far
    // in event-time order — O(1) accumulator state per key, no frame
    // tail retained at all.
    q("st27_stream_over_unbounded",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_sum,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INT) AS n_so_far
        |FROM events, wm WHERE epoch_us(ts) <= wm.wm_us
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val out = StreamingUnboundedOverAgg(s, asGEvents(s, dir),
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st27_out")
        .select(col("key").as("user_id"), col("id").as("event_id"),
          col("frameSum").cast(DoubleType).as("running_sum"),
          col("nInFrame").as("n_so_far"))
        .orderBy("user_id", "event_id")
    },

    // Streaming SEMI/ANTI join (StreamingSemiAntiJoinOperator):
    // purchases flagged by whether the user had signed up at-or-before
    // the purchase's event time — EXISTS determinized at watermark
    // maturity, O(1) right-counter state per key. matched=1 rows are
    // the SEMI join, matched=0 the ANTI join; both surfaces ride one
    // operator exactly like the reference's.
    q("st28_stream_semi_anti",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |l AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts FROM events WHERE event_type = 'signup')
        |SELECT l.user_id, l.event_id,
        |  CAST(CASE WHEN EXISTS (SELECT 1 FROM r
        |                         WHERE r.user_id = l.user_id AND r.ts <= l.ts)
        |       THEN 1 ELSE 0 END AS INT) AS matched_flag
        |FROM l, wm WHERE epoch_us(l.ts) <= wm.wm_us
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = asGEvents(s, dir)
      val out = StreamingSemiAntiJoin(s,
        left = ev.filter(col("kind") === "purchase").as[GEvent],
        right = ev.filter(col("kind") === "signup").as[GEvent],
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st28_out")
        .select(col("key").as("user_id"), col("id").as("event_id"),
          when(col("matched"), 1).otherwise(0).cast("int").as("matched_flag"))
        .orderBy("user_id", "event_id")
    },

    // Unbounded stream-stream LEFT OUTER join (StreamingJoinOperator
    // outer mode): purchases left-joined to signups per user with NO
    // time bound; an unmatched purchase emits null-padded (+I pad) and
    // the pad is RETRACTED (-D) when the first signup arrives — the
    // RowKind changelog ridden on _change_kind. The fold (+I net of
    // -D) is arrival-order invariant and equals the batch LEFT JOIN.
    q("st29_stream_left_outer",
      """SELECT l.user_id, l.event_id AS purchase_id,
        |  coalesce(r.event_id, -1) AS signup_id
        |FROM (SELECT user_id, event_id FROM events WHERE event_type = 'purchase') l
        |LEFT JOIN (SELECT user_id, event_id FROM events WHERE event_type = 'signup') r
        |  USING (user_id)
        |ORDER BY user_id, purchase_id, signup_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = asGEvents(s, dir)
      val out = StreamingLeftOuterJoin(s,
        left = ev.filter(col("kind") === "purchase").as[GEvent],
        right = ev.filter(col("kind") === "signup").as[GEvent])
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st29_out")
        .groupBy(col("key"), col("leftId"), col("rightId"))
        .agg(sum(when(col("_change_kind") === "+I", 1).otherwise(-1)).as("_net"))
        .filter(col("_net") > 0)
        .select(col("key").as("user_id"), col("leftId").as("purchase_id"),
          col("rightId").as("signup_id"))
        .orderBy("user_id", "purchase_id", "signup_id")
    },

    // Unbounded FULL OUTER stream-stream join: pads on BOTH sides,
    // each retracted when that side's first match arrives; st29's
    // left-outer sibling (RIGHT OUTER = sides swapped). Restricted to
    // users in disjoint halves so both pad directions occur.
    q("st30_stream_full_outer",
      """WITH l AS (SELECT user_id, event_id FROM events
        |           WHERE event_type = 'purchase' AND user_id % 3 = 0),
        |r AS (SELECT user_id, event_id FROM events
        |      WHERE event_type = 'signup' AND user_id % 2 = 0)
        |SELECT coalesce(l.user_id, r.user_id) AS user_id,
        |  coalesce(l.event_id, -1) AS purchase_id,
        |  coalesce(r.event_id, -1) AS signup_id
        |FROM l FULL OUTER JOIN r ON l.user_id = r.user_id
        |ORDER BY user_id, purchase_id, signup_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = asGEvents(s, dir)
      val out = StreamingFullOuterJoin(s,
        left = ev.filter(col("kind") === "purchase" && col("key") % 3 === 0)
          .as[GEvent],
        right = ev.filter(col("kind") === "signup" && col("key") % 2 === 0)
          .as[GEvent])
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st30_out")
        .groupBy(col("key"), col("leftId"), col("rightId"))
        .agg(sum(when(col("_change_kind") === "+I", 1).otherwise(-1)).as("_net"))
        .filter(col("_net") > 0)
        .select(col("key").as("user_id"), col("leftId").as("purchase_id"),
          col("rightId").as("signup_id"))
        .orderBy("user_id", "purchase_id", "signup_id")
    },

    // Streaming ITERATION (DataStream.iterate / IterativeStream):
    // incremental connected components over the user–event-type
    // bipartite graph of the event stream — fixpoint label propagation
    // inside each micro-batch, converged labels fed back as the next
    // batch's seed. Type nodes are offset arithmetic on the type
    // string (engine-agnostic, no hash). Output: per-component sizes
    // over USER nodes only.
    q("st31_stream_iteration_cc",
      """WITH e0 AS (SELECT DISTINCT user_id AS src,
        |    1000000 + (user_id % 7) * 1000
        |      + ascii(substr(event_type, 1, 1)) * 10 + length(event_type) AS dst
        |  FROM events),
        |nodes AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
        |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
        |          UNION ALL SELECT node, node FROM nodes),
        |lbl AS (
        |  WITH RECURSIVE r AS (
        |    SELECT 0 AS it, node, node AS label FROM nodes
        |    UNION ALL
        |    SELECT it + 1, node, label FROM (
        |      SELECT r.it AS it, e.dst AS node, min(r.label) AS label
        |      FROM r JOIN edges e ON e.src = r.node
        |      WHERE r.it < 8 GROUP BY r.it, e.dst))
        |  SELECT node, label FROM r WHERE it = 8)
        |SELECT label AS component, count(*) AS n_users, min(node) AS min_user
        |FROM lbl WHERE node < 1000000
        |GROUP BY label ORDER BY component""".stripMargin) { (s, dir) =>
      val edges = eventStream(s, dir).select(
        col("user_id").as("src"),
        (lit(1000000) + (col("user_id") % 7) * 1000 +
          ascii(substring(col("event_type"), 1, 1)) * 10 +
          length(col("event_type"))).cast("long").as("dst")).distinct()
      val labels = graft.streaming.StreamingGraphCC.run(s, edges,
        maxIterationsPerBatch = 8)
      labels.filter(col("node") < 1000000L)
        .groupBy(col("label").as("component"))
        .agg(count(lit(1)).as("n_users"), min("node").as("min_user"))
        .orderBy("component")
    },

    // Streaming RANGE-frame OVER: per-user 30-minute trailing sum.
    q("st12_stream_range_over",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT user_id, event_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id ORDER BY ts
        |          RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW) AS DOUBLE) AS frame_sum,
        |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts
        |          RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW) AS INT) AS n_in_frame
        |FROM events, wm WHERE epoch_us(ts) <= wm.wm_us
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val out = StreamingRangeOverAgg(s, asGEvents(s, dir),
        rangeMicros = 1800L * 1000000L, watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st12_out")
        .select(col("key").as("user_id"), col("id").as("event_id"),
          col("frameSum").cast(DoubleType).as("frame_sum"),
          col("nInFrame").as("n_in_frame"))
        .orderBy("user_id", "event_id")
    },

    // Unbounded stream-stream join (no time bound — symmetric hash in
    // state; Spark's native join can't express this without a bound).
    q("st9_stream_join_unbounded",
      """SELECT a.user_id, a.event_id AS signup_id, b.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'signup') a
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        |ORDER BY a.user_id, signup_id, purchase_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = asGEvents(s, dir)
      val out = StreamingSymmetricJoin(s,
        left = ev.filter(_.kind == "signup"),
        right = ev.filter(_.kind == "purchase"))
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st9_out")
        .select(col("key").as("user_id"), col("leftId").as("signup_id"),
          col("rightId").as("purchase_id"))
        .orderBy("user_id", "signup_id", "purchase_id")
    },

    // Streaming temporal sort (RowTimeSortOperator.java:43): buffered
    // rows released in (event-time, id) order as the watermark passes
    // them; emit_seq is the per-user watermark-ordered position.
    q("st13_stream_sort",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT user_id, event_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS emit_seq
        |FROM events, wm WHERE epoch_us(ts) <= wm.wm_us
        |ORDER BY user_id, emit_seq""".stripMargin) { (s, dir) =>
      import s.implicits._
      val out = StreamingTemporalSort(s, asGEvents(s, dir),
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st13_out")
        .select(col("key").as("user_id"), col("id").as("event_id"),
          col("emitSeq").as("emit_seq"))
        .orderBy("user_id", "emit_seq")
    },

    // Early/on-time/late window firing with allowed lateness
    // (WindowEmitStrategy.scala:33-40): hourly count per event type;
    // every open window previews an EARLY fire (batch 1, watermark
    // still 0), then fires ON TIME once the true watermark passes its
    // end. The 10-minute lateness budget rides on the declared
    // watermark (11 min = 1 min delay + 10 min lateness), so the true
    // watermark in the oracle is max(ts) − 1 min.
    q("st14_late_fire",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |counts AS (SELECT event_type, date_trunc('hour', ts) AS wstart, count(*) AS n
        |           FROM events GROUP BY 1, 2)
        |SELECT event_type, wstart, 'early' AS phase, 0 AS fire_seq, n FROM counts
        |UNION ALL
        |SELECT c.event_type, c.wstart, 'ontime', 1, c.n FROM counts c, wm
        |WHERE epoch_us(c.wstart + INTERVAL 1 HOUR) <= wm.wm_us
        |ORDER BY event_type, wstart, fire_seq""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = eventStream(s, dir).select(
          col("event_type").as("key"), unix_micros(col("ts")).as("tsMicros"),
          col("event_id").as("id"))
        .as[WEvent]
      val out = StreamingLateFireWindow(s, ev,
        windowMicros = 3600000000L,
        watermarkDelayWithLateness = "11 minutes",
        latenessMicros = 600000000L)
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st14_out")
        .select(col("key").as("event_type"),
          timestamp_micros(col("wstartMicros")).as("wstart"),
          col("phase"), col("fireSeq").as("fire_seq"), col("n"))
        .orderBy("event_type", "wstart", "fire_seq")
    },

    // connect / CoProcessFunction analog (DataStream.java:259): error
    // events mute a user, signups unmute; every click/purchase/view is
    // emitted with the gate state in force when it happened, resolved
    // deterministically in event-time order at watermark maturity.
    q("st15_connect",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts_us, event_type,
        |    coalesce(last_value(CASE WHEN event_type = 'error' THEN true
        |                             WHEN event_type = 'signup' THEN false END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), false) AS muted
        |  FROM e)
        |SELECT user_id, event_id, muted FROM flagged, wm
        |WHERE event_type IN ('click', 'purchase', 'view') AND ts_us <= wm.wm_us
        |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val out = StreamingConnect(s, asGEvents(s, dir),
        controlOn = "error", controlOff = "signup", watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st15_out")
        .select(col("key").as("user_id"), col("id").as("event_id"), col("muted"))
        .orderBy("user_id", "event_id")
    },

    // Streaming CEP: signup followedBy purchase within 2h; B-side
    // maturity = watermark (mirrored in the oracle).
    q("st6_stream_cep",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |a AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'signup'),
        |b AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        |      WHERE event_type = 'purchase'),
        |m AS (SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |        row_number() OVER (PARTITION BY a.user_id, a.event_id
        |                           ORDER BY b.ts_us, b.event_id) AS rn
        |      FROM a JOIN b ON a.user_id = b.user_id
        |        AND b.ts_us > a.ts_us AND b.ts_us < a.ts_us + 7200000000
        |      JOIN wm ON b.ts_us <= wm.wm_us)
        |SELECT user_id, a_id, b_id FROM m WHERE rn = 1
        |ORDER BY user_id, a_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val out = StreamingCEP(s, asGEvents(s, dir), aKind = "signup",
        bKind = "purchase", withinMicros = 7200L * 1000000L,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st6_out")
        .select(col("key").as("user_id"), col("aId").as("a_id"), col("bId").as("b_id"))
        .orderBy("user_id", "a_id")
    },

    // Streaming WINDOW JOIN (DataStream join(...).window(tumble) —
    // the reference's JoinedStreams/WindowJoin): two streams joined on
    // (user, same 1-hour tumbling window). The window struct is part
    // of the stream-stream equi-join key, which also gives Spark the
    // state-cleanup bound (state for a window drops once the watermark
    // passes it). Inner join ⇒ matches emit as soon as both sides
    // arrive; the oracle is the plain windowed equi-join.
    q("st18_window_join",
      """SELECT v.user_id, date_trunc('hour', v.ts) AS wstart,
        |  v.event_id AS view_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND date_trunc('hour', v.ts) = date_trunc('hour', p.ts)
        |ORDER BY view_id, purchase_id""".stripMargin) { (s, dir) =>
      val v = eventStream(s, dir).filter(col("event_type") === "view")
        .withWatermark("ts", "1 minute")
        .select(col("user_id"), window(col("ts"), "1 hour").as("w"),
          col("event_id").as("view_id"))
      val p = eventStream(s, dir).filter(col("event_type") === "purchase")
        .withWatermark("ts", "1 minute")
        .select(col("user_id").as("p_user"), window(col("ts"), "1 hour").as("p_w"),
          col("event_id").as("purchase_id"))
      val joined = v.join(p,
        col("user_id") === col("p_user") && col("w") === col("p_w"))
      StreamRunner.toTable(s, joined, OutputMode.Append, "st18_out")
        .select(col("user_id"), col("w.start").as("wstart"),
          col("view_id"), col("purchase_id"))
        .orderBy("view_id", "purchase_id")
    },

    // End-to-end SQL DDL pipeline: CREATE TABLE ... WITH ('mode'=
    // 'streaming') + WATERMARK FOR clause (SqlCreateTable/SqlWatermark
    // surface) binds a watermarked file stream, and the registered
    // view feeds a daily tumbling aggregate in append mode — the
    // DDL→connector→watermark→window path the reference's catalog
    // drives, oracle-checked rather than spec-only.
    q("st19_ddl_pipeline",
      """WITH wm AS (SELECT (epoch_ms(max(o_orderdate)) - 86400000) * 1000 AS wm_us
        |            FROM orders),
        |d AS (SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS wstart,
        |        count(*) AS n,
        |        CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |      FROM orders GROUP BY 1)
        |SELECT wstart, n, total FROM d, wm
        |WHERE epoch_us(wstart + INTERVAL 1 DAY) <= wm.wm_us
        |ORDER BY wstart""".stripMargin) { (s, dir) =>
      graft.sources.GraftDDL.execute(s,
        s"""CREATE TABLE ddl_orders_pipeline (
           |  o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
           |  o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING,
           |  WATERMARK FOR o_orderdate AS o_orderdate - INTERVAL '1' DAY
           |) WITH ('connector'='filesystem', 'path'='$dir/orders.parquet',
           |        'format'='parquet', 'mode'='streaming')""".stripMargin)
      val agg = s.table("ddl_orders_pipeline")
        .groupBy(window(col("o_orderdate"), "1 day"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(dec18_2)).cast(DoubleType).as("total"))
      StreamRunner.toTable(s, agg, OutputMode.Append, "st19_out")
        .select(col("window.start").as("wstart"), col("n"), col("total"))
        .orderBy("wstart")
    },

    // Streaming CUMULATE windows (gw8's streaming sibling): each event
    // explodes into its containing expanding windows; the window END
    // becomes the event-time column, so ordinary append-mode tumbling
    // aggregation over wend gives exactly the cumulate emission — a
    // window's partial emits once its end passes the watermark, state
    // dropped after.
    q("st20_stream_cumulate",
      """WITH wm AS (SELECT (epoch_ms(CAST(date_trunc('day', max(ts)) AS TIMESTAMP)
        |                    + to_hours(24)) - 60000) * 1000 AS wm_us FROM events),
        |x AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS wstart, value,
        |        unnest(generate_series(CAST(floor(hour(ts) / 6) AS INT) + 1, 4)) AS k
        |      FROM events),
        |a AS (SELECT wstart, wstart + to_hours(6 * k) AS wend, count(*) AS n,
        |        CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |      FROM x GROUP BY wstart, k)
        |SELECT wstart, wend, n, total FROM a, wm
        |WHERE epoch_us(wend + to_hours(6)) <= wm_us
        |ORDER BY wstart, wend""".stripMargin) { (s, dir) =>
      val x = eventStream(s, dir)
        .select(date_trunc("day", col("ts")).as("wstart"), col("value"),
          explode(sequence(
            (floor(hour(col("ts")) / 6) + 1).cast(IntegerType), lit(4))).as("k"))
        .select(col("wstart"), col("value"),
          (col("wstart") + expr("make_interval(0, 0, 0, 0, 6 * k)")).as("wend"))
        .withWatermark("wend", "1 minute")
      val agg = x.groupBy(window(col("wend"), "6 hours"), col("wstart"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(dec18_2)).cast(DoubleType).as("total"))
      StreamRunner.toTable(s, agg, OutputMode.Append, "st20_out")
        .select(col("wstart"), col("window.start").as("wend"),
          col("n"), col("total"))
        .orderBy("wstart", "wend")
    },

    // STREAMING MATCH_RECOGNIZE with a general pattern (A C? P): the
    // batch clause compiles onto the incremental NFA
    // (StreamingMatchRecognize): keyed state buffers one WITHIN of
    // (ts, id, bitmask) triples; a match emits exactly when its
    // anchor's window is final (anchor ts + within <= watermark), so
    // the oracle is the batch NFA restricted to MATURE anchors at the
    // bounded stream's final watermark.
    q("st22_stream_match_recognize",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + 7200000000 <= wm.wm_us),
        |j AS (
        |  SELECT a.user_id, a.a_id, a.a_us,
        |    n1.event_type AS t1, n1.event_id AS id1, n1.ts_us AS us1,
        |    n2.event_type AS t2, n2.event_id AS id2, n2.ts_us AS us2
        |  FROM a
        |  LEFT JOIN ev n1 ON n1.user_id = a.user_id AND n1.rn = a.a_rn + 1
        |  LEFT JOIN ev n2 ON n2.user_id = a.user_id AND n2.rn = a.a_rn + 2),
        |sel AS (
        |  SELECT *,
        |    (t1 = 'click' AND us1 < a_us + 7200000000 AND t2 = 'purchase'
        |      AND us2 < a_us + 7200000000) AS withc,
        |    (t1 = 'purchase' AND us1 < a_us + 7200000000) AS noc
        |  FROM j)
        |SELECT user_id AS key, a_id AS anchor_id,
        |  CASE WHEN withc THEN id2 ELSE id1 END AS end_id,
        |  CASE WHEN withc THEN a_id || ',' || id1 || ',' || id2
        |       ELSE a_id || ',' || id1 END AS chain,
        |  '' AS counts
        |FROM sel WHERE withc OR noc
        |ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      val out = graft.streaming.StreamingMatchRecognize(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A C? P) WITHIN INTERVAL '2' HOUR
          |  DEFINE A AS kind = 'signup', C AS kind = 'click',
          |         P AS kind = 'purchase')""".stripMargin,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st22_out")
        .orderBy("key", "anchor_id")
    },

    // STREAMING MATCH_RECOGNIZE **WITH MEASURES** — the reference's
    // full streaming surface (StreamExecMatch: MEASURES + ONE ROW PER
    // MATCH on an unbounded stream). Measure columns ride through
    // keyed state (join-back is impossible against an unbounded
    // stream); per-match aggregates fold at anchor maturity, and
    // MATCH_NUMBER() is the per-key emitted-match sequence carried in
    // state across micro-batches. Oracle: the batch measures oracle
    // (mr3 shape) restricted to anchors mature at the bounded
    // stream's final watermark.
    q("st23_stream_mr_measures",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |r AS (
        |  SELECT a.*, (SELECT min(x.rn) FROM ev x
        |    WHERE x.user_id = a.user_id AND x.rn > a.a_rn
        |      AND x.event_type <> 'click') AS erun
        |  FROM a),
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun,
        |    p.value AS p_val, lc.ts_us AS lc_us
        |  FROM r
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 1
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.ts_us < r.a_us + $H72),
        |agg AS (
        |  SELECT m.user_id, m.a_id, m.a_us, m.p_val, m.lc_us,
        |    count(*) AS n_clicks, round(avg(b.value), 6) AS avg_click_value
        |  FROM m JOIN ev b ON b.user_id = m.user_id
        |    AND b.rn BETWEEN m.a_rn + 1 AND m.erun - 1
        |  GROUP BY ALL)
        |SELECT user_id AS key,
        |  row_number() OVER (PARTITION BY user_id ORDER BY a_us, a_id)
        |    AS match_seq,
        |  n_clicks, avg_click_value, lc_us AS last_click_us,
        |  p_val AS purchase_value
        |FROM agg ORDER BY key, match_seq""".stripMargin) { (s, dir) =>
      val out = graft.streaming.StreamingMatchRecognize.measures(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           COUNT(B.id) AS n_clicks,
          |           ROUND(AVG(B.value), 6) AS avg_click_value,
          |           LAST(B.tsMicros) AS last_click_us,
          |           P.value AS purchase_value
          |  ONE ROW PER MATCH
          |  PATTERN (A B+ P) WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup', B AS kind = 'click',
          |         P AS kind = 'purchase')""".stripMargin,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out, OutputMode.Append, "st23_out")
        .orderBy("key", "match_seq")
    },

    // Streaming rank through SQL TEXT (FlinkLogicalRankRule surface):
    // the user writes the standard row_number()<=N rank query against
    // the streaming view — a surface Spark rejects outright — and
    // StreamingRankRule recognizes the Filter…Window(row_number) shape
    // and plans StreamingTopN (st4's operator). Changelog folded to
    // the final per-key revision, exactly like st4.
    q("st24_rank_sql",
      """SELECT user_id, rank, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
        |  FROM events)
        |WHERE rank <= 2
        |ORDER BY user_id, rank""".stripMargin) { (s, dir) =>
      asGEvents(s, dir).toDF().createOrReplaceTempView("rank_sql_events")
      val routed = graft.plans.StreamingRankRule.sql(s,
        """SELECT key, id, value, rn FROM (
          |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY value DESC, id) AS rn
          |  FROM rank_sql_events)
          |WHERE rn <= 2""".stripMargin)
      val table = StreamRunner.toTable(s, routed, OutputMode.Update, "st24_out")
      val lastSeq = table.groupBy(col("key")).agg(max("emitSeq").as("emitSeq"))
        .select(col("key").as("_k"), col("emitSeq").as("_s"))
      table.join(lastSeq, col("key") === col("_k") && col("emitSeq") === col("_s"))
        .select(col("key").as("user_id"), col("rank"), col("id").as("event_id"),
          col("value"))
        .orderBy("user_id", "rank")
    },

    // Streaming EVENT-TIME keep-first dedup through SQL text
    // (StreamExecDeduplicateRule route of StreamingRankRule): rn=1
    // ordered by event time routes to StreamingDedupKeepFirst — the
    // rowtime DeduplicateKeepFirstRowFunction, emitting each group's
    // (ts, id)-minimal row exactly once at watermark maturity, so the
    // streamed result equals the batch rank-1 row for every group the
    // watermark passed (arrival-order dropDuplicates could not be
    // oracle-checked: which row arrives first is a partition race).
    q("st25_dedup_sql",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT user_id, event_type, event_id, first_ts_us FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS first_ts_us,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events) r, wm
        |WHERE rn = 1 AND first_ts_us <= wm.wm_us
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      asGEvents(s, dir).toDF().createOrReplaceTempView("dedup_sql_events")
      val routed = graft.plans.StreamingRankRule.sql(s,
        """SELECT * FROM (
          |  SELECT *, row_number() OVER (PARTITION BY key, kind
          |                               ORDER BY tsMicros, id) AS rn
          |  FROM dedup_sql_events)
          |WHERE rn = 1""".stripMargin)
      StreamRunner.toTable(s, routed, OutputMode.Append, "st25_out")
        .select(col("key").as("user_id"), col("kind").as("event_type"),
          col("id").as("event_id"), col("tsMicros").as("first_ts_us"))
        .orderBy("user_id", "event_type")
    },

    // Streaming keep-LAST dedup through SQL text (the other
    // StreamExecDeduplicateRule route): rn=1 ORDER BY time DESC routes
    // to StreamingDedupKeepLast — an UPDATE stream whose fold
    // (max emitSeq per group) is the event-time-latest row regardless
    // of arrival order; no watermark wait, state = one row per group.
    q("st26_dedup_last_sql",
      """SELECT user_id, event_type, event_id, last_ts_us FROM (
        |  SELECT user_id, event_type, event_id, epoch_us(ts) AS last_ts_us,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) r
        |WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      asGEvents(s, dir).toDF().createOrReplaceTempView("dedup_last_events")
      val routed = graft.plans.StreamingRankRule.sql(s,
        """SELECT * FROM (
          |  SELECT *, row_number() OVER (PARTITION BY key, kind
          |                               ORDER BY tsMicros DESC, id DESC) AS rn
          |  FROM dedup_last_events)
          |WHERE rn = 1""".stripMargin)
      val table = StreamRunner.toTable(s, routed, OutputMode.Update, "st26_out")
      val lastSeq = table.groupBy(col("key"), col("kind"))
        .agg(max("emitSeq").as("emitSeq"))
        .select(col("key").as("_k"), col("kind").as("_kd"), col("emitSeq").as("_s"))
      table.join(lastSeq, col("key") === col("_k") && col("kind") === col("_kd")
          && col("emitSeq") === col("_s"))
        .select(col("key").as("user_id"), col("kind").as("event_type"),
          col("id").as("event_id"), col("tsMicros").as("last_ts_us"))
        .orderBy("user_id", "event_type")
    },

    // Group-window SQL TEXT on a STREAM — the reference's single
    // most-used streaming SQL form (WindowAggregateITCase's
    // `GROUP BY TUMBLE(ts, INTERVAL ...)`): the text goes through
    // spark.sql, GraftSqlParser rewrites it to window(), and Spark
    // plans its incremental windowed aggregation against the view's
    // watermark — each window emits once at maturity (Append), state
    // dropped after. The watermark travels with the temp view (it's
    // an EventTimeWatermark node in the captured plan).
    q("st32_tumble_sql",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT wstart, wend, event_type, n, total FROM (
        |  SELECT date_trunc('hour', ts) AS wstart,
        |    date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
        |    event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events GROUP BY 1, 2, 3), wm
        |WHERE epoch_us(wend) <= wm.wm_us
        |ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
      eventStream(s, dir).withWatermark("ts", "1 minute")
        .createOrReplaceTempView("st32_events")
      val agg = s.sql(
        """SELECT TUMBLE_START(ts, INTERVAL '1' HOUR) AS wstart,
          |       TUMBLE_END(ts, INTERVAL '1' HOUR) AS wend,
          |       event_type, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM st32_events
          |GROUP BY event_type, TUMBLE(ts, INTERVAL '1' HOUR)""".stripMargin)
      require(agg.isStreaming, "st32: TUMBLE SQL text lost the stream")
      StreamRunner.toTable(s, agg, OutputMode.Append, "st32_out")
        .orderBy("wstart", "event_type")
    },

    // Session-window SQL TEXT on a STREAM (WindowAggregateITCase's
    // `GROUP BY SESSION(ts, INTERVAL ...)` — the merging-window half
    // of the reference's group-window text family): the text rewrites
    // to session_window() and Spark plans its incremental MERGING
    // session aggregation against the view's watermark — sessions
    // emit once closed (Append), state dropped. The oracle is the
    // batch islands computation with the same watermark cutoff.
    q("st35_session_sql",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, wstart, wend, n FROM (
        |  SELECT user_id, min(ts) AS wstart,
        |    max(ts) + INTERVAL 30 MINUTE AS wend, count(*) AS n
        |  FROM sess GROUP BY user_id, sid), wm
        |WHERE epoch_us(wend) <= wm.wm_us
        |ORDER BY user_id, wstart""".stripMargin) { (s, dir) =>
      eventStream(s, dir).withWatermark("ts", "1 minute")
        .createOrReplaceTempView("st35_events")
      val agg = s.sql(
        """SELECT SESSION_START(ts, INTERVAL '30' MINUTE) AS wstart,
          |       SESSION_END(ts, INTERVAL '30' MINUTE) AS wend,
          |       user_id, count(*) AS n
          |FROM st35_events
          |GROUP BY user_id, SESSION(ts, INTERVAL '30' MINUTE)""".stripMargin)
      require(agg.isStreaming, "st35: SESSION SQL text lost the stream")
      StreamRunner.toTable(s, agg, OutputMode.Append, "st35_out")
        .select("user_id", "wstart", "wend", "n")
        .orderBy("user_id", "wstart")
    },

    // Upsert sink (UpsertStreamTableSink.java:55 — the changelog
    // materialization upsert-kafka/JDBC sinks perform, here against
    // the operator's own bucketed parquet store since external systems
    // are unreachable): events become (flag, key, seq, value) messages
    // — 'error' events delete their user, everything else upserts —
    // and the final table is the per-key seq-max surviving row. The
    // oracle computes the same last-writer-wins fold in SQL.
    q("ty17_upsert_sink",
      """SELECT user_id, v FROM (
        |  SELECT user_id, CAST(value AS DOUBLE) AS v, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val out = java.nio.file.Files.createTempDirectory("ty17_upsert").toString
      val changelog = eventStream(s, dir).select(
        col("user_id"),
        unix_micros(col("ts")).as("seq_ts"),
        col("event_id"),
        (col("event_type") =!= "error").as("upsert"),
        col("value").cast("double").as("v"))
      graft.operators.UpsertSink.run(s, changelog, out,
        keyCols = Seq("user_id"), seqCols = Seq("seq_ts", "event_id"))
      graft.operators.UpsertSink.read(s, out)
        .select("user_id", "v").orderBy("user_id")
    },

    // State-processor-api analog (flink-state-processor-api's
    // savepoint READER): a checkpointed streaming aggregation builds
    // keyed state; the RESULT returned here is not the query's sink
    // output but the checkpoint's state store read OFFLINE through
    // Spark's `statestore` source — so the oracle (a plain batch
    // GROUP BY) validates the offline reader end-to-end. Scan is
    // parallel by state partition; no driver materialization.
    q("st33_state_reader",
      """SELECT user_id, count(*) AS n FROM events
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val ckptPath = java.nio.file.Files.createTempDirectory("st33_ckpt")
      val ckpt = ckptPath.toString
      val agg = eventStream(s, dir).groupBy("user_id").count()
      // through StreamRunner so the 4-partition state-store discipline
      // (init/commit cost per store per micro-batch) applies here too
      StreamRunner.toTable(s, agg, OutputMode.Update, "st33_sink",
        checkpointDir = Some(ckpt))
      // bounded-drive hygiene: the per-invocation checkpoint tree
      // (state store + offsets + commits) would otherwise accumulate
      // across bench/verify sweeps — freed at JVM exit, AFTER the
      // lazily-planned reader below has been consumed
      deleteAtExit(ckptPath)
      graft.streaming.StateProcessor.readState(s, ckpt)
        .selectExpr("key.user_id AS user_id", "value.count AS n")
        .orderBy("user_id")
    },

    // STREAMING group-window TABLE aggregate (SURVEY §2.4 —
    // StreamExecGroupWindowTableAggregate: a TableAggregateFunction
    // emitting MULTIPLE rows per window on a stream). Append mode: the
    // top-2 array materializes when the watermark closes the window
    // and the window's state drops; the stateless posexplode after the
    // windowed aggregate fans the emission back out to rows — the
    // reference's emitValue-per-window. Oracle = closed windows only.
    q("st34_stream_window_table_agg",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT wstart, rank, event_id, value FROM (
        |  SELECT date_trunc('hour', ts) AS wstart, event_id, value,
        |    row_number() OVER (PARTITION BY date_trunc('hour', ts)
        |                       ORDER BY value DESC, event_id) AS rank
        |  FROM events), wm
        |WHERE rank <= 2 AND epoch_us(wstart + INTERVAL 1 HOUR) <= wm.wm_us
        |ORDER BY wstart, rank""".stripMargin) { (s, dir) =>
      val agg = eventStream(s, dir)
        .withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour").as("w"))
        .agg(slice(reverse(array_sort(collect_list(
          struct(col("value"), (lit(Long.MaxValue) - col("event_id")).as("_inv"),
            col("event_id"))))), 1, 2).as("top2"))
      StreamRunner.toTable(s, agg, OutputMode.Append, "st34_out")
        .select(col("w.start").as("wstart"), posexplode(col("top2")))
        .select(col("wstart"), (col("pos") + 1).as("rank"),
          col("col.event_id").as("event_id"), col("col.value").as("value"))
        .orderBy("wstart", "rank")
    },

    // STREAMING CEP timeout side output (PatternStream.java:175
    // select(timeoutFunction) / TimedOutPartialMatchHandler): pattern
    // signup → click → purchase within 2h; when an anchor's window is
    // provably complete (maturity at the watermark) without a full
    // match, the longest bound prefix emits — exactly when the
    // reference's within-timer fires. Oracle = the batch timeout scan
    // (cep12) restricted to anchors mature at the bounded stream's
    // final watermark.
    q("st36_cep_timeouts",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + 7200000000 <= wm.wm_us),
        |j AS (
        |  SELECT a.user_id, a.a_id, a.a_us,
        |    n1.event_type AS t1, n1.event_id AS id1, n1.ts_us AS us1,
        |    n2.event_type AS t2, n2.ts_us AS us2
        |  FROM a
        |  LEFT JOIN ev n1 ON n1.user_id = a.user_id AND n1.rn = a.a_rn + 1
        |  LEFT JOIN ev n2 ON n2.user_id = a.user_id AND n2.rn = a.a_rn + 2),
        |tmo AS (
        |  SELECT *,
        |    coalesce(t1 = 'click' AND us1 < a_us + 7200000000, false)
        |      AS boundc
        |  FROM j
        |  WHERE (t1 = 'click' AND us1 < a_us + 7200000000
        |    AND t2 = 'purchase' AND us2 < a_us + 7200000000) IS NOT TRUE)
        |SELECT user_id AS key, a_id AS anchor_id,
        |  CASE WHEN boundc THEN id1 ELSE a_id END AS last_id,
        |  CASE WHEN boundc THEN 2 ELSE 1 END AS n_bound
        |FROM tmo ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      val out = graft.streaming.StreamingMatchRecognize.timeouts(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A C P) WITHIN INTERVAL '2' HOUR
          |  DEFINE A AS kind = 'signup', C AS kind = 'click',
          |         P AS kind = 'purchase')""".stripMargin,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st36_out")
        .select(col("key"), col("anchor_id"), col("last_id"), col("n_bound"))
        .orderBy("key", "anchor_id")
    },

    // STREAMING MATCH_RECOGNIZE with CROSS-VARIABLE DEFINE predicates
    // (IterativeCondition.java:52 on the unbounded stream): the same
    // navigation clause mr6 runs in batch — B's clicks must beat the
    // anchor's value, P's purchase must beat the FIRST loop element —
    // evaluated incrementally against keyed state carrying the nav
    // values. Oracle = mr6's greedy-run/shrink oracle restricted to
    // anchors mature at the bounded stream's final watermark (the
    // emitted set is batch-identical by the maturity contract).
    q("st37_stream_mr_navigation",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn,
        |         value AS a_val
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |r AS (
        |  SELECT a.*, (SELECT min(x.rn) FROM ev x
        |    WHERE x.user_id = a.user_id AND x.rn > a.a_rn
        |      AND NOT (x.event_type = 'click' AND x.value > a.a_val)) AS erun
        |  FROM a),
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_rn, r.erun,
        |    b1.event_id AS b1_id, p.event_id AS p_id
        |  FROM r
        |  JOIN ev b1 ON b1.user_id = r.user_id AND b1.rn = r.a_rn + 1
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 1
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.value > b1.value
        |    AND p.ts_us < r.a_us + $H72)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || b1_id || ',' || p_id AS chain,
        |  'B:' || (erun - a_rn - 1) AS counts
        |FROM m ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      val out = graft.streaming.StreamingMatchRecognize(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A B+ P) WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup',
          |         B AS kind = 'click' AND B.value > A.value,
          |         P AS kind = 'purchase' AND P.value > FIRST(B.value))""".stripMargin,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st37_out")
        .orderBy("key", "anchor_id")
    },

    // STREAMING AFTER MATCH SKIP TO FIRST B: the inclusive re-arm mark
    // must survive in keyed state ACROSS micro-batches (the Mark the
    // batch scan advances per match). Under STRICT contiguity with
    // disjoint kinds the mark never excludes an anchor (no signup can
    // sit inside a match's bound span), so the oracle is the plain
    // strict match set — the cross-batch mark plumbing is what's
    // exercised; the exclusion behavior itself is pinned batch-side by
    // cep13 (the CEP API door, where relaxed gaps make it observable).
    q("st38_stream_skip_to_first",
      s"""WITH wm AS (
        |  SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |r AS (
        |  SELECT a.*, (SELECT min(x.rn) FROM ev x
        |    WHERE x.user_id = a.user_id AND x.rn > a.a_rn
        |      AND x.event_type <> 'click') AS erun
        |  FROM a),
        |m AS (
        |  SELECT r.user_id, r.a_id, r.a_rn, r.erun,
        |    b1.event_id AS b1_id, p.event_id AS p_id
        |  FROM r
        |  JOIN ev b1 ON b1.user_id = r.user_id AND b1.rn = r.a_rn + 1
        |  JOIN ev lc ON lc.user_id = r.user_id AND lc.rn = r.erun - 1
        |  JOIN ev p ON p.user_id = r.user_id AND p.rn = r.erun
        |  WHERE r.erun > r.a_rn + 1
        |    AND lc.ts_us < r.a_us + $H72
        |    AND p.event_type = 'purchase' AND p.ts_us < r.a_us + $H72)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || b1_id || ',' || p_id AS chain,
        |  'B:' || (erun - a_rn - 1) AS counts
        |FROM m ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      val out = graft.streaming.StreamingMatchRecognize(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  AFTER MATCH SKIP TO FIRST B
          |  PATTERN (A B+ P) WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup', B AS kind = 'click',
          |         P AS kind = 'purchase')""".stripMargin,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st38_out")
        .orderBy("key", "anchor_id")
    },

    // STREAMING GROUP PATTERN through the CEP API door (the
    // reference's CEP.pattern(stream, …) — GroupPattern.java has no
    // SQL clause form): (C P){1,2} greedy on the unbounded stream,
    // emitted at anchor maturity. Oracle = cep14's nested-EXISTS
    // completion scan cut at the final watermark.
    q("st39_stream_group_pattern",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |k2 AS (
        |  SELECT a.user_id, a.a_id, c1.event_id AS c1_id, p1.event_id AS p1_id,
        |    c2.event_id AS c2_id, p2.event_id AS p2_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev x1 WHERE x1.user_id = a.user_id
        |        AND x1.event_type = 'purchase' AND x1.ts_us > e.ts_us
        |        AND x1.ts_us < a.a_us + $H72
        |        AND EXISTS (SELECT 1 FROM ev x2 WHERE x2.user_id = a.user_id
        |          AND x2.event_type = 'click' AND x2.ts_us > x1.ts_us
        |          AND x2.ts_us < a.a_us + $H72
        |          AND EXISTS (SELECT 1 FROM ev x3 WHERE x3.user_id = a.user_id
        |            AND x3.event_type = 'purchase' AND x3.ts_us > x2.ts_us
        |            AND x3.ts_us < a.a_us + $H72)))
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c1 ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c1.ts_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev x2 WHERE x2.user_id = a.user_id
        |        AND x2.event_type = 'click' AND x2.ts_us > e.ts_us
        |        AND x2.ts_us < a.a_us + $H72
        |        AND EXISTS (SELECT 1 FROM ev x3 WHERE x3.user_id = a.user_id
        |          AND x3.event_type = 'purchase' AND x3.ts_us > x2.ts_us
        |          AND x3.ts_us < a.a_us + $H72))
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p1 ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > p1.ts_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev x3 WHERE x3.user_id = a.user_id
        |        AND x3.event_type = 'purchase' AND x3.ts_us > e.ts_us
        |        AND x3.ts_us < a.a_us + $H72)
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c2 ON true
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c2.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p2 ON true),
        |k1 AS (
        |  SELECT a.user_id, a.a_id, c1.event_id AS c1_id, p1.event_id AS p1_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev x1 WHERE x1.user_id = a.user_id
        |        AND x1.event_type = 'purchase' AND x1.ts_us > e.ts_us
        |        AND x1.ts_us < a.a_us + $H72)
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c1 ON true
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c1.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p1 ON true)
        |SELECT user_id AS key, a_id AS anchor_id, p2_id AS end_id,
        |  a_id || ',' || c1_id || ',' || p1_id || ',' || c2_id || ',' || p2_id
        |    AS chain, 'G:2' AS counts
        |FROM k2
        |UNION ALL
        |SELECT k1.user_id, k1.a_id, k1.p1_id,
        |  k1.a_id || ',' || k1.c1_id || ',' || k1.p1_id, 'G:1'
        |FROM k1
        |ORDER BY key, anchor_id, counts""".stripMargin) { (s, dir) =>
      import graft.operators.PatternNFA.{GroupTimes, NoSkip, Step}
      val out = graft.streaming.StreamingMatchRecognize.pattern(
        s, asGEvents(s, dir).toDF(),
        Seq(Step("A", "signup"),
          Step("G", "", GroupTimes(
            Seq(Step("C", "click"), Step("P", "purchase")), 1, 2))),
        withinMicros = H72, afterMatch = NoSkip,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st39_out")
        .orderBy("key", "anchor_id", "counts")
    },

    // STREAMING NO SKIP through the CEP API door (the reference's CEP
    // default — AfterMatchSkipStrategy.noSkip() has no SQL clause
    // form): every binding variant of (A C? P) emits at anchor
    // maturity. Oracle = cep15's both-branch scan cut at the final
    // watermark.
    q("st40_stream_no_skip",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + 7200000000 <= wm.wm_us),
        |wcp AS (
        |  SELECT a.user_id, a.a_id, c.event_id AS c_id, p.event_id AS p_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + 7200000000
        |      AND EXISTS (SELECT 1 FROM ev p2 WHERE p2.user_id = a.user_id
        |        AND p2.event_type = 'purchase' AND p2.ts_us > e.ts_us
        |        AND p2.ts_us < a.a_us + 7200000000)
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) c ON true
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > c.ts_us AND e.ts_us < a.a_us + 7200000000
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true),
        |ap AS (
        |  SELECT a.user_id, a.a_id, p.event_id AS p_id
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + 7200000000
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || c_id || ',' || p_id AS chain, '' AS counts FROM wcp
        |UNION ALL
        |SELECT ap.user_id, ap.a_id, ap.p_id, ap.a_id || ',' || ap.p_id, ''
        |FROM ap
        |ORDER BY key, anchor_id, chain""".stripMargin) { (s, dir) =>
      import graft.operators.PatternNFA.{NoSkip, Optional, Step}
      val out = graft.streaming.StreamingMatchRecognize.pattern(
        s, asGEvents(s, dir).toDF(),
        Seq(Step("A", "signup"), Step("C", "click", Optional),
          Step("P", "purchase")),
        withinMicros = 7200000000L, afterMatch = NoSkip,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st40_out")
        .orderBy("key", "anchor_id", "chain")
    },

    // STREAMING running aggregates in DEFINE (mr9's streaming twin —
    // MatchRecognizeITCase testAggregates over the unbounded stream):
    // the running COUNT cap and the cross-variable AVG/SUM conjuncts
    // are evaluated inside the keyed-state NFA scan per micro-batch;
    // COUNT(*) and the aggregate measures ride the same state. Oracle
    // = mr9's strict committed-greedy run restricted to anchors mature
    // at the final watermark.
    q("st41_stream_mr_aggregates",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |r AS (
        |  SELECT a.*, (SELECT min(x.rn) FROM ev x
        |    WHERE x.user_id = a.user_id AND x.rn > a.a_rn
        |      AND x.event_type <> 'click') AS erun
        |  FROM a),
        |agg AS (
        |  SELECT r.user_id, r.a_id, r.a_us, r.a_rn, r.erun,
        |    count(*) AS n_b, sum(b.value) AS sum_b, avg(b.value) AS avg_b,
        |    max(b.ts_us) AS lc_us
        |  FROM r JOIN ev b ON b.user_id = r.user_id
        |    AND b.rn BETWEEN r.a_rn + 1 AND r.erun - 1
        |  WHERE r.erun - r.a_rn - 1 BETWEEN 1 AND 4
        |  GROUP BY ALL),
        |m AS (
        |  SELECT g.*, p.value AS p_val
        |  FROM agg g
        |  JOIN ev p ON p.user_id = g.user_id AND p.rn = g.erun
        |  WHERE g.lc_us < g.a_us + $H72
        |    AND g.sum_b > 100
        |    AND p.event_type = 'purchase' AND p.ts_us < g.a_us + $H72
        |    AND p.value > g.avg_b)
        |SELECT user_id AS key, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  round(sum_b, 6) AS sum_b, round(avg_b, 6) AS avg_b,
        |  n_b, n_b + 2 AS n_rows, p_val AS p_value
        |FROM m ORDER BY key, match_seq""".stripMargin) { (s, dir) =>
      val out = graft.streaming.StreamingMatchRecognize.measures(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           ROUND(SUM(B.value), 6) AS sum_b,
          |           ROUND(AVG(B.value), 6) AS avg_b,
          |           COUNT(B.id) AS n_b,
          |           COUNT(*) AS n_rows,
          |           P.value AS p_value
          |  ONE ROW PER MATCH
          |  PATTERN (A B+ P) WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup',
          |         B AS kind = 'click' AND COUNT(B.id) <= 4,
          |         P AS kind = 'purchase' AND P.value > AVG(B.value)
          |           AND SUM(B.value) > 100)""".stripMargin,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out, OutputMode.Append, "st41_out")
        .orderBy("key", "match_seq")
    },

    // STREAMING RELUCTANT quantifier B+? through the CEP API door
    // (mr7's streaming twin): the loop binds the FEWEST clicks whose
    // remainder completes — here always exactly the first eligible
    // click (a purchase after any later click is also after the
    // first), so the chain pins the first click and counts pin B:1.
    // Oracle = mr7's earliest-binding scan in PMatch shape, cut at
    // anchors mature at the final watermark.
    q("st42_stream_reluctant",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |m AS (
        |  SELECT a.user_id, a.a_id, b.b_id, p.p_id
        |  FROM a
        |  JOIN LATERAL (
        |    SELECT e.event_id AS b_id, e.ts_us AS b_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |      AND EXISTS (SELECT 1 FROM ev p2 WHERE p2.user_id = a.user_id
        |        AND p2.event_type = 'purchase' AND p2.ts_us > e.ts_us
        |        AND p2.ts_us < a.a_us + $H72)
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b ON true
        |  JOIN LATERAL (
        |    SELECT e.event_id AS p_id FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > b.b_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || b_id || ',' || p_id AS chain, 'B:1' AS counts
        |FROM m ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      import graft.operators.PatternNFA.{OneOrMore, Step}
      val out = graft.streaming.StreamingMatchRecognize.pattern(
        s, asGEvents(s, dir).toDF(),
        Seq(Step("A", "signup"),
          Step("B", "click", OneOrMore(reluctant = true)),
          Step("P", "purchase")),
        withinMicros = H72, watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st42_out")
        .orderBy("key", "anchor_id")
    },

    // STREAMING B{2,} (Pattern.timesOrMore(2) — cep18's streaming
    // twin, the other half of the r8 batch-only CEP rows): the first
    // two clicks bind successively, the purchase binds after the
    // second, and the loop absorbs every further click before it —
    // all evaluated at anchor maturity in keyed state. Oracle = cep18
    // cut at the final watermark.
    q("st43_stream_times_or_more",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |m AS (
        |  SELECT a.user_id, a.a_id, a.a_us, b1.event_id AS b1_id,
        |    p.event_id AS p_id, p.ts_us AS p_us
        |  FROM a
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b1 ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |      AND e.ts_us > b1.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) b2 ON true
        |  JOIN LATERAL (SELECT e.event_id, e.ts_us FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > b2.ts_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || b1_id || ',' || p_id AS chain,
        |  'B:' || (SELECT count(*) FROM ev e WHERE e.user_id = m.user_id
        |    AND e.event_type = 'click' AND e.ts_us > m.a_us
        |    AND e.ts_us < m.p_us AND e.ts_us < m.a_us + $H72) AS counts
        |FROM m ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      import graft.operators.PatternNFA.{Step, TimesOrMore}
      val out = graft.streaming.StreamingMatchRecognize.pattern(
        s, asGEvents(s, dir).toDF(),
        Seq(Step("A", "signup"),
          Step("B", "click", TimesOrMore(2)),
          Step("P", "purchase")),
        withinMicros = H72, watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st43_out")
        .orderBy("key", "anchor_id")
    },

    // STREAMING SUBSET union variables (mr10's streaming twin —
    // StreamExecMatch.scala:117-118 subsets on the unbounded stream):
    // U = (C, P) navigated in DEFINE (FIRST(U.value) inside the keyed
    // NFA scan) and folded in MEASURES (the members' merged bindings)
    // — all in state at anchor maturity. Oracle = mr10 cut at the
    // final watermark.
    q("st44_stream_subset",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |m AS (
        |  SELECT a.user_id, a.a_id, a.a_us, c.value AS c_val, p.value AS p_val
        |  FROM a
        |  JOIN ev c ON c.user_id = a.user_id AND c.rn = a.a_rn + 1
        |    AND c.event_type = 'click' AND c.ts_us < a.a_us + $H72
        |  JOIN ev p ON p.user_id = a.user_id AND p.rn = a.a_rn + 2
        |    AND p.event_type = 'purchase' AND p.value > c.value
        |    AND p.ts_us < a.a_us + $H72)
        |SELECT user_id AS key, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, c_val AS first_u, p_val AS last_u,
        |  round(c_val + p_val, 6) AS sum_u, CAST(2 AS BIGINT) AS n_u
        |FROM m ORDER BY key, match_seq""".stripMargin) { (s, dir) =>
      val out = graft.streaming.StreamingMatchRecognize.measures(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.id) AS a_id,
          |           FIRST(U.value) AS first_u,
          |           LAST(U.value) AS last_u,
          |           ROUND(SUM(U.value), 6) AS sum_u,
          |           COUNT(U.id) AS n_u
          |  ONE ROW PER MATCH
          |  PATTERN (A C P)
          |  SUBSET U = (C, P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup', C AS kind = 'click',
          |         P AS kind = 'purchase' AND P.value > FIRST(U.value))""".stripMargin,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out, OutputMode.Append, "st44_out")
        .orderBy("key", "match_seq")
    },

    // Windowing-TVF TEXT on a STREAM (the reference's primary TVF
    // spelling, previously rejected loudly — r8 verdict item 5): the
    // statement is rewritten to the watermark-preserving GROUP BY
    // window(ts, …) form — window_start/window_end GROUP BY keys
    // collapse into the single window() grouping key, projections
    // become window.start/.end — and Spark plans its incremental
    // windowed aggregation (Append, state dropped at maturity).
    // Oracle = st32's batch tumble with the same watermark cutoff.
    q("st45_tumble_tvf_stream",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT wstart, wend, event_type, n, total FROM (
        |  SELECT date_trunc('hour', ts) AS wstart,
        |    date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend,
        |    event_type, count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |  FROM events GROUP BY 1, 2, 3), wm
        |WHERE epoch_us(wend) <= wm.wm_us
        |ORDER BY wstart, event_type""".stripMargin) { (s, dir) =>
      eventStream(s, dir).withWatermark("ts", "1 minute")
        .createOrReplaceTempView("st45_events")
      val agg = s.sql(
        """SELECT window_start AS wstart, window_end AS wend, event_type,
          |       count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM TABLE(TUMBLE(TABLE st45_events, DESCRIPTOR(ts), INTERVAL '1' HOUR))
          |GROUP BY window_start, window_end, event_type""".stripMargin)
      require(agg.isStreaming, "st45: streaming TUMBLE TVF lost the stream")
      StreamRunner.toTable(s, agg, OutputMode.Append, "st45_out")
        .orderBy("wstart", "event_type")
    },

    // CUMULATE TVF text on a STREAM (FLIP-145's fourth TVF on the
    // unbounded side — gw19's streaming twin) with the reference's
    // PER-END firing (r10; r9 deferred every step's emission to the
    // MAX window's maturity): each row fans out to its cumulate
    // windows k, timestamp-shifted into the k-th window's final step
    // slice, so ONE incremental tumbling step-window aggregate fires
    // each window [W, W+k·step) exactly when the watermark passes
    // W+k·step. Oracle = gw19's fan-out cut at windows whose OWN end
    // closed by the final watermark (partial last-day windows now
    // emit — the per-end semantics this query pins).
    q("st46_cumulate_tvf_stream",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |x AS (
        |  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
        |    value,
        |    unnest(generate_series(CAST(floor(hour(ts) / 6) AS INT) + 1, 4)) AS k
        |  FROM events)
        |SELECT window_start, window_start + to_hours(6 * k) AS window_end,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM x, wm
        |WHERE epoch_us(window_start + to_hours(6 * k)) <= wm.wm_us
        |GROUP BY 1, 2
        |ORDER BY window_start, window_end""".stripMargin) { (s, dir) =>
      eventStream(s, dir).withWatermark("ts", "1 minute")
        .createOrReplaceTempView("st46_events")
      val agg = s.sql(
        """SELECT window_start, window_end, count(*) AS n,
          |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
          |FROM TABLE(CUMULATE(TABLE st46_events, DESCRIPTOR(ts),
          |                    INTERVAL '6' HOUR, INTERVAL '1' DAY))
          |GROUP BY window_start, window_end""".stripMargin)
      require(agg.isStreaming, "st46: streaming CUMULATE TVF lost the stream")
      StreamRunner.toTable(s, agg, OutputMode.Append, "st46_out")
        .orderBy("window_start", "window_end")
    },

    // HOP TVF text on a STREAM (st45's sliding sibling): the rewrite
    // maps to Spark's native sliding window(ts, size, slide) grouping
    // key, so the statement plans the incremental sliding-window
    // aggregation — each hop emits once at watermark passage. Oracle
    // = st10's hop fan-out with the same cutoff.
    q("st47_hop_tvf_stream",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events)
        |SELECT window_start, n FROM (
        |  SELECT tb - to_seconds(k * 1800) AS window_start, count(*) AS n
        |  FROM (SELECT time_bucket(INTERVAL '30 minutes', ts) AS tb FROM events),
        |    unnest([0, 1]) AS u(k)
        |  GROUP BY 1), wm
        |WHERE epoch_us(window_start + INTERVAL 1 HOUR) <= wm.wm_us
        |ORDER BY window_start""".stripMargin) { (s, dir) =>
      eventStream(s, dir).withWatermark("ts", "1 minute")
        .createOrReplaceTempView("st47_events")
      val agg = s.sql(
        """SELECT window_start, count(*) AS n
          |FROM TABLE(HOP(TABLE st47_events, DESCRIPTOR(ts),
          |               INTERVAL '30' MINUTE, INTERVAL '1' HOUR))
          |GROUP BY window_start, window_end""".stripMargin)
      require(agg.isStreaming, "st47: streaming HOP TVF lost the stream")
      StreamRunner.toTable(s, agg, OutputMode.Append, "st47_out")
        .orderBy("window_start")
    },

    // SESSION TVF text on a STREAM (the fourth TVF spelling closed on
    // the unbounded side): the rewrite maps to Spark's native
    // session_window(ts, gap) grouping key — the incremental MERGING
    // session aggregation st35's GROUP BY spelling plans — with the
    // PTF's PARTITION BY keys carried by the consumer's own GROUP BY.
    // Oracle = st35's gaps-and-islands with the same cutoff.
    q("st48_session_tvf_stream",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |marked AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, window_start, window_end, n FROM (
        |  SELECT user_id, min(ts) AS window_start,
        |    max(ts) + INTERVAL 30 MINUTE AS window_end, count(*) AS n
        |  FROM sess GROUP BY user_id, sid), wm
        |WHERE epoch_us(window_end) <= wm.wm_us
        |ORDER BY user_id, window_start""".stripMargin) { (s, dir) =>
      eventStream(s, dir).withWatermark("ts", "1 minute")
        .createOrReplaceTempView("st48_events")
      val agg = s.sql(
        """SELECT user_id, window_start, window_end, count(*) AS n
          |FROM TABLE(SESSION(TABLE st48_events PARTITION BY user_id,
          |                   DESCRIPTOR(ts), INTERVAL '30' MINUTE))
          |GROUP BY user_id, window_start, window_end""".stripMargin)
      require(agg.isStreaming, "st48: streaming SESSION TVF lost the stream")
      StreamRunner.toTable(s, agg, OutputMode.Append, "st48_out")
        .orderBy("user_id", "window_start")
    },

    // Streaming COUNT window (KeyedStream.countWindow(n) +
    // CountTrigger — VERDICT r9 missing #3): tumbling blocks of 10
    // events per key in (ts, id) order, a block emitted when complete
    // AND its last member is strictly below the watermark (block
    // membership is then final — no still-admissible event can precede
    // a member). Oracle = gw4's batch row_number blocks over the
    // mature prefix, complete blocks only (an incomplete tail may
    // still fill on the unbounded stream).
    q("st49_count_window_stream",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |r AS (SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events, wm WHERE epoch_us(ts) < wm.wm_us)
        |SELECT user_id, CAST(floor((rn - 1) / 10.0) AS BIGINT) AS wid,
        |  count(*) AS n, min(ts) AS w_first, max(ts) AS w_last,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM r GROUP BY 1, 2 HAVING count(*) = 10
        |ORDER BY user_id, wid""".stripMargin) { (s, dir) =>
      val out = StreamingCountWindow(s, asGEvents(s, dir), n = 10)
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st49_out")
        .select(col("key").as("user_id"), col("wid"), col("n"),
          timestamp_micros(col("firstTsMicros")).as("w_first"),
          timestamp_micros(col("lastTsMicros")).as("w_last"),
          col("total"))
        .orderBy("user_id", "wid")
    },

    // Streaming SLIDING count window (countWindow(size, slide) —
    // CountTrigger(slide) + CountEvictor(size)): window wid covers
    // ranks [wid*5+1, wid*5+10] per key in (ts, id) order, complete
    // windows only (gw9's batch semantics), each emitted when its last
    // element is strictly below the watermark. Oracle = gw9's fan-out
    // over the mature prefix.
    q("st51_sliding_count_stream",
      """WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |r AS (SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |    count(*) OVER (PARTITION BY user_id) AS nrows
        |  FROM events, wm WHERE epoch_us(ts) < wm.wm_us),
        |x AS (SELECT user_id, ts, value, nrows,
        |    unnest(generate_series(
        |      greatest(0, CAST(ceil((rn - 10) / 5.0) AS BIGINT)),
        |      CAST(floor((rn - 1) / 5.0) AS BIGINT))) AS wid
        |  FROM r)
        |SELECT user_id, wid, count(*) AS n,
        |  min(ts) AS w_first, max(ts) AS w_last,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM x WHERE wid * 5 + 10 <= nrows
        |GROUP BY user_id, wid HAVING count(*) = 10
        |ORDER BY user_id, wid""".stripMargin) { (s, dir) =>
      val out = StreamingCountWindow.sliding(s, asGEvents(s, dir),
        size = 10, slide = 5)
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st51_out")
        .select(col("key").as("user_id"), col("wid"), col("n"),
          timestamp_micros(col("firstTsMicros")).as("w_first"),
          timestamp_micros(col("lastTsMicros")).as("w_last"),
          col("total"))
        .orderBy("user_id", "wid")
    },

    // Streaming rank RANGE (r10 — the reference's RankRange,
    // AbstractTopNFunction rankStart/rankEnd: `rn > 2 AND rn <= 5`
    // selects ranks 3..5): the routed top-n operator buffers the full
    // top-5 (displacement above the range moves rows INTO it) but
    // emits revisions only when the ranks-3..5 slice changes. Keys
    // with fewer than 3 events never emit — matching the oracle's
    // range filter. Folded by max(emitSeq) like st4/st24.
    q("st53_stream_rank_range",
      """SELECT user_id, rank, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rank
        |  FROM events)
        |WHERE rank > 2 AND rank <= 5
        |ORDER BY user_id, rank""".stripMargin) { (s, dir) =>
      asGEvents(s, dir).toDF().createOrReplaceTempView("rank_range_events")
      val routed = graft.plans.StreamingRankRule.sql(s,
        """SELECT key, id, value, rn FROM (
          |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY value DESC, id) AS rn
          |  FROM rank_range_events)
          |WHERE rn > 2 AND rn <= 5""".stripMargin)
      val table = StreamRunner.toTable(s, routed, OutputMode.Update, "st53_out")
      val lastSeq = table.groupBy(col("key")).agg(max("emitSeq").as("emitSeq"))
        .select(col("key").as("_k"), col("emitSeq").as("_s"))
      table.join(lastSeq, col("key") === col("_k") && col("emitSeq") === col("_s"))
        .select(col("key").as("user_id"), col("rank"), col("id").as("event_id"),
          col("value"))
        .orderBy("user_id", "rank")
    },

    // Streaming MATCH_ROWTIME() (r10 — mr14's twin at anchor
    // maturity): the match's event-time attribute, folded from the
    // bindings' last row at emission (exact — micros < 2^53).
    q("st52_stream_match_rowtime",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, ts
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS s_id, ts_us AS a_us
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |m AS (
        |  SELECT a.user_id, a.s_id, p.ts AS mrt
        |  FROM a
        |  JOIN LATERAL (SELECT e.ts FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true)
        |SELECT user_id AS key, s_id, mrt
        |FROM m ORDER BY key, s_id""".stripMargin) { (s, dir) =>
      val out = graft.streaming.StreamingMatchRecognize.measures(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES FIRST(A.id) AS s_id,
          |           MATCH_ROWTIME() AS mrt
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A E*? P)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup',
          |         E AS kind <> 'purchase',
          |         P AS kind = 'purchase')""".stripMargin,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out, OutputMode.Append, "st52_out")
        .select(col("key"), col("s_id"), col("mrt"))
        .orderBy("key", "s_id")
    },

    // Streaming CLASSIFIER() (r10 — mr13's twin on the unbounded
    // side): the one STRING measure rides the measures door derived
    // from the match bindings at emission, no carried state column.
    // Exceeds the reference (no CLASSIFIER codegen there at all) but
    // completes the SQL:2016 surface the batch side has. Oracle =
    // mr13's lateral-join scan over anchors mature at the final
    // watermark.
    q("st50_stream_classifier",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |         row_number() OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id) AS rn
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |rr AS (
        |  SELECT a.*, coalesce((SELECT min(x.rn) FROM ev x
        |      WHERE x.user_id = a.user_id AND x.rn > a.a_rn
        |        AND x.event_type <> 'click'),
        |    (SELECT max(x.rn) + 1 FROM ev x
        |     WHERE x.user_id = a.user_id)) AS eend
        |  FROM a),
        |m AS (
        |  SELECT rr.user_id, rr.a_id, rr.a_us, rr.a_rn, rr.eend,
        |    CASE WHEN p.event_type = 'purchase'
        |      AND p.ts_us < rr.a_us + $H72 THEN 'C' ELSE 'B' END AS last_var
        |  FROM rr
        |  JOIN ev lc ON lc.user_id = rr.user_id AND lc.rn = rr.eend - 1
        |  LEFT JOIN ev p ON p.user_id = rr.user_id AND p.rn = rr.eend
        |  WHERE rr.eend > rr.a_rn + 1 AND lc.ts_us < rr.a_us + $H72)
        |SELECT user_id AS key, row_number() OVER (PARTITION BY user_id
        |    ORDER BY a_us, a_id) AS match_seq,
        |  a_id, eend - a_rn - 1 AS n_b, last_var
        |FROM m ORDER BY key, match_seq""".stripMargin) { (s, dir) =>
      val out = graft.streaming.StreamingMatchRecognize.measures(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES MATCH_NUMBER() AS match_seq,
          |           FIRST(A.id) AS a_id,
          |           COUNT(B.id) AS n_b,
          |           CLASSIFIER() AS last_var
          |  ONE ROW PER MATCH
          |  AFTER MATCH SKIP TO NEXT ROW
          |  PATTERN (A B+ C?)
          |  WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup',
          |         B AS kind = 'click',
          |         C AS kind = 'purchase')""".stripMargin,
        watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out, OutputMode.Append, "st50_out")
        .orderBy("key", "match_seq")
    },

    // WINDOWED GROUPING APPLIED TO STREAMING MATCH_RECOGNIZE (mr15's
    // streaming twin — MatchRecognizeITCase
    // .testWindowedGroupingAppliedToMatchRecognize, the composition
    // MATCH_ROWTIME() exists for): the match stream re-enters a
    // tumbling DAY window keyed by its OWN rowtime (MATCH_ROWTIME).
    // Spark's supported multi-stateful chains exclude
    // flatMapGroupsWithState feeding another stateful operator (its
    // late filtering would use the CURRENT global watermark, dropping
    // every match the moment the watermark jumps), so the pinned
    // recipe is a TWO-HOP cascade through a durable channel: hop 1
    // sinks the match stream to parquet exactly-once, hop 2 is an
    // ordinary streaming window aggregate reading that channel with
    // its own watermark on mrt — the production shape for cascading
    // past an unsupported chain, documented as the delta vs the
    // reference's single topology. Oracle: day buckets of the mature
    // matches, windows cut at the SECOND hop's watermark (max emitted
    // mrt − its 1-minute delay).
    q("st54_stream_mr_windowed",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, ts
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS s_id, ts_us AS a_us
        |      FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |m AS (
        |  SELECT a.user_id, p.ts AS mrt
        |  FROM a
        |  JOIN LATERAL (SELECT e.ts FROM ev e
        |    WHERE e.user_id = a.user_id AND e.event_type = 'purchase'
        |      AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H72
        |    ORDER BY e.ts_us, e.event_id LIMIT 1) p ON true),
        |wm2 AS (SELECT max(epoch_us(mrt)) - 60000000 AS us FROM m),
        |d AS (SELECT CAST(date_trunc('day', mrt) AS TIMESTAMP) AS day,
        |        count(*) AS n_matches
        |      FROM m GROUP BY 1)
        |SELECT day, n_matches FROM d, wm2
        |WHERE epoch_us(day + INTERVAL 1 DAY) <= wm2.us
        |ORDER BY day""".stripMargin) { (s, dir) =>
      val matches = graft.streaming.StreamingMatchRecognize.measures(
        s, asGEvents(s, dir).toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES MATCH_ROWTIME() AS mrt
          |  ONE ROW PER MATCH
          |  PATTERN (A E*? P) WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS kind = 'signup', E AS kind <> 'purchase',
          |         P AS kind = 'purchase')""".stripMargin,
        watermarkDelay = "1 minute")
      // hop 1: exactly-once durable channel — a PID-keyed scratch path
      // (advisor r11: a fixed path is per-machine, and two concurrent
      // bench/test JVMs would deleteQuietly each other's live parquet
      // sink + checkpoint), pre-cleaned on entry so repeated runs in
      // THIS process don't accumulate litter (the channel must outlive
      // this closure — the returned frame reads it lazily — so at most
      // one directory per live process survives)
      val dirc = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_st54_channel_${ProcessHandle.current().pid()}").toString
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dirc))
      val q1 = StreamRunner.start(s, matches.writeStream.outputMode(OutputMode.Append)
        .format("parquet").option("path", s"$dirc/matches")
        .option("checkpointLocation", s"$dirc/chk"))
      try q1.processAllAvailable() finally q1.stop()
      // hop 2: streaming DAY window over the channel, its own watermark
      val agg = s.readStream.schema(matches.schema)
        .parquet(s"$dirc/matches")
        .withWatermark("mrt", "1 minute")
        .groupBy(window(col("mrt"), "1 day"))
        .agg(count(lit(1)).as("n_matches"))
      require(agg.isStreaming, "st54: hop 2 lost the stream")
      StreamRunner.toTable(s, agg, OutputMode.Append, "st54_out")
        .select(col("window.start").as("day"), col("n_matches"))
        .orderBy("day")
    },

    q("st55_stream_mr_over_windows",
      s"""WITH wm1 AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS us FROM events),
        |h AS (SELECT user_id, date_trunc('hour', ts) AS hr, count(*) AS n
        |      FROM events GROUP BY 1, 2),
        |emitted AS (SELECT h.* FROM h, wm1
        |            WHERE epoch_us(hr + INTERVAL 1 HOUR) <= wm1.us),
        |r AS (SELECT user_id, hr, n,
        |        row_number() OVER (PARTITION BY user_id ORDER BY hr) AS rn
        |      FROM emitted)
        |SELECT a.user_id, epoch_us(a.hr) AS a_us, b.n AS b_n
        |FROM r a JOIN r b ON b.user_id = a.user_id AND b.rn = a.rn + 1
        |  AND b.n > a.n AND epoch_us(b.hr) < epoch_us(a.hr) + $H72, wm1
        |WHERE epoch_us(a.hr) + $H72 <= wm1.us
        |ORDER BY a.user_id, a_us""".stripMargin) { (s, dir) =>
      // the cascade input carries a FUTURE-SHIFTED copy of the bucket
      // rowtime as the watermark-tagged _et: the tag satisfies the
      // event-time-timeout analyzer and the shift keeps the
      // pre-operator late filter from dropping freshly-emitted buckets
      // (they trail the global watermark by construction); the
      // watermark VALUE still comes from the source node below, which
      // is what drives anchor maturity.
      val md = new org.apache.spark.sql.types.MetadataBuilder()
        .putLong("spark.watermarkDelayMs", 60000L).build()
      val hourly = eventStream(s, dir)
        .withWatermark("ts", "1 minute")
        .groupBy(col("user_id"), window(col("ts"), "1 hour").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id").cast("long").as("key"),
          unix_micros(col("w.start")).as("tsMicros"),
          unix_seconds(col("w.start")).as("id"),
          col("n"),
          (window_time(col("w")) + expr("INTERVAL 3650 DAYS"))
            .as("_et", md))
      require(hourly.isStreaming, "st55: hourly window agg lost the stream")
      val out = graft.streaming.StreamingMatchRecognize.measures(
        s, hourly,
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES FIRST(A.tsMicros) AS a_us, LAST(R.n) AS b_n
          |  ONE ROW PER MATCH
          |  PATTERN (A R) WITHIN INTERVAL '72' HOUR
          |  DEFINE A AS n > 0, R AS n > FIRST(A.n))""".stripMargin,
        attachWatermark = false)
      val ck = "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
      val ckPrev = s.conf.getOption(ck).getOrElse("true")
      s.conf.set(ck, "false") // agg->MR cascade; safe per attachWatermark doc
      try
        StreamRunner.toTable(s, out, OutputMode.Append, "st55_out")
          .select(col("key").as("user_id"), col("a_us"), col("b_n"))
          .orderBy("user_id", "a_us")
      finally s.conf.set(ck, ckPrev)
    },

    // STREAMING consecutive (loop-interior STRICT) unbounded loop —
    // cep22's streaming twin (r11; Pattern.java oneOrMore()
    // .consecutive() through the streaming CEP door): the adjacent
    // click run binds inside keyed state at anchor maturity. Oracle =
    // cep22's islands cut at the final watermark (r14: the FIRST
    // island after the anchor, no advance — see cep22).
    q("st56_stream_consecutive_run",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |cl AS (
        |  SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |  FROM ev WHERE event_type = 'click'),
        |isl AS (
        |  SELECT user_id, grp, min(rn) AS s_rn, max(rn) AS e_rn,
        |    min(ts_us) AS s_us, max(ts_us) AS e_us, count(*) AS n,
        |    arg_min(event_id, rn) AS s_id
        |  FROM cl GROUP BY 1, 2),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us, rn AS a_rn
        |       FROM ev WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H72 <= wm.wm_us),
        |cand AS (
        |  SELECT a.user_id, a.a_id, a.a_us, i.s_rn, i.e_rn, i.s_id, i.n,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY i.s_rn) AS pick
        |  FROM a JOIN isl i ON i.user_id = a.user_id AND i.s_rn > a.a_rn
        |    AND i.s_us < a.a_us + $H72 AND i.e_us < a.a_us + $H72),
        |m AS (
        |  SELECT c.user_id, c.a_id, c.s_id, c.n, p.p_id
        |  FROM cand c
        |  JOIN LATERAL (SELECT e.event_id AS p_id FROM ev e
        |    WHERE e.user_id = c.user_id AND e.event_type = 'purchase'
        |      AND e.rn > c.e_rn AND e.ts_us < c.a_us + $H72
        |    ORDER BY e.rn LIMIT 1) p ON true
        |  WHERE c.pick = 1)
        |SELECT user_id AS key, a_id AS anchor_id, p_id AS end_id,
        |  a_id || ',' || s_id || ',' || p_id AS chain, 'B:' || n AS counts
        |FROM m ORDER BY key, anchor_id""".stripMargin) { (s, dir) =>
      import graft.operators.PatternNFA.{OneOrMore, Step}
      val out = graft.streaming.StreamingMatchRecognize.pattern(
        s, asGEvents(s, dir).toDF(),
        Seq(Step("A", "signup"),
          Step("B", "click", OneOrMore(consecutive = true)),
          Step("P", "purchase")),
        withinMicros = H72, watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st56_out")
        .orderBy("key", "anchor_id")
    },

    // STREAMING PER-BRANCH timeout side output (r12; cep23's streaming
    // twin — NFA.advanceTime hands EVERY live partial branch to the
    // timeout function at expiry, deadline-stamped, match status never
    // suppressing): anchors cut at watermark maturity, one bare-anchor
    // stay per matured signup plus one branch per click bound inside
    // the (exclusive) window.
    q("st57_stream_timeout_branches",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us FROM ev
        |       WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H2 <= wm.wm_us)
        |SELECT * FROM (
        |  SELECT user_id AS key, a_id AS anchor_id, a_id AS last_id,
        |    1 AS n_bound, a_us + $H2 AS timeout_us
        |  FROM a
        |  UNION ALL
        |  SELECT a.user_id, a.a_id, c.event_id, 2, a.a_us + $H2
        |  FROM a JOIN ev c ON c.user_id = a.user_id
        |    AND c.event_type = 'click'
        |    AND c.ts_us > a.a_us AND c.ts_us < a.a_us + $H2)
        |ORDER BY key, anchor_id, n_bound, last_id""".stripMargin) { (s, dir) =>
      import graft.operators.PatternNFA.{AnyOne, Step}
      val out = graft.streaming.StreamingMatchRecognize.timeoutBranches(
        s, asGEvents(s, dir).toDF(),
        Seq(Step("A", "signup"),
          Step("C", "click", AnyOne),
          Step("P", "purchase", AnyOne)),
        withinMicros = H2, watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st57_out")
        .select(col("key"), col("anchor_id"), col("last_id"),
          col("n_bound"), col("timeout_us"))
        .orderBy("key", "anchor_id", "n_bound", "last_id")
    },

    // STREAMING per-branch timeouts over a LOOP interior (r13 — the
    // streaming twin of cep26; runs the batch doors' per-anchor scan
    // (PatternNFA.scanMature), so the live-branch set is the batch
    // contract cut at anchor maturity: a_us + within <= watermark).
    // Oracle: cep26's closed form (bare anchor iff no in-window
    // click; prefix k < K iff no purchase after c_k; full run always)
    // restricted to mature anchors.
    q("st58_stream_timeout_branches_loop",
      s"""WITH wm AS (SELECT (epoch_ms(max(ts)) - 60000) * 1000 AS wm_us FROM events),
        |ev AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
        |       FROM events),
        |a0 AS (SELECT user_id, event_id AS a_id, ts_us AS a_us FROM ev
        |       WHERE event_type = 'signup'),
        |a AS (SELECT a0.* FROM a0 JOIN wm ON a0.a_us + $H2 <= wm.wm_us),
        |c AS (
        |  SELECT a.user_id, a.a_id, a.a_us, e.event_id AS c_id,
        |    e.ts_us AS c_us,
        |    row_number() OVER (PARTITION BY a.user_id, a.a_id
        |      ORDER BY e.ts_us, e.event_id) AS k
        |  FROM a JOIN ev e ON e.user_id = a.user_id
        |    AND e.event_type = 'click'
        |    AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H2),
        |pref AS (
        |  SELECT user_id, a_id, a_us, k, c_id, c_us,
        |    string_agg(c_id, ',') OVER (PARTITION BY user_id, a_id
        |      ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ids,
        |    count(*) OVER (PARTITION BY user_id, a_id) AS kmax
        |  FROM c)
        |SELECT user_id AS key, a_id AS anchor_id, c_id AS last_id,
        |  a_id || ',' || ids AS chain, 2 AS n_bound,
        |  a_us + $H2 AS timeout_us
        |FROM pref
        |WHERE k = kmax
        |   OR NOT EXISTS (SELECT 1 FROM ev p
        |        WHERE p.user_id = pref.user_id
        |          AND p.event_type = 'purchase'
        |          AND p.ts_us > pref.c_us
        |          AND p.ts_us < pref.a_us + $H2)
        |UNION ALL
        |SELECT a.user_id, a.a_id, a.a_id, CAST(a.a_id AS VARCHAR), 1,
        |  a.a_us + $H2
        |FROM a WHERE NOT EXISTS (SELECT 1 FROM ev e
        |  WHERE e.user_id = a.user_id AND e.event_type = 'click'
        |    AND e.ts_us > a.a_us AND e.ts_us < a.a_us + $H2)
        |ORDER BY key, anchor_id, chain""".stripMargin) { (s, dir) =>
      import graft.operators.PatternNFA.{OneOrMore, Step}
      val out = graft.streaming.StreamingMatchRecognize.timeoutBranches(
        s, asGEvents(s, dir).toDF(),
        Seq(Step("A", "signup"),
          Step("C", "click", OneOrMore()),
          Step("P", "purchase")),
        withinMicros = H2, watermarkDelay = "1 minute")
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "st58_out")
        .select(col("key"), col("anchor_id"), col("last_id"),
          col("chain"), col("n_bound"), col("timeout_us"))
        .orderBy("key", "anchor_id", "chain")
    },

    // UPDATE_BEFORE emission (the reference's retract mode —
    // StreamingJoinOperator.java:277 emits UPDATE_BEFORE/UPDATE_AFTER
    // pairs): st29's LEFT OUTER join with updateBefore on — the pad
    // replacement rides -U/+U instead of -D/+I. The changelog
    // round-trip (net +I/+U minus -U/-D per pair) reconstructs the
    // batch LEFT OUTER JOIN regardless of batching; the exact -U/+U
    // pairing is pinned by the StreamingOpsSpec fold spec.
    q("ty21_update_before",
      """SELECT l.user_id, l.event_id AS purchase_id,
        |  coalesce(r.event_id, -1) AS signup_id
        |FROM (SELECT user_id, event_id FROM events WHERE event_type = 'purchase') l
        |LEFT JOIN (SELECT user_id, event_id FROM events WHERE event_type = 'signup') r
        |  USING (user_id)
        |ORDER BY user_id, purchase_id, signup_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val ev = asGEvents(s, dir)
      val out = StreamingLeftOuterJoin(s,
        left = ev.filter(col("kind") === "purchase").as[GEvent],
        right = ev.filter(col("kind") === "signup").as[GEvent],
        updateBefore = true)
      StreamRunner.toTable(s, out.toDF(), OutputMode.Append, "ty21_out")
        .groupBy(col("key"), col("leftId"), col("rightId"))
        .agg(sum(when(col("_change_kind").isin("+I", "+U"), 1).otherwise(-1))
          .as("_net"))
        .filter(col("_net") > 0)
        .select(col("key").as("user_id"), col("leftId").as("purchase_id"),
          col("rightId").as("signup_id"))
        .orderBy("user_id", "purchase_id", "signup_id")
    })
}
