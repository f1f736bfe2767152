package graft

import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Batching and restart invariance of the event-time operators that
  * release a key's rows in watermark order, of the streaming CEP
  * operators (MATCH_RECOGNIZE with and without MEASURES, and the
  * two-step `StreamingCEP`) and of the arrival-ordered operators (the
  * symmetric, outer and proc-time joins, TopN and keep-last dedup):
  * the same input fed as one micro-batch, as micro-batches of three
  * events, and as micro-batches of three with the query stopped and
  * restarted from its checkpoint between batches must emit the same
  * rows, or, where the operator's raw changelog rightly depends on
  * batching, fold to the same result. Inputs are small seeded keyed
  * sequences with tied timestamps and ids not in arrival order,
  * arriving out of event-time order by less than the watermark delay
  * (so no event is late), and closed by a flush event far past every
  * other event.
  */
class StreamingRestartSpec extends AnyFunSuite {
  import StreamHarness.spark
  import spark.implicits._

  private val delaySec = 5L
  private val delay = s"$delaySec seconds"
  private val flush = GEvent(99L, 1000L * 1000000L, 0L, "L", 0.0)

  /** One key: 3-8 events 0-3 s apart (0 = a tied timestamp) from
    * t = 1 s: the first micro-batch runs at watermark 0, at or below
    * which an event is late and dropped. Each event is paired with its
    * arrival time, its event time plus a jitter below the delay. */
  private def keyGen(key: Long): Gen[Seq[(GEvent, Long)]] = for {
    n <- Gen.choose(3, 8)
    gaps <- Gen.listOfN(n, Gen.choose(0L, 3L))
    kinds <- Gen.listOfN(n, Gen.frequency(4 -> "L", 3 -> "R", 1 -> "on", 1 -> "off"))
    noise <- Gen.listOfN(n, Gen.choose(0L, 99L))
    cents <- Gen.listOfN(n, Gen.choose(-500L, 5000L))
    jitter <- Gen.listOfN(n, Gen.choose(0L, delaySec - 1))
  } yield {
    val ts = gaps.scanLeft(1L)(_ + _).tail
    ts.indices.map(i => GEvent(key, ts(i) * 1000000L,
      key * 10000L + noise(i) * 10L + i, kinds(i), cents(i) / 100.0) ->
      (ts(i) + jitter(i)))
  }

  /** Four keys of seeded events in arrival order, then the flush. An
    * event arrives after another only if its event time is less than
    * the delay behind it, so it is never below the watermark. */
  private val events: Seq[GEvent] =
    (1L to 4L).flatMap(k =>
      keyGen(k).pureApply(Gen.Parameters.default, Seed(9100L + k)))
      .sortBy { case (e, arrival) => (arrival, e.id) }.map(_._1) :+ flush

  private def side(ds: Dataset[GEvent], kind: String): Dataset[GEvent] =
    ds.filter(col("kind") === kind)

  /** A MATCH_RECOGNIZE clause over the L/R kinds whose window spans
    * several events of a key, with or without a MEASURES list. */
  private def clause(measuresList: String): String =
    s"""MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
       |  $measuresList
       |  PATTERN (A B+ C?) WITHIN INTERVAL '10' SECOND
       |  DEFINE A AS kind = 'L', B AS kind = 'R', C AS kind = 'L')""".stripMargin

  private val measures =
    """MEASURES MATCH_NUMBER() AS mno, SUM(B.value) AS sum_b,
      |         FIRST(B.id) AS first_b, LAST(B.value) AS last_b,
      |         COUNT(*) AS n, CLASSIFIER() AS cls, MATCH_ROWTIME() AS mrt
      |  ONE ROW PER MATCH""".stripMargin

  private val operators: Seq[(String, Dataset[GEvent] => DataFrame)] = Seq(
    "over" -> (ds => StreamingOverAgg(spark, ds, kPreceding = 2, delay).toDF()),
    "unbounded_over" -> (ds => StreamingUnboundedOverAgg(spark, ds, delay).toDF()),
    "range_over" -> (ds =>
      StreamingRangeOverAgg(spark, ds, rangeMicros = 3000000L, delay).toDF()),
    "temporal_sort" -> (ds => StreamingTemporalSort(spark, ds, delay).toDF()),
    "connect" -> (ds => StreamingConnect(spark, ds, "on", "off", delay).toDF()),
    "semi_anti" -> (ds =>
      StreamingSemiAntiJoin(spark, side(ds, "L"), side(ds, "R"), delay).toDF()),
    "asof" -> (ds =>
      StreamingAsOfJoin(spark, side(ds, "L"), side(ds, "R"), delay).toDF()),
    "match_recognize_measures" -> (ds =>
      StreamingMatchRecognize.measures(spark, ds.toDF(), clause(measures), delay)),
    "match_recognize" -> (ds =>
      StreamingMatchRecognize(spark, ds.toDF(), clause(""), delay).toDF()),
    "cep" -> (ds => StreamingCEP(spark, ds, aKind = "L", bKind = "R",
      withinMicros = 5000000L, delay).toDF()))

  /** The arrival-ordered operators, each with the part of its output
    * that its contract fixes under any batching: the symmetric join
    * emits each pair exactly once, so its raw rows; the outer joins emit
    * a pad and its retraction in one batch or across two, so their net
    * changelog; TopN and keep-last emit one revision per batch, so the
    * rows of each group's latest revision. */
  private val arrivalOperators: Seq[(String, OutputMode, Dataset[GEvent] => DataFrame,
      Seq[Row] => Seq[String])] = Seq(
    ("symmetric_join", OutputMode.Append, ds =>
      StreamingSymmetricJoin(spark, side(ds, "L"), side(ds, "R")).toDF(), sorted(_)),
    ("full_outer_join", OutputMode.Append, ds =>
      StreamingFullOuterJoin(spark, side(ds, "L"), side(ds, "R")).toDF(), netChangelog(_)),
    ("left_outer_join", OutputMode.Append, ds =>
      StreamingLeftOuterJoin(spark, side(ds, "L"), side(ds, "R")).toDF(), netChangelog(_)),
    ("left_outer_join_update_before", OutputMode.Append, ds =>
      StreamingLeftOuterJoin(spark, side(ds, "L"), side(ds, "R"),
        updateBefore = true).toDF(), netChangelog(_)),
    ("topn", OutputMode.Update, ds =>
      StreamingTopN(spark, ds, n = 3).toDF(), latestRevision("key")),
    ("topn_range", OutputMode.Update, ds =>
      StreamingTopN(spark, ds, n = 3, startRank = 2).toDF(), latestRevision("key")),
    ("dedup_keep_last", OutputMode.Update, ds =>
      StreamingDedupKeepLast(spark, ds, byKind = true).toDF(),
      latestRevision("key", "kind")))

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  /** The changelog netted per (key, leftId, rightId): additions (+I,
    * +U) count one, retractions (-D, -U) minus one; pairs that net to
    * zero are left out. */
  private def netChangelog(rows: Seq[Row]): Seq[String] =
    rows.groupMapReduce(r => (r.getAs[Long]("key"), r.getAs[Long]("leftId"),
        r.getAs[Long]("rightId")))(r =>
        if (r.getAs[String]("_change_kind").startsWith("+")) 1 else -1)(_ + _)
      .filter(_._2 != 0).map(_.toString).toSeq.sorted

  /** The rows of each group's latest revision (its largest `emitSeq`),
    * without `emitSeq`: how many revisions a group takes to get there
    * depends on the batching. */
  private def latestRevision(group: String*): Seq[Row] => Seq[String] = rows =>
    rows.groupBy(r => group.map(r.getAs[Any])).values.toSeq.flatMap { g =>
      val last = g.map(_.getAs[Long]("emitSeq")).max
      g.filter(_.getAs[Long]("emitSeq") == last)
        .map(r => r.toSeq.patch(r.fieldIndex("emitSeq"), Nil, 1).mkString("[", ",", "]"))
    }.sorted

  /** `build`'s output with the seeded input as one micro-batch, as
    * micro-batches of three, and as micro-batches of three with a
    * restart between them. */
  private def threeWays(name: String, mode: OutputMode)(
      build: Dataset[GEvent] => DataFrame): (Seq[Row], Seq[Row], Seq[Row]) = {
    val whole = StreamHarness.run(Seq(events), mode, s"restart_${name}_whole")(build)
      .collect().toSeq
    val thirds = events.grouped(3).toSeq
    val chunked = StreamHarness.run(thirds, mode, s"restart_${name}_chunked")(build)
      .collect().toSeq
    (whole, chunked, StreamHarness.runRestarting(thirds, mode)(build))
  }

  test("the seeded input has out-of-order arrivals, tied timestamps and no late event") {
    val keyed = events.init
    assert(keyed.zip(keyed.tail).exists { case (a, b) => b.tsMicros < a.tsMicros })
    assert(keyed.groupBy(e => (e.key, e.tsMicros)).exists(_._2.size > 1))
    assert(keyed.groupBy(_.key).values.forall(_.size >= 3))
    // a batch's watermark trails the largest earlier event time by the delay
    keyed.indices.foreach { i =>
      val seen = keyed.take(i).map(_.tsMicros).maxOption.getOrElse(0L)
      assert(keyed(i).tsMicros > seen - delaySec * 1000000L, keyed(i))
    }
  }

  operators.foreach { case (name, build) =>
    test(s"$name emits the same rows in one batch, in batches of three and across restarts") {
      val (w, c, r) = threeWays(name, OutputMode.Append)(build)
      val (whole, chunked, restarted) = (sorted(w), sorted(c), sorted(r))
      assert(whole.nonEmpty, s"$name emits nothing for the seeded input")
      assert(chunked == whole,
        s"$name, batches of three:\nchunked=$chunked\nwhole=$whole\nevents=$events")
      assert(restarted == whole,
        s"$name, restarts:\nrestarted=$restarted\nwhole=$whole\nevents=$events")
    }
  }

  arrivalOperators.foreach { case (name, mode, build, fold) =>
    test(s"$name folds to the same result in one batch, in batches of three and across restarts") {
      val (w, c, r) = threeWays(name, mode)(build)
      val (whole, chunked, restarted) = (fold(w), fold(c), fold(r))
      assert(whole.nonEmpty, s"$name emits nothing for the seeded input")
      assert(chunked == whole,
        s"$name, batches of three:\nchunked=$chunked\nwhole=$whole\nevents=$events")
      assert(restarted == whole,
        s"$name, restarts:\nrestarted=$restarted\nwhole=$whole\nevents=$events")
    }
  }

  // Across micro-batches the proc-time join follows arrival order by
  // design, so one batch and batches of three may differ; a restart
  // must not change what the same batches emit.
  test("proc_time_join emits the same rows in batches of three with and without restarts") {
    val build = (ds: Dataset[GEvent]) =>
      StreamingProcTimeTemporalJoin(spark, side(ds, "L"), side(ds, "R")).toDF()
    val thirds = events.grouped(3).toSeq
    val chunked = sorted(StreamHarness.run(thirds, OutputMode.Append,
      "restart_proc_time_join_chunked")(build).collect().toSeq)
    assert(chunked.nonEmpty, "proc_time_join emits nothing for the seeded input")
    val restarted = sorted(StreamHarness.runRestarting(thirds, OutputMode.Append)(build))
    assert(restarted == chunked,
      s"proc_time_join, restarts:\nrestarted=$restarted\nchunked=$chunked\nevents=$events")
  }
}
