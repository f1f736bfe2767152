package graft

import graft.operators.PatternNFA
import graft.operators.PatternNFA._
import graft.streaming.{GEvent, StreamingMatchRecognize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.OutputMode
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Batch/streaming parity of the CEP scan: the streaming operator
  * offers an anchor once the watermark closes its window, the batch
  * scan once a later event or the end of the key does, and both must
  * then emit the same rows. Inputs are small seeded keyed sequences
  * with tied timestamps (positional order falls back to the id), fed
  * in event-time order under two batchings and closed by a flush event
  * far past every window.
  */
class CepParitySpec extends AnyFunSuite {
  import StreamHarness.spark
  import spark.implicits._

  private val withinSec = 10L
  private val within = withinSec * 1000000L
  private val flush = GEvent(99L, 1000L * 1000000L, 0L, "z", 0.0)

  /** One key: 4-9 events 0-3 s apart (0 = a tied timestamp), from
    * t = 1 s: the first micro-batch runs at watermark 0, at or below
    * which an event is late and dropped. Ids are unique but not in
    * arrival order, so ties exercise the (ts, id) tiebreak. */
  private def keyGen(key: Long): Gen[Seq[GEvent]] = for {
    n <- Gen.choose(4, 9)
    gaps <- Gen.listOfN(n, Gen.choose(0L, 3L))
    kinds <- Gen.listOfN(n, Gen.frequency(3 -> "a", 4 -> "b", 3 -> "c", 1 -> "d"))
    noise <- Gen.listOfN(n, Gen.choose(0L, 99L))
  } yield {
    val ts = gaps.scanLeft(1L)(_ + _).tail
    ts.indices.map(i => GEvent(key, ts(i) * 1000000L,
      key * 10000L + noise(i) * 10L + i, kinds(i), 0.0))
  }

  /** Four keys of seeded events plus the flush, in (ts, id) order. */
  private def events(seed: Long): Seq[GEvent] =
    (1L to 4L).flatMap(k =>
      keyGen(k).pureApply(Gen.Parameters.default, Seed(seed * 10L + k)))
      .sortBy(e => (e.tsMicros, e.id)) :+ flush

  /** All events in one micro-batch, and event-time chunks of three. */
  private def batchings(evs: Seq[GEvent]): Seq[Seq[Seq[GEvent]]] =
    Seq(Seq(evs), evs.grouped(3).toSeq)

  private def drive(batches: Seq[Seq[GEvent]], name: String)(
      build: DataFrame => DataFrame): Seq[String] =
    StreamHarness.run(batches, OutputMode.Append, name)(ds => build(ds.toDF()))
      .collect().map(_.toString).sorted.toSeq

  private val relaxed = Seq(Step("A", "a"), Step("B", "b", OneOrMore()),
    Step("C", "c"))

  test("streaming pattern equals batch run under every AfterMatch strategy") {
    val evs = events(7000L)
    val strategies = Seq(SkipToNextRow, SkipPastLastEvent, NoSkip,
      SkipToFirst("B"), SkipToLast("B"))
    strategies.zipWithIndex.foreach { case (am, si) =>
      val batch = PatternNFA.run(spark, evs.toDF(), relaxed, within, am)
        .collect().map(_.toString).sorted.toSeq
      assert(batch.nonEmpty, s"$am: the seeded input matches nothing")
      batchings(evs).zipWithIndex.foreach { case (bs, bi) =>
        val streamed = drive(bs, s"cep_parity_p${si}_$bi") { df =>
          StreamingMatchRecognize.pattern(spark, df, relaxed, within, am,
            watermarkDelay = "10 seconds").toDF()
        }
        assert(streamed == batch,
          s"$am, batching $bi:\nstreamed=$streamed\nbatch=$batch\nevents=$evs")
      }
    }
  }

  /** The strict timeout side output of `PATTERN (A B+ C)` with
    * A = a|b, B = b, C = c, spelled out directly (no batch door emits
    * strict timeouts; `runTimeouts` is the relaxed pattern API, whose
    * contiguity differs): an offered anchor either matches (a greedy
    * contiguous b-run inside the window, then an adjacent c inside it;
    * a b at or past the deadline kills the run) or emits its longest
    * in-window prefix. A match moves the first offerable row per
    * strategy. */
  private def strictTimeouts(evs: Seq[GEvent], skip: String): Set[PTimeout] =
    evs.filter(_.key != flush.key).groupBy(_.key).toSeq.flatMap { case (key, ks) =>
      val e = ks.sortBy(x => (x.tsMicros, x.id)).toVector
      var minIdx = 0
      e.indices.flatMap { i =>
        val a = e(i)
        if (i < minIdx || !(a.kind == "a" || a.kind == "b")) None
        else {
          val dl = a.tsMicros + within
          val bs = e.indices.drop(i + 1).takeWhile(j => e(j).kind == "b")
          val inWin = bs.takeWhile(j => e(j).tsMicros < dl)
          val end = i + 1 + bs.size
          val matched = inWin.size == bs.size && bs.nonEmpty &&
            e.lift(end).exists(c => c.kind == "c" && c.tsMicros < dl)
          if (matched) {
            minIdx = skip match {
              case "PAST LAST ROW" => end + 1
              case "TO FIRST B" => math.max(minIdx, bs.head)
              case "TO LAST B" => math.max(minIdx, bs.last)
              case _ => minIdx
            }
            None
          } else if (inWin.isEmpty) Some(PTimeout(key, a.id, a.id, s"${a.id}", 1))
          else Some(PTimeout(key, a.id, e(inWin.last).id,
            s"${a.id},${e(inWin.head).id}", 2))
        }
      }
    }.toSet

  test("streaming MATCH_RECOGNIZE timeouts follow the strict scan under every skip clause") {
    val evs = events(8000L)
    Seq("TO NEXT ROW", "PAST LAST ROW", "TO FIRST B", "TO LAST B")
      .zipWithIndex.foreach { case (skip, si) =>
        val clause =
          s"""MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
             |  AFTER MATCH SKIP $skip
             |  PATTERN (A B+ C) WITHIN INTERVAL '$withinSec' SECOND
             |  DEFINE A AS kind = 'a' OR kind = 'b', B AS kind = 'b',
             |         C AS kind = 'c')""".stripMargin
        val expected = strictTimeouts(evs, skip)
        assert(expected.nonEmpty, s"$skip: the seeded input times out nothing")
        batchings(evs).zipWithIndex.foreach { case (bs, bi) =>
          val streamed = StreamHarness.run(bs, OutputMode.Append,
              s"cep_parity_t${si}_$bi") { ds =>
            StreamingMatchRecognize.timeouts(spark, ds.toDF(), clause,
              watermarkDelay = "10 seconds").toDF()
          }.as[PTimeout].collect().toSet
          assert(streamed == expected,
            s"SKIP $skip, batching $bi:\nstreamed=$streamed\nexpected=$expected\nevents=$evs")
        }
      }
  }

  test("streaming MATCH_RECOGNIZE rejects a DEFINE forward reference before any query starts") {
    // batch MatchRecognize.run rejects this clause when it is called
    // (BatchOpsSpec); the streaming door must too, not in a micro-batch
    val fwd = intercept[RuntimeException] {
      StreamingMatchRecognize(spark, StreamHarness.mkStream().toDS().toDF(),
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  PATTERN (A B) WITHIN INTERVAL '1' MINUTE
          |  DEFINE A AS kind = 'A' AND A.value > B.value,
          |         B AS kind = 'B')""".stripMargin)
    }
    assert(fwd.getMessage.contains("LATER"), fwd.getMessage)
    assert(spark.streams.active.isEmpty)
  }

  test("streaming pattern accepts every until-kind and group step batch run accepts") {
    // the until-kind "x" and the group's sub-step kinds name no
    // top-level step: the streaming door must still compile them to
    // pattern variables, as the batch door does
    val evs = Seq(
      GEvent(1, 1000000L, 1, "a", 0), GEvent(1, 2000000L, 2, "b", 0),
      GEvent(1, 3000000L, 3, "b", 0), GEvent(1, 4000000L, 4, "x", 0),
      GEvent(1, 5000000L, 5, "b", 0), GEvent(1, 6000000L, 6, "c", 0),
      GEvent(2, 1000000L, 7, "a", 0), GEvent(2, 2000000L, 8, "p", 0),
      GEvent(2, 3000000L, 9, "q", 0), GEvent(2, 4000000L, 10, "p", 0),
      GEvent(2, 5000000L, 11, "q", 0), GEvent(2, 6000000L, 12, "c", 0),
      flush)
    val patterns = Seq(
      Seq(Step("A", "a"), Step("B", "b", Greedy(OneOrMore(Some("x")))),
        Step("C", "c")),
      Seq(Step("A", "a"), Step("G", "",
          AnyEntry(GroupTimes(Seq(Step("P", "p"), Step("Q", "q")), 1, 2))),
        Step("C", "c")))
    patterns.zipWithIndex.foreach { case (steps, pi) =>
      val batch = PatternNFA.run(spark, evs.toDF(), steps, within)
        .collect().map(_.toString).sorted.toSeq
      assert(batch.nonEmpty, s"pattern $pi: batch run matches nothing")
      val streamed = drive(Seq(evs), s"cep_parity_kinds_$pi") { df =>
        StreamingMatchRecognize.pattern(spark, df, steps, within,
          watermarkDelay = "10 seconds").toDF()
      }
      assert(streamed == batch, s"pattern $pi:\nstreamed=$streamed\nbatch=$batch")
    }
  }
}
