package graft

import graft.streaming._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Harness tests for the custom stateful streaming operators —
  * multi-batch, out-of-order arrivals, watermark-driven flush; the
  * paths the (single-batch) driver oracle can't exercise.
  */
class StreamingOpsSpec extends AnyFunSuite {
  import StreamHarness.{spark, ev}

  test("StreamingTopN keeps a bounded sorted buffer and re-emits on change") {
    val batches = Seq(
      Seq(ev(1, 10, 100, value = 5.0), ev(1, 11, 101, value = 9.0)),
      Seq(ev(1, 12, 102, value = 7.0)),   // enters top-3
      Seq(ev(1, 13, 103, value = 1.0)),   // below top-3 → no emission
      Seq(ev(1, 14, 104, value = 8.0)))   // evicts 5.0
    val out = StreamHarness.run(batches, OutputMode.Update, "topn_spec") { ds =>
      StreamingTopN(spark, ds, n = 3).toDF()
    }
    val finalSeq = out.agg(max("emitSeq")).head.getLong(0)
    val finalTop = out.filter(col("emitSeq") === finalSeq)
      .orderBy("rank").select("id").collect().map(_.getLong(0)).toSeq
    assert(finalTop == Seq(101, 104, 102)) // 9.0, 8.0, 7.0
    // batch 3 (value 1.0) must not have produced a new revision:
    // revisions = batch1, batch2, batch4.
    assert(finalSeq == 3)
  }

  test("StreamingAsOfJoin matches each mature left to latest right <= t") {
    // NB: rows older than the watermark are dropped by Spark before
    // reaching the operator (same as the reference's late-data rule),
    // so every batch's events sit at/above the prior watermark.
    val batches = Seq(
      Seq(ev(1, 100, 1, kind = "R"), ev(1, 200, 2, kind = "R")),
      // wm=190: L@195 pending until wm passes; R@240 is a newer version
      Seq(ev(1, 195, 10, kind = "L"), ev(1, 250, 11, kind = "L"),
          ev(1, 240, 3, kind = "R")),
      Seq(ev(2, 10000, 99, kind = "L")))  // advances watermark past all
    val out = StreamHarness.run(batches, OutputMode.Append, "asof_spec") { ds =>
      StreamingAsOfJoin(spark,
        left = ds.filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
        right = ds.filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder),
        watermarkDelay = "10 seconds").toDF()
    }
    val got = out.select("leftId", "rightId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(10L) == 1L)   // left@195 → right@100 (R@200/240 are newer)
    assert(got(11L) == 3L)   // left@250 → right@240 (latest version ≤ 250)
  }

  test("StreamingTopN idle-state retention evicts keys the watermark left behind") {
    // retention 60s, watermark delay 0: key 1 goes idle at t=10, the
    // watermark jumps to t=1000 on key 2's traffic → key 1's buffer
    // must be evicted (numRowsTotal drops) and a later key-1 row must
    // start a FRESH buffer (old top-n values gone).
    val input = StreamHarness.mkStream()
    spark.catalog.dropTempView("topn_ttl_spec")
    val out = StreamingTopN(spark, input.toDS(), n = 3,
      idleRetentionMicros = 60L * 1000000L, watermarkDelay = "0 seconds")
    val q = out.toDF().writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("topn_ttl_spec").start()
    def push(evs: graft.streaming.GEvent*): Unit = {
      input.addData(evs); q.processAllAvailable()
    }
    try {
      push(ev(1, 10, 1, value = 5.0))      // key 1 buffered
      push(ev(2, 1000, 2, value = 7.0))    // watermark → 1000s
      push(ev(2, 1001, 3, value = 1.0))    // timeout pass evicts key 1
      push(ev(1, 1005, 9, value = 1.0))    // key 1 returns after eviction
    } finally q.stop()
    val stateTotals = q.recentProgress.toSeq
      .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
    assert(stateTotals.max == 2, s"expected 2 live keys at peak: $stateTotals")
    assert(stateTotals.last <= 2 && stateTotals.contains(1L),
      s"idle key never evicted: $stateTotals")
    // fresh buffer: id 9 re-enters at rank 1 / revision 1 — the old
    // 5.0 entry would have pushed it to rank 2 had state survived.
    val reborn = spark.table("topn_ttl_spec")
      .filter(col("key") === 1 && col("id") === 9).collect()
    assert(reborn.length == 1)
    assert(reborn.head.getAs[Int]("rank") == 1)
    assert(reborn.head.getAs[Long]("emitSeq") == 1L)
  }

  test("StreamingProcTimeTemporalJoin joins the latest version AT ARRIVAL and replaces state") {
    val batches = Seq(
      Seq(ev(1, 100, 1, kind = "R"), ev(1, 150, 10, kind = "L")),
      // new right version replaces id=1 (single-version state)
      Seq(ev(1, 200, 2, kind = "R"), ev(1, 250, 11, kind = "L")),
      // proctime semantics: this left's EVENT time (50) predates both
      // right versions, but it arrives now → joins the CURRENT version
      // (id=2). The rowtime as-of join would have matched nothing.
      Seq(ev(1, 50, 12, kind = "L")),
      Seq(ev(2, 10, 13, kind = "L")))  // no version for key 2 → unmatched
    val out = StreamHarness.run(batches, OutputMode.Append, "proctime_spec") { ds =>
      StreamingProcTimeTemporalJoin(spark,
        left = ds.filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
        right = ds.filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder)).toDF()
    }
    val got = out.select("leftId", "rightId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(10L -> 1L, 11L -> 2L, 12L -> 2L, 13L -> -1L))
  }

  test("StreamingProcTimeTemporalJoin keeps a state row only for keys that have seen a right") {
    // a key with only lefts has no version to keep: it stores nothing,
    // however many lefts it joins unmatched
    val input = StreamHarness.mkStream()
    val ds = input.toDS()
    val out = StreamingProcTimeTemporalJoin(spark,
      left = ds.filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
      right = ds.filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder))
    spark.catalog.dropTempView("proctime_state_spec")
    val q = out.toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("proctime_state_spec").start()
    def stateRows(evs: GEvent*): Long = {
      input.addData(evs); q.processAllAvailable()
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    }
    try {
      assert(stateRows(ev(1, 10, 1, kind = "R"), ev(1, 11, 10, kind = "L"),
        ev(2, 12, 11, kind = "L"), ev(3, 13, 12, kind = "L")) == 1L)
      assert(stateRows(ev(2, 20, 13, kind = "L"), ev(4, 21, 14, kind = "L")) == 1L)
      assert(stateRows(ev(2, 30, 2, kind = "R")) == 2L)
    } finally q.stop()
    assert(spark.table("proctime_state_spec").count() == 5)
  }

  test("StreamingCEP emits earliest B per A within the window") {
    val batches = Seq(
      Seq(ev(1, 100, 1, kind = "A"), ev(1, 110, 2, kind = "B"),
          ev(1, 120, 3, kind = "B"), ev(1, 500, 4, kind = "A")),
      Seq(ev(1, 9000, 9, kind = "A")))  // advances watermark
    val out = StreamHarness.run(batches, OutputMode.Append, "cep_spec") { ds =>
      StreamingCEP(spark, ds, aKind = "A", bKind = "B",
        withinMicros = 60L * 1000000L, watermarkDelay = "1 second").toDF()
    }
    val pairs = out.select("aId", "bId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(pairs == Seq(1L -> 2L)) // earliest B only; A@500 has no B in window
  }

  test("StreamingOverAgg carries the frame tail across batches") {
    val batches = Seq(
      Seq(ev(1, 10, 1, value = 1.0), ev(1, 20, 2, value = 2.0), ev(1, 30, 3, value = 4.0)),
      Seq(ev(1, 100, 4, value = 8.0)),     // matures 1..3 (wm=30-? with 10s delay → 20)
      Seq(ev(1, 1000, 5, value = 16.0)),   // advances watermark past 100
      Seq(ev(2, 99999, 9, value = 0.0)))   // flush everything else
    val out = StreamHarness.run(batches, OutputMode.Append, "over_spec") { ds =>
      StreamingOverAgg(spark, ds, kPreceding = 2, watermarkDelay = "10 seconds").toDF()
    }
    val sums = out.filter(col("key") === 1).orderBy("id")
      .select("frameSum").collect().map(_.getDecimal(0).doubleValue()).toSeq
    // frames (k=2): [1], [1,2], [1,2,4], [2,4,8], [4,8,16]
    assert(sums == Seq(1.0, 3.0, 7.0, 14.0, 28.0))
  }

  test("StreamingSymmetricJoin emits pairs across batches without a time bound") {
    val batches = Seq(
      Seq(ev(1, 10, 1, kind = "L"), ev(1, 20, 100, kind = "R")),
      Seq(ev(1, 99999, 2, kind = "L")),  // joins R buffered long ago
      Seq(ev(1, 30, 101, kind = "R")))   // late R still joins all L's
    val out = StreamHarness.run(batches, OutputMode.Append, "symjoin_spec") { ds =>
      StreamingSymmetricJoin(spark,
        left = ds.filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
        right = ds.filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder)).toDF()
    }
    val pairs = out.select("leftId", "rightId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(pairs == Set(1L -> 100L, 2L -> 100L, 1L -> 101L, 2L -> 101L))
  }

  test("StreamingAsOfJoin idle retention evicts a key's residual version state") {
    // key 1 buffers a right version at t=100 and then goes idle; once
    // the watermark passes t=160 (60s retention) the entry is removed,
    // so a much-later left on key 1 joins UNMATCHED — the documented
    // idle-state-retention trade. Without retention it would match id 1.
    val input = StreamHarness.mkStream()
    spark.catalog.dropTempView("asof_ttl_spec")
    val out = StreamingAsOfJoin(spark,
      left = input.toDS().filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
      right = input.toDS().filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder),
      watermarkDelay = "10 seconds", idleRetentionMicros = 60L * 1000000L)
    val q = out.toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("asof_ttl_spec").start()
    def push(evs: graft.streaming.GEvent*): Unit = { input.addData(evs); q.processAllAvailable() }
    try {
      push(ev(1, 100, 1, kind = "R"))     // version buffered, key 1 idle from here
      push(ev(2, 1000, 10, kind = "L"))   // watermark → 990s
      push(ev(2, 1001, 11, kind = "L"))   // timeout pass evicts key 1
      push(ev(1, 1200, 12, kind = "L"))   // key 1 returns after eviction
      push(ev(2, 1400, 13, kind = "L"))   // watermark → 1390
      push(ev(2, 1500, 14, kind = "L"))   // batch at wm 1390 flushes L@1200
      q.processAllAvailable()             // let the timeout no-data batch run
    } finally q.stop()
    val got = spark.table("asof_ttl_spec")
      .select("leftId", "rightId", "matched").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got(12L) == (-1L, false),
      s"late left matched an evicted version: $got")
    val totals = q.recentProgress.toSeq
      .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
    assert(totals.contains(1L) || totals.contains(0L),
      s"state never shrank after eviction: $totals")
  }

  test("StreamingCEP frees a key's state entry once its pattern window expires") {
    val input = StreamHarness.mkStream()
    spark.catalog.dropTempView("cep_gc_spec")
    val out = StreamingCEP(spark, input.toDS(), aKind = "A", bKind = "B",
      withinMicros = 60L * 1000000L, watermarkDelay = "1 second")
    val q = out.toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cep_gc_spec").start()
    def push(evs: graft.streaming.GEvent*): Unit = { input.addData(evs); q.processAllAvailable() }
    try {
      push(ev(1, 100, 1, kind = "A"), ev(1, 110, 2, kind = "B"))
      push(ev(2, 1000, 9, kind = "A"))  // wm jump matures key 1 entirely
      push(ev(2, 2000, 10, kind = "A")) // timeout pass collects key 1 AND key 2's expired A
      push(ev(3, 4000, 11, kind = "A")) // next pass: key 2's A@2000 expired too
      push(ev(3, 6000, 12, kind = "A"))
    } finally q.stop()
    // the match still emitted...
    val pairs = spark.table("cep_gc_spec").select("aId", "bId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(pairs == Set(1L -> 2L))
    // ...and completed/expired keys release their entries: the state
    // row count must DROP at some point (never monotone-growing).
    val totals = q.recentProgress.toSeq
      .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
    assert(totals.zip(totals.tail).exists { case (a, b) => b < a },
      s"state never shrank: $totals")
  }

  test("StreamingSymmetricJoin idle retention evicts stale rows from the match buffer") {
    // same topology as the unbounded test, but with a 60s retention:
    // the L@10s row must be evicted once the key sees t=99999, so the
    // late R@30s joins ONLY the recent left — bounded state under
    // unbounded key lifetimes (ExecutionConfigOptions idle-state
    // retention semantics).
    val batches = Seq(
      Seq(ev(1, 10, 1, kind = "L"), ev(1, 20, 100, kind = "R")),
      Seq(ev(1, 99999, 2, kind = "L")),   // evicts everything idle > 60s
      Seq(ev(1, 99970, 101, kind = "R"))) // within retention of maxTs
    val out = StreamHarness.run(batches, OutputMode.Append, "symjoin_ttl_spec") { ds =>
      StreamingSymmetricJoin(spark,
        left = ds.filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
        right = ds.filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder),
        idleRetentionMicros = 60L * 1000000L).toDF()
    }
    val pairs = out.select("leftId", "rightId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    // 1↔100 match in batch 1 (both fresh); the late R@99970 joins only
    // L@99999 — L@10 and R@100's buffered copies were evicted.
    assert(pairs == Set(1L -> 100L, 2L -> 101L))
  }

  test("streaming dedup keep-first equals batch dedup") {
    val batches = Seq(
      Seq(ev(1, 10, 1, kind = "k1"), ev(1, 20, 2, kind = "k1"), ev(2, 15, 3, kind = "k1")),
      Seq(ev(1, 30, 4, kind = "k1"), ev(2, 5, 5, kind = "k2")))
    val out = StreamHarness.run(batches, OutputMode.Append, "dedup_spec") { ds =>
      ds.withColumn("ts", timestamp_micros(col("tsMicros")))
        .withWatermark("ts", "1 minute")
        .dropDuplicates("key", "kind")
    }
    // first-arrival per (key, kind): ids 1, 3, 5
    assert(out.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 5L))
  }

  test("dropDuplicatesWithinWatermark dedups within the watermark horizon") {
    val batches = Seq(
      Seq(ev(1, 10, 1, kind = "k1"), ev(1, 15, 2, kind = "k1")),  // dup within horizon
      Seq(ev(2, 5000, 9, kind = "k1")),  // advances watermark → expires key1 state
      Seq(ev(1, 10000, 3, kind = "k1"))) // same key re-emitted after expiry
    val out = StreamHarness.run(batches, OutputMode.Append, "ddww_spec") { ds =>
      ds.withColumn("ts", timestamp_micros(col("tsMicros")))
        .withWatermark("ts", "30 seconds")
        .dropDuplicatesWithinWatermark("key", "kind")
    }
    val ids = out.select("id").collect().map(_.getLong(0)).sorted.toSeq
    // id2 deduped (same key within horizon); id3 re-emitted only
    // because the watermark expired the key's state in between
    assert(ids == Seq(1L, 3L, 9L))
  }

  test("foreachBatch enriches each micro-batch with a dim snapshot (broadcast-state analog)") {
    // SURVEY §2.9 connect/broadcast-state → per-micro-batch join in
    // foreachBatch against a (refreshable) dimension table.
    import spark.implicits._
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("key", "tier")
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val input = StreamHarness.mkStream()
    val q = input.toDS().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[graft.streaming.GEvent], _: Long) =>
        batch.toDF().join(org.apache.spark.sql.functions.broadcast(dim), "key")
          .select("id", "tier").collect()
          .foreach(r => sink.add(r.getLong(0) -> r.getString(1)))
      }
      .start()
    input.addData(Seq(ev(1, 10, 100), ev(2, 20, 200), ev(3, 30, 300)))
    q.processAllAvailable()
    input.addData(Seq(ev(1, 40, 101)))
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(sink.asScala.toSet == Set(100L -> "gold", 200L -> "silver", 101L -> "gold"))
  }

  test("streaming agg runs on the RocksDB state store provider") {
    // the 100 TB state backend (RocksDBKeyedStateBackend analog).
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = StreamHarness.run(
        Seq(Seq(ev(1, 10, 1, value = 2.0), ev(1, 20, 2, value = 3.0)),
            Seq(ev(1, 30, 3, value = 5.0))),
        OutputMode.Update, "rocks_spec") { ds =>
        ds.groupBy("key").agg(sum("value").as("v"), count(lit(1)).as("n"))
      }
      val last = operators.Dedup.keepLast(
        out.withColumn("_seq", monotonically_increasing_id()), Seq("key"), "_seq", "_seq")
      assert(last.select("v").head.getDouble(0) == 10.0) // state carried across batches
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming query resumes from checkpoint with state intact") {
    import org.apache.spark.sql.streaming.Trigger
    val chk = java.nio.file.Files.createTempDirectory("graft_resume").toString
    spark.catalog.dropTempView("resume_spec")
    val input = StreamHarness.mkStream()
    def start() = input.toDS()
      .groupBy("key").agg(sum("value").as("v"))
      .writeStream.outputMode(OutputMode.Complete)
      .option("checkpointLocation", chk)
      .format("memory").queryName("resume_spec").start()
    val q1 = start()
    input.addData(Seq(ev(1, 10, 1, value = 4.0)))
    q1.processAllAvailable(); q1.stop()
    // restart from the same checkpoint; prior state must survive
    val q2 = start()
    input.addData(Seq(ev(1, 20, 2, value = 6.0)))
    q2.processAllAvailable(); q2.stop()
    val v = spark.table("resume_spec").filter(col("key") === 1)
      .orderBy(col("v").desc).select("v").head.getDouble(0)
    assert(v == 10.0) // 4.0 from before the restart + 6.0 after
  }

  test("late-data side output: foreachBatch splits on-time vs late rows") {
    // SURVEY §2.9 allowedLateness/sideOutputLateData analog: Spark
    // drops late rows inside watermarked stateful ops, so the side
    // channel is a foreachBatch filter against the previous watermark.
    import org.apache.spark.sql.Dataset
    val onTime = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var lastWmMicros = 0L
    val input = StreamHarness.mkStream()
    val q = input.toDS()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val wm = lastWmMicros
        batch.collect().foreach { r =>
          val tsM = r.getAs[Long]("tsMicros")
          if (tsM < wm) late.add(r.getAs[Long]("id")) else onTime.add(r.getAs[Long]("id"))
        }
      }
      .start()
    def advance(b: Seq[graft.streaming.GEvent]): Unit = {
      input.addData(b); q.processAllAvailable()
      // mirror Spark's watermark for the next batch
      val mx = b.map(_.tsMicros).max / 1000
      lastWmMicros = math.max(lastWmMicros, (mx - 10000) * 1000)
    }
    advance(Seq(ev(1, 100, 1)))
    advance(Seq(ev(1, 200, 2), ev(1, 50, 3)))  // id3 far below watermark (90s)
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(onTime.asScala.toSet == Set(1L, 2L))
    assert(late.asScala.toSet == Set(3L))
  }

  test("late-fire window: early → ontime → late re-fire, too-late dropped") {
    import graft.streaming.{StreamingLateFireWindow, WEvent}
    val spark = StreamHarness.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEvent]
    spark.catalog.dropTempView("latefire_spec")
    // 60s windows; declared watermark 70s = 10s delay + 60s lateness
    val out = StreamingLateFireWindow(spark, input.toDS(),
      windowMicros = 60000000L, watermarkDelayWithLateness = "70 seconds",
      latenessMicros = 60000000L)
    val q = out.toDF().writeStream.outputMode("append")
      .format("memory").queryName("latefire_spec").start()
    def push(evs: WEvent*): Unit = { input.addData(evs); q.processAllAvailable() }
    def we(tSec: Long, id: Long) = WEvent("k", tSec * 1000000L, id)
    try {
      push(we(10, 1), we(20, 2))  // window A=[0,60): early preview
      push(we(125, 3))            // C=[120,180) early; true-wm 60 → A ontime
      push(we(58, 4))             // late for A, within lateness → late re-fire
      push(we(300, 5))            // D early; wm jump matures C (ontime)
      push(we(58, 6))             // beyond lateness now → dropped by Spark
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("latefire_spec")
      .collect()
      .map(r => (r.getAs[Long]("wstartMicros") / 1000000L,
        r.getAs[String]("phase"), r.getAs[Int]("fireSeq"), r.getAs[Long]("n")))
      .toSet
    assert(got == Set(
      (0L, "early", 0, 2L), (0L, "ontime", 1, 2L), (0L, "late", 2, 3L),
      (120L, "early", 0, 1L), (120L, "ontime", 1, 1L),
      (300L, "early", 0, 1L)))
  }

  test("late-fire window: a key whose last window is cleaned keeps no state") {
    import graft.streaming.{StreamingLateFireWindow, WEvent}
    val spark = StreamHarness.spark
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[WEvent]
    val out = StreamingLateFireWindow(spark, input.toDS(),
      windowMicros = 60000000L, watermarkDelayWithLateness = "70 seconds",
      latenessMicros = 60000000L)
    val q = out.toDF().writeStream.outputMode("append")
      .format("noop").start()
    def push(evs: WEvent*): Unit = { input.addData(evs); q.processAllAvailable() }
    def we(key: String, tSec: Long, id: Long) = WEvent(key, tSec * 1000000L, id)
    try {
      push(we("a", 10, 1), we("b", 20, 2), we("a", 70, 3))
      // spark-wm 930 s passes the ends of a's and b's windows; the row
      // that moves it opens z's own window, so z is the one live key
      push(we("z", 1000, 4))
      q.processAllAvailable()
    } finally q.stop()
    val totals = q.recentProgress.toSeq
      .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
    assert(totals.max == 3, s"expected a, b and z live at the peak: $totals")
    assert(totals.last == 1, s"cleaned keys kept state: $totals")
  }

  test("temporal sort releases buffered rows in event-time order at the watermark") {
    import graft.streaming.StreamingTemporalSort
    val out = StreamHarness.run(
        Seq(Seq(ev(1, 100, 1), ev(1, 50, 2)), Seq(ev(1, 300, 3))),
        OutputMode.Append, "tsort_spec") { ds =>
      StreamingTemporalSort(StreamHarness.spark, ds, "1 minute").toDF()
    }
    val got = out.orderBy("emitSeq").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("emitSeq"))).toSeq
    // watermark reaches 240s: ids 2 (t=50) then 1 (t=100) release in
    // event-time order despite arrival order; t=300 stays buffered.
    assert(got == Seq((2L, 1L), (1L, 2L)))
  }

  test("streaming windowed agg (update) converges to batch result") {
    val batches = Seq(
      Seq(ev(1, 10, 1, value = 1.0), ev(1, 70, 2, value = 2.0)),
      Seq(ev(1, 20, 3, value = 4.0)))
    val out = StreamHarness.run(batches, OutputMode.Update, "wagg_spec") { ds =>
      ds.withColumn("ts", timestamp_micros(col("tsMicros")))
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 minute"), col("key"))
        .agg(sum("value").as("v"), count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("key"), col("v"), col("n"))
    }
    // fold updates: last revision per (ws, key)
    val last = operators.Dedup.keepLast(
      out.withColumn("_seq", monotonically_increasing_id()), Seq("ws", "key"), "_seq", "_seq")
    val got = last.select("v").orderBy("ws").collect().map(_.getDouble(0)).toSeq
    assert(got == Seq(5.0, 2.0)) // window[0,60): 1+4; window[60,120): 2
  }

  test("one pipeline definition runs in BOTH batch and streaming mode (unified runtime)") {
    // The reference's central promise: the same declarative transform
    // executes as a bounded batch job or an unbounded stream. Here the
    // identical function is applied to a batch read and a readStream;
    // the streaming (append) result must equal the batch result
    // restricted to watermark-closed windows.
    import org.apache.spark.sql.DataFrame
    def pipeline(events: DataFrame): DataFrame =
      events.withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val dir = "/root/testdata/sf0.001"
    val batch = pipeline(Tables(spark, dir, "events"))
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamIn = Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val q = pipeline(streamIn).writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("unified_spec").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("unified_spec")
    val wmUs = Tables(spark, dir, "events")
      .agg((unix_micros(max(col("ts"))) - 60L * 1000000L).as("wm")).head.getLong(0)
    val closedBatch = batch.filter(
      unix_micros(col("ws") + expr("INTERVAL 6 HOUR")) <= wmUs)
    assert(streamed.exceptAll(closedBatch).isEmpty &&
      closedBatch.exceptAll(streamed).isEmpty,
      "batch and streaming runs of the same pipeline disagree")
  }

  test("StreamingMatchRecognize emits the batch NFA's matches incrementally") {
    import graft.streaming.StreamingMatchRecognize
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val clause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B+ P) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'signup', B AS kind = 'click',
        |         P AS kind = 'purchase')""".stripMargin
    val batches = Seq(
      Seq(ev(1, 10, 1, "signup"), ev(1, 20, 2, "click")),
      Seq(ev(1, 30, 3, "click"), ev(1, 40, 4, "purchase"),
        ev(2, 15, 5, "signup")),
      // second anchor for key 1 (strict: its click run starts right
      // after it); key 2 never completes
      Seq(ev(1, 45, 6, "signup"), ev(1, 50, 7, "click"),
        ev(1, 55, 8, "purchase")),
      Seq(ev(9, 300, 9, "flush"))) // advances the watermark past every deadline
    val allEvents = batches.flatten
    val input = StreamHarness.mkStream()
    spark.catalog.dropTempView("smr_spec")
    val q = StreamingMatchRecognize(spark, input.toDS().toDF(), clause,
        watermarkDelay = "10 seconds")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("smr_spec").start()
    val progressive = scala.collection.mutable.ListBuffer.empty[Long]
    try {
      batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
        progressive += spark.table("smr_spec").count()
      }
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("smr_spec")
      .collect().map(_.toString).sorted.toSeq
    // ground truth: the batch facade over the complete input (every
    // anchor's window is closed by the flush event's watermark)
    val batch = graft.operators.MatchRecognize.run(spark,
        allEvents.toDF("key", "tsMicros", "id", "kind", "value"), clause)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch,
      s"streaming=$streamed\nbatch=$batch")
    assert(streamed.nonEmpty)
    // incrementality: the first match (anchor t=10, deadline t=70)
    // must be out before the final flush batch — batch 3's watermark
    // (55 - 10 = 45)... deadline 70 > 45, so it flushes at batch 4;
    // what CAN be asserted without the flush is that nothing emits
    // while every anchor is immature:
    assert(progressive.take(2) == Seq(0L, 0L),
      s"matches emitted before any anchor matured: $progressive")
    assert(progressive.last == streamed.size.toLong)
  }

  test("streaming MATCH_RECOGNIZE state (nav values + inclusive skip mark) survives restart") {
    import graft.streaming.StreamingMatchRecognize
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // SKIP PAST LAST ROW is the strategy whose mark is OBSERVABLE
    // under strict contiguity: suppressed anchor candidates are rows
    // INSIDE the previous match's span, so A's condition must overlap
    // B's (kind IN) for such candidates to exist at all.
    val clause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B+ P) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'A' OR kind = 'B',
        |         B AS kind = 'B' AND B.value > A.value,
        |         P AS kind = 'P' AND P.value > FIRST(B.value))""".stripMargin
    // Pre-restart: A@10 matures (wm 75 > deadline 70) and matches rows
    // 10..30; the mark re-arms strictly PAST the P@30 row. The B@20 /
    // B@25 rows are also A-eligible anchors with deadlines 80/85 —
    // still immature at wm 75, so their suppression happens AFTER the
    // restart: a lost mark would admit the spurious B@20-anchored
    // match (B@25 beats 5, P@30 beats 6). The B@40-anchored match
    // needs its nav VALUES (5.0 / 6.0) restored from state.
    val batch1 = Seq(
      ev(1, 10, 1, "A", 0.0), ev(1, 20, 2, "B", 5.0),
      ev(1, 25, 3, "B", 6.0), ev(1, 30, 4, "P", 9.0),
      ev(1, 40, 5, "B", 5.0), ev(1, 42, 6, "B", 6.0),
      ev(1, 45, 7, "P", 9.0),
      ev(9, 85, 90, "wm"))
    val batch2 = Seq(ev(9, 200, 91, "wm"))
    val chk = java.nio.file.Files.createTempDirectory("graft_mr_resume").toString
    val input = StreamHarness.mkStream()
    // the Append-mode memory sink cannot recover from a checkpoint;
    // foreachBatch can, and is the recovery-capable sink shape anyway
    val got = scala.collection.mutable.ListBuffer.empty[String]
    def start() = StreamingMatchRecognize(spark, input.toDS().toDF(), clause,
        watermarkDelay = "10 seconds")
      .toDF().writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.collect().map(_.toString); ()
      }.start()
    val q1 = start()
    input.addData(batch1)
    q1.processAllAvailable(); q1.stop()
    val preRestart = got.size.toLong
    val q2 = start()
    input.addData(batch2)
    q2.processAllAvailable(); q2.stop()
    val streamed = got.sorted.toSeq
    val batch = graft.operators.MatchRecognize.run(spark,
        (batch1 ++ batch2).toDF("key", "tsMicros", "id", "kind", "value"),
        clause)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, s"streamed=$streamed\nbatch=$batch")
    assert(streamed.size == 2 && preRestart == 1L,
      s"expected 1 match before + 1 after restart, got $preRestart then " +
        s"${streamed.size} (a lost mark would admit the t=15 anchor; lost " +
        s"nav values would drop the post-restart match): $streamed")
  }

  test("streaming MATCH_RECOGNIZE DEFINE navigation matches batch under any batching") {
    import graft.streaming.StreamingMatchRecognize
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // mr6's navigation clause: B must beat the anchor's value, P must
    // beat the FIRST loop element's — context predicates evaluated
    // against keyed state carrying the nav values
    val clause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B+ P) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'signup',
        |         B AS kind = 'click' AND B.value > A.value,
        |         P AS kind = 'purchase' AND P.value > FIRST(B.value))""".stripMargin
    // delivered in event-time order (the watermark contract: a split
    // that revisits old timestamps after the watermark passed them is
    // late data, out of contract for ANY batching)
    val allEvents = Seq(
      // strict run [10.0, 11.0] (both beat the anchor's 5.0) ends at
      // the adjacent purchase, which beats FIRST(B)=10
      ev(1, 10, 1, "signup", 5.0), ev(1, 15, 2, "click", 10.0),
      ev(1, 20, 3, "click", 11.0), ev(1, 25, 5, "purchase", 12.0),
      // the loop exits AT the purchase row (kind fails B) — the
      // committed-greedy proceed row is the one P must bind
      ev(2, 10, 7, "signup", 0.0), ev(2, 15, 8, "click", 5.0),
      ev(2, 18, 9, "purchase", 5.5), ev(2, 22, 10, "click", 6.0),
      ev(2, 28, 11, "purchase", 4.0),
      // never completes: the adjacent purchase fails the value cut
      ev(3, 10, 12, "signup", 1.0), ev(3, 15, 13, "click", 99.0),
      ev(3, 20, 14, "purchase", 50.0),
      ev(9, 300, 15, "flush")) // closes every window
      .sortBy(e => (e.tsMicros, e.id))
    // ground truth: the batch facade over the complete input
    val batch = graft.operators.MatchRecognize.run(spark,
        allEvents.toDF("key", "tsMicros", "id", "kind", "value"), clause)
      .collect().map(_.toString).sorted.toSeq
    assert(batch.size == 2, batch)
    // three very different batchings must all emit exactly that set
    val splits = Seq(
      Seq(allEvents),                       // one batch + implicit flush
      allEvents.map(Seq(_)),                // one event per micro-batch
      Seq(allEvents.take(4), allEvents.slice(4, 9), allEvents.drop(9)))
    splits.zipWithIndex.foreach { case (batches, i) =>
      val streamed = StreamHarness.run(batches, OutputMode.Append, s"smrnav_$i") {
        in => StreamingMatchRecognize(spark, in.toDF(), clause,
          watermarkDelay = "10 seconds").toDF()
      }.collect().map(_.toString).sorted.toSeq
      assert(streamed == batch, s"split $i: streamed=$streamed batch=$batch")
    }
  }

  test("strict timeout prefix keeps in-window loop bindings when the run crosses WITHIN (r11 review)") {
    import graft.streaming.StreamingMatchRecognize
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // signup@10, click@30 (in window), click@80 (beyond 60s window),
    // no purchase: the timed-out prefix must report the IN-window
    // click (n_bound=2, last_id=2) — the full-match rule "a greedy
    // munch crossing WITHIN dies" must not starve the prefix down to
    // the bare anchor
    val clause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B+ P) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'signup', B AS kind = 'click',
        |         P AS kind = 'purchase')""".stripMargin
    val batches = Seq(
      Seq(ev(1, 10, 1, "signup"), ev(1, 30, 2, "click")),
      Seq(ev(1, 80, 3, "click")),
      Seq(ev(9, 300, 9, "flush")))
    val out = StreamHarness.run(batches, OutputMode.Append, "strict_tmo_prefix") {
      in => StreamingMatchRecognize.timeouts(spark, in.toDF(), clause,
        watermarkDelay = "10 seconds").toDF()
    }.select("key", "anchor_id", "last_id", "n_bound").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(out == Seq((1L, 1L, 2L, 2)), out)
  }

  test("streaming CEP timeout side output equals the batch scan, any batching") {
    import graft.streaming.StreamingMatchRecognize
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val clause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  PATTERN (A B P) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'signup', B AS kind = 'click',
        |         P AS kind = 'purchase')""".stripMargin
    // key 1: full match (no timeout); key 2: anchor+click but no
    // purchase (n_bound=2); key 3: bare anchor (n_bound=1); key 4:
    // purchase arrives after the window (still a timeout). Arrival is
    // ts-ordered: under row-per-batch the engine's late filter drops
    // anything older than watermark, so the spec (like a real source)
    // must respect the declared 10s out-of-orderness bound.
    val rows = Seq(
      ev(1, 10, 1, "signup"), ev(2, 12, 4, "signup"), ev(3, 14, 6, "signup"),
      ev(4, 16, 7, "signup"), ev(1, 20, 2, "click"), ev(2, 22, 5, "click"),
      ev(4, 26, 8, "click"), ev(1, 30, 3, "purchase"),
      ev(4, 100, 9, "purchase"), ev(9, 300, 10, "flush"))
    val expected = graft.operators.PatternNFA.runTimeouts(spark,
        rows.toDF("key", "tsMicros", "id", "kind", "value")
          .select(col("key"), col("tsMicros"), col("id"), col("kind")),
        Seq(graft.operators.PatternNFA.Step("A", "signup"),
          graft.operators.PatternNFA.Step("B", "click"),
          graft.operators.PatternNFA.Step("P", "purchase")),
        withinMicros = 60000000L)
      .collect().map(_.toString).sorted.toSeq
    assert(expected.size == 3, expected) // keys 2, 3, 4 time out
    for ((batching, bi) <- Seq(Seq(rows), rows.map(Seq(_)),
        rows.grouped(4).toSeq).zipWithIndex) {
      val name = s"cep_tmo_spec_$bi"
      val input = StreamHarness.mkStream()
      val q = StreamingMatchRecognize.timeouts(spark, input.toDS().toDF(),
          clause, watermarkDelay = "10 seconds")
        .writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(name).start()
      try {
        batching.foreach { b => input.addData(b); q.processAllAvailable() }
        q.processAllAvailable()
      } finally q.stop()
      val streamed = spark.table(name)
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == expected,
        s"batching=${batching.size}: streamed=$streamed\nexpected=$expected")
    }
  }

  test("streaming MEASURES equals the batch measures path once anchors mature") {
    import graft.streaming.StreamingMatchRecognize
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val clause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES MATCH_NUMBER() AS mno, COUNT(B.id) AS nb,
        |           ROUND(AVG(B.value), 6) AS avg_b,
        |           LAST(B.tsMicros) AS last_b_us, P.value AS p_value
        |  ONE ROW PER MATCH
        |  PATTERN (A B+ P) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'signup', B AS kind = 'click',
        |         P AS kind = 'purchase')""".stripMargin
    val batches = Seq(
      Seq(ev(1, 10, 1, "signup"), ev(1, 20, 2, "click", value = 2.0)),
      Seq(ev(1, 30, 3, "click", value = 4.0), ev(1, 40, 4, "purchase", value = 9.0)),
      // second match for key 1 → MATCH_NUMBER continuity across batches
      Seq(ev(1, 45, 5, "signup"), ev(1, 50, 6, "click", value = 8.0),
        ev(1, 55, 7, "purchase", value = 1.5)),
      Seq(ev(9, 300, 8, "flush")))
    val input = StreamHarness.mkStream()
    spark.catalog.dropTempView("smrm_spec")
    val q = StreamingMatchRecognize.measures(spark, input.toDS().toDF(), clause,
        watermarkDelay = "10 seconds")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("smrm_spec").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("smrm_spec")
      .select("key", "mno", "nb", "avg_b", "last_b_us", "p_value")
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.operators.MatchRecognize.run(spark,
        batches.flatten.toDF("key", "tsMicros", "id", "kind", "value"), clause)
      .select("key", "mno", "nb", "avg_b", "last_b_us", "p_value")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, s"streaming=$streamed\nbatch=$batch")
    assert(streamed.size == 2) // both key-1 matches, numbered 1 and 2
  }

  test("idle source stalls the union watermark; heartbeat rows un-stall it") {
    // The reference has pluggable idleness detection
    // (flink-core/.../eventtime/WatermarksWithIdleness.java): an input
    // that stops producing is marked idle and excluded from the
    // combined (min) watermark. Spark has no idleness hook — under the
    // default multipleWatermarkPolicy=min, one stalled input holds the
    // query watermark forever. This spec pins BOTH halves of the
    // documented delta: (1) the stall happens; (2) the union-heartbeat
    // workaround (synthetic watermark-advancing rows on the idle
    // input, filtered out after watermark assignment) releases it.
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val active = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[GEvent]
    val idle = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[GEvent]
    def wm(ds: org.apache.spark.sql.Dataset[GEvent]) =
      ds.withColumn("et", timestamp_micros(col("tsMicros")))
        .withWatermark("et", "0 seconds")
    // Heartbeats advance event time but must carry no data. The filter
    // that drops them has to sit ABOVE the watermark assignment in the
    // OPTIMIZED plan: Catalyst pushes deterministic predicates through
    // EventTimeWatermark (and constant-folds a vacuous reference like
    // `et IS NULL` on a non-nullable column), and a pushed-down filter
    // removes the heartbeat before the watermark stats collector ever
    // sees it — silently re-creating the stall. Anchoring the
    // predicate with a non-foldable comparison on the event-time
    // column keeps it above the watermark node.
    val q = wm(active.toDS()).union(wm(idle.toDS()))
      .filter(col("kind") =!= "hb" ||
        col("et") < lit("1900-01-01").cast("timestamp"))
      .groupBy(window(col("et"), "10 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("idle_wm_spec").start()
    try {
      active.addData(ev(1, 5, 1), ev(1, 15, 2))
      idle.addData(ev(2, 5, 3))
      q.processAllAvailable()
      // idle stream stops; active keeps advancing far past window ends
      active.addData(ev(1, 25, 4), ev(1, 35, 5))
      q.processAllAvailable()
      q.processAllAvailable()
      // combined watermark = min(35s, 5s) = 5s → nothing can close
      assert(spark.table("idle_wm_spec").isEmpty,
        "windows closed although one union input's watermark is stalled")
      // heartbeat on the idle input advances ITS watermark only; the
      // row itself is filtered out before aggregation
      idle.addData(GEvent(2, 40L * 1000000L, 99, "hb", 0.0))
      q.processAllAvailable()
      q.processAllAvailable()
      val rows = spark.table("idle_wm_spec")
        .collect().map(r => (r.getAs[java.sql.Timestamp]("ws").getTime / 1000,
          r.getAs[Long]("n"))).toMap
      // watermark = min(35, 40) = 35s → [0,10) and [10,20) and [20,30)
      // close; the hb row contributes to no window
      assert(rows == Map(0L -> 2L, 10L -> 1L, 20L -> 1L),
        s"unexpected closed windows: $rows")
    } finally q.stop()
  }

  test("streaming MEASURES idle retention evicts the residual MATCH_NUMBER state") {
    import graft.streaming.StreamingMatchRecognize
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val clause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES MATCH_NUMBER() AS mno, COUNT(B.id) AS nb
        |  ONE ROW PER MATCH
        |  PATTERN (A B+ P) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'signup', B AS kind = 'click',
        |         P AS kind = 'purchase')""".stripMargin
    val input = StreamHarness.mkStream()
    val q = StreamingMatchRecognize.measures(spark, input.toDS().toDF(), clause,
        watermarkDelay = "10 seconds",
        idleRetentionMicros = Some(60L * 1000000L))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("smr_idle_spec").start()
    def stateRows(): Long = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    try {
      // one full match for key 1; the flush event matures it and drains
      // key 1's buffer, leaving only the residual MATCH_NUMBER row
      input.addData(Seq(ev(1, 10, 1, "signup"), ev(1, 20, 2, "click"),
        ev(1, 30, 3, "purchase"), ev(9, 100, 4, "flush")))
      q.processAllAvailable()
      assert(spark.table("smr_idle_spec").count() == 1)
      // state = key 1's residual counter + key 9's still-live buffer
      assert(stateRows() == 2, s"expected residual+buffer state, got ${stateRows()}")
      // advance event time far past idleSince(90s) + retention(60s):
      // the eviction timer fires and the residual row is removed
      input.addData(Seq(ev(9, 300, 5, "flush")))
      q.processAllAvailable()
      assert(stateRows() == 1,
        s"residual MATCH_NUMBER state not evicted after retention: ${stateRows()}")
      // a post-eviction match restarts MATCH_NUMBER at 1 — the
      // documented idle-state-retention delta (batch would say 2)
      input.addData(Seq(ev(1, 400, 6, "signup"), ev(1, 410, 7, "click"),
        ev(1, 420, 8, "purchase"), ev(9, 600, 9, "flush")))
      q.processAllAvailable()
      val mnos = spark.table("smr_idle_spec").filter(col("key") === 1)
        .orderBy("nb").select("mno").collect().map(_.getLong(0)).toSeq
      assert(mnos == Seq(1L, 1L), s"MATCH_NUMBER after eviction: $mnos")
    } finally q.stop()
  }

  test("streaming rank SQL shape routes to StreamingTopN (FlinkLogicalRankRule analog)") {
    import graft.plans.StreamingRankRule
    val input = StreamHarness.mkStream()
    input.toDS().toDF().createOrReplaceTempView("rank_sql_src")
    val sqlText =
      """SELECT key, id, value, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY value DESC, id) AS rn
        |  FROM rank_sql_src)
        |WHERE rn <= 2""".stripMargin
    // Spark itself REJECTS this surface on a stream — the rule is the
    // only way the SQL text executes incrementally (same situation the
    // reference is in before FlinkLogicalRankRule fires).
    val plain = spark.sql(sqlText)
    assert(plain.isStreaming)
    val rejected = intercept[org.apache.spark.sql.AnalysisException] {
      plain.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName("rank_sql_reject").start()
    }
    assert(rejected.getMessage.toLowerCase.contains("window"))
    // routed: the recognized shape becomes the incremental operator
    val routed = StreamingRankRule.sql(spark, sqlText)
    assert(routed.isStreaming)
    spark.catalog.dropTempView("rank_sql_routed")
    val q = routed.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("rank_sql_routed").start()
    val batches = Seq(
      Seq(ev(1, 10, 100, value = 5.0), ev(1, 11, 101, value = 9.0)),
      Seq(ev(1, 12, 102, value = 7.0), ev(2, 13, 200, value = 3.0)),
      Seq(ev(1, 14, 104, value = 8.0)))
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()
    val out = spark.table("rank_sql_routed")
    // equals the direct library call's output shape and final ranking
    val lastSeq = out.groupBy("key").agg(max("emitSeq").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val finalTop = out.collect()
      .filter(r => r.getAs[Long]("emitSeq") == lastSeq(r.getAs[Long]("key")))
      .map(r => (r.getAs[Long]("key"), r.getAs[Int]("rank"), r.getAs[Long]("id")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(finalTop == Seq((1L, 1, 101L), (1L, 2, 104L), (2L, 1, 200L)),
      s"routed top-n ranking: $finalTop")
  }

  test("streaming rn=1 ASC SQL shape routes to event-time keep-first dedup (StreamExecDeduplicateRule analog)") {
    import graft.plans.StreamingRankRule
    val input = StreamHarness.mkStream()
    input.toDS().toDF().createOrReplaceTempView("dedup_sql_src")
    val routed = StreamingRankRule.sql(spark,
      """SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY tsMicros) AS rn
        |  FROM dedup_sql_src)
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    spark.catalog.dropTempView("dedup_sql_routed")
    val q = routed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_sql_routed").start()
    try {
      // OUT-OF-ORDER feed: key 1's later-arriving row carries the
      // EARLIER timestamp — arrival-order dropDuplicates would keep
      // id 2; event-time dedup must keep id 1.
      input.addData(Seq(ev(1, 20, 2), ev(2, 15, 3)))
      q.processAllAvailable()
      input.addData(Seq(ev(1, 10, 1), ev(2, 25, 5), ev(3, 40, 6)))
      q.processAllAvailable()
      // flush: watermark (delay 1 min) must pass every candidate
      input.addData(Seq(ev(9, 200, 9)))
      q.processAllAvailable()
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dedup_sql_routed")
      .select("key", "id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // key 9's own candidate never matures (200 > wm 140) — not emitted
    assert(got == Map(1L -> 1L, 2L -> 3L, 3L -> 6L), s"keep-first dedup: $got")
  }

  test("StreamingRankRule root-guard, commuted equality, and opt-in arrival fallback") {
    import graft.plans.StreamingRankRule
    val input = StreamHarness.mkStream()
    input.toDS().toDF().createOrReplaceTempView("rank_guard_src")
    // operators ABOVE the rank filter (here an aggregate) must fail
    // loudly, not silently return the raw TopN changelog
    val above = intercept[IllegalArgumentException] {
      StreamingRankRule.sql(spark,
        """SELECT count(*) AS c FROM (
          |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY value DESC, id) AS rn
          |  FROM rank_guard_src)
          |WHERE rn <= 2""".stripMargin)
    }
    assert(above.getMessage.contains("non-pass-through"), above.getMessage)
    // the commuted equality `1 = rn` routes like `rn = 1`
    val routed = StreamingRankRule.sql(spark,
      """SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY tsMicros DESC, id DESC) AS rn
        |  FROM rank_guard_src)
        |WHERE 1 = rn""".stripMargin)
    assert(routed.isStreaming)
    // a limit selecting no rows must error, not emit an empty changelog
    val zero = intercept[IllegalArgumentException] {
      StreamingRankRule.sql(spark,
        """SELECT * FROM (
          |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY value DESC, id) AS rn
          |  FROM rank_guard_src)
          |WHERE rn < 1""".stripMargin)
    }
    assert(zero.getMessage.contains("selects no rows"), zero.getMessage)
    // non-canonical rn=1 ASC by a time column: ARRIVAL-order state is
    // a silent semantic change — refused unless explicitly opted in
    input.toDS().toDF().select(col("key"), col("tsMicros").as("ts"), col("id"))
      .createOrReplaceTempView("rank_fallback_src")
    val fallbackSql =
      """SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY ts) AS rn
        |  FROM rank_fallback_src)
        |WHERE rn = 1""".stripMargin
    val refused = intercept[IllegalArgumentException] {
      StreamingRankRule.sql(spark, fallbackSql)
    }
    assert(refused.getMessage.contains("arrivalOrderFallback"), refused.getMessage)
    spark.conf.set("graft.streaming.rank.arrivalOrderFallback", "true")
    try assert(StreamingRankRule.sql(spark, fallbackSql).isStreaming)
    finally spark.conf.unset("graft.streaming.rank.arrivalOrderFallback")
  }

  test("StreamingSemiAntiJoin judges each left at maturity against rights <= its event time") {
    val batches = Seq(
      // left@30 arrives BEFORE the right@25 that should match it —
      // maturity-time judgment must still see the earlier right
      Seq(ev(1, 30, 10, kind = "L")),
      // wm=20 here: both rows arrive above it (out-of-order but not late)
      Seq(ev(1, 25, 1, kind = "R"), ev(1, 22, 11, kind = "L")),
      // exact tie: right@50 counts for left@50 (EXISTS is inclusive);
      // left@45 predates every right of key 2 → anti
      Seq(ev(2, 50, 2, kind = "R"), ev(2, 50, 12, kind = "L"),
        ev(2, 45, 13, kind = "L")),
      Seq(ev(9, 10000, 99, kind = "L")))  // watermark flush
    val out = StreamHarness.run(batches, OutputMode.Append, "semi_spec") { ds =>
      StreamingSemiAntiJoin(spark,
        left = ds.filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
        right = ds.filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder),
        watermarkDelay = "10 seconds").toDF()
    }
    val got = out.select("id", "matched").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(10L -> true,   // right@25 <= left@30
                      11L -> false,  // left@22 predates right@25
                      12L -> true,   // exact-tie right counts
                      13L -> false), // anti: no right <= 45
      s"semi/anti verdicts: $got")
  }

  test("StreamingLeftOuterJoin retracts the null pad when the first match arrives") {
    import graft.streaming.StreamingLeftOuterJoin
    val batches = Seq(
      Seq(ev(1, 10, 100, kind = "L")),               // unmatched → +I pad
      Seq(ev(1, 20, 1, kind = "R")),                 // match → -D pad, +I pair
      Seq(ev(1, 30, 2, kind = "R")),                 // second right: +I pair only
      Seq(ev(2, 40, 200, kind = "L")))               // never matched → pad survives
    val out = StreamHarness.run(batches, OutputMode.Append, "louter_spec") { ds =>
      StreamingLeftOuterJoin(spark,
        left = ds.filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
        right = ds.filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder)).toDF()
    }
    val log = out.collect().map(r => (r.getAs[Long]("leftId"),
      r.getAs[Long]("rightId"), r.getAs[String]("_change_kind"))).toSeq
    assert(log.contains((100L, -1L, "+I")) && log.contains((100L, -1L, "-D")),
      s"pad not emitted+retracted: $log")
    // fold = batch left outer join
    val folded = log.groupBy(e => (e._1, e._2))
      .map { case (k, es) => k -> es.map(e => if (e._3 == "+I") 1 else -1).sum }
      .filter(_._2 > 0).keys.toSet
    assert(folded == Set((100L, 1L), (100L, 2L), (200L, -1L)),
      s"folded outer join: $folded")
  }

  test("streaming iteration: per-batch fixpoint + cross-batch seed equals batch CC") {
    import graft.streaming.StreamingGraphCC
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val cc = new StreamingGraphCC(maxIterationsPerBatch = 10)
    val q = input.toDS().toDF("src", "dst").writeStream
      .foreachBatch(cc.sink).start()
    def labelsNow(): Map[Long, Long] = cc.currentLabels(spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    try {
      // batch 1: two separate components {1,2} and {10,11}
      input.addData((1L, 2L), (10L, 11L)); q.processAllAvailable()
      val l1 = labelsNow()
      assert(l1(2L) == 1L && l1(11L) == 10L, s"initial components: $l1")
      // batch 2: a bridging edge MERGES the components — the previous
      // fixpoint must be re-converged, not recomputed wrongly; new
      // node 20 attaches to the merged component
      input.addData((2L, 10L), (11L, 20L)); q.processAllAvailable()
      val l2 = labelsNow()
      assert(Seq(1L, 2L, 10L, 11L, 20L).forall(n => l2(n) == 1L),
        s"merged component labels: $l2")
    } finally q.stop()
    // equals the from-scratch batch delta iteration over all edges
    val edges = Seq((1L, 2L), (10L, 11L), (2L, 10L), (11L, 20L))
      .toDF("src", "dst")
    val bidir = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val nodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst"))).distinct()
    val batchLabels = graft.operators.GraphOps.labelPropagationDelta(nodes, bidir, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsNow() == batchLabels, "incremental != batch CC")
  }

  test("streaming iteration: distributed fallback path equals driver path and batch CC") {
    import graft.streaming.StreamingGraphCC
    implicit val sql = spark.sqlContext
    import spark.implicits._
    // maxDriverMergeEdges = 0 forces every batch down the star-graph
    // delta-iteration path (the AvailableNow-backlog route)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val cc = new StreamingGraphCC(maxIterationsPerBatch = 10, maxDriverMergeEdges = 0)
    val q = input.toDS().toDF("src", "dst").writeStream
      .foreachBatch(cc.sink).start()
    try {
      input.addData((1L, 2L), (10L, 11L)); q.processAllAvailable()
      input.addData((2L, 10L), (11L, 20L)); q.processAllAvailable()
    } finally q.stop()
    val got = cc.currentLabels(spark)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 10L, 11L, 20L).forall(n => got(n) == 1L),
      s"distributed-path labels: $got")
  }

  test("streaming iteration: per-batch shuffle tracks batch size, not accumulated history") {
    import graft.streaming.StreamingGraphCC
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        shuffled.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long)]
    val cc = new StreamingGraphCC(maxIterationsPerBatch = 10)
    val q = input.toDS().toDF("src", "dst").writeStream
      .foreachBatch(cc.sink).start()
    val perBatch = Seq.newBuilder[Long]
    try {
      // constant-rate batches: a fresh 50-edge chain each batch, plus
      // one edge merging it into the previous chain — history grows
      // 12x over the run while per-batch input stays constant
      (0 until 12).foreach { k =>
        val base = 1000L * (k + 1)
        val chain = (0 until 50).map(i => (base + i, base + i + 1))
        val bridge = if (k == 0) Nil else Seq((1000L * k, base))
        input.addData(chain ++ bridge)
        val before = { q.processAllAvailable(); Thread.sleep(300); shuffled.get() }
        perBatch += before
      }
    } finally {
      q.stop()
      spark.sparkContext.removeSparkListener(listener)
    }
    val totals = perBatch.result()
    val deltas = totals.head +: totals.sliding(2).map { case Seq(a, b) => b - a }.toSeq
    // steady-state: late batches must not shuffle (much) more than
    // early ones — the round-6 re-distinct grew ~linearly with history
    // (last/early ratio ~10x here); the incremental design stays flat
    val early = deltas.slice(1, 4).max.toDouble max 1.0
    val late = deltas.takeRight(3).max.toDouble
    assert(late <= 4.0 * early,
      s"per-batch shuffle grew with history: deltas=$deltas")
    // and the final state is still the single merged component
    val labels = cc.currentLabels(spark).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.values.toSet == Set(1000L),
      s"expected one component labeled 1000: ${labels.values.toSet}")
  }

  test("state-processor analog: offline state read + cross-operator bootstrap") {
    import graft.streaming.{BootstrappedRunningCount, StateProcessor}
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlc = spark.sqlContext
    import spark.implicits._
    // 1. a checkpointed SQL aggregation builds state
    val ckpt = java.nio.file.Files.createTempDirectory("state_proc").toString
    val in1 = StreamHarness.mkStream()
    spark.catalog.dropTempView("sp_counts")
    val q1 = in1.toDS().groupBy("key").count()
      .writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("sp_counts").start()
    try {
      in1.addData(Seq(ev(1, 10, 1), ev(1, 20, 2), ev(2, 30, 3)))
      q1.processAllAvailable()
    } finally q1.stop()
    // 2. the checkpoint manifest names the aggregation operator
    val meta = StateProcessor.stateMetadata(spark, ckpt)
    val ops = meta.select("operatorName").collect().map(_.getString(0)).toSeq
    // the streaming aggregation's store operator is "stateStoreSave"
    assert(ops == Seq("stateStoreSave"), s"manifest operators: $ops")
    // 3. offline read of the aggregation's store — savepoint-reader half
    val state = StateProcessor.readState(spark, ckpt)
      .selectExpr("key.key AS k", "value.count AS n")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(1L -> 2L, 2L -> 1L), s"offline state read: $state")
    // 4. state surgery (+100) then bootstrap a DIFFERENT operator
    val seeded = state.toSeq.map { case (k, n) => (k, n + 100L) }.toDS()
    val in2 = StreamHarness.mkStream()
    spark.catalog.dropTempView("sp_boot")
    val q2 = BootstrappedRunningCount(spark, in2.toDS(), seeded).toDF("key", "n")
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("sp_boot").start()
    try {
      in2.addData(Seq(ev(1, 40, 4), ev(3, 50, 5)))
      q2.processAllAvailable()
    } finally q2.stop()
    val boot = spark.table("sp_boot").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // key 1 continues from surgically-adjusted state (102 + 1 event);
    // key 2's seeded state emits as-is (no new data); key 3 is fresh
    assert(boot == Map(1L -> 103L, 2L -> 101L, 3L -> 1L),
      s"bootstrapped counts: $boot")
  }

  test("queryable state analog: a RUNNING query's state is readable between batches") {
    // The reference's flink-queryable-state module serves keyed state
    // of a LIVE job to external clients (QueryableStateClient →
    // KvStateServer). Spark's analog needs no extra server: the
    // `statestore` source reads the running query's checkpoint at its
    // last COMMITTED batch — the same read-committed visibility the
    // reference's client gets — while the query keeps processing.
    import graft.streaming.StateProcessor
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlc = spark.sqlContext
    import spark.implicits._
    val ckpt = java.nio.file.Files.createTempDirectory("qstate").toString
    val in = StreamHarness.mkStream()
    spark.catalog.dropTempView("qstate_sink")
    val q = in.toDS().groupBy("key").count()
      .writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("qstate_sink").start()
    try {
      def liveState(): Map[Long, Long] =
        StateProcessor.readState(spark, ckpt)
          .selectExpr("key.key AS k", "value.count AS n")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      in.addData(Seq(ev(1, 10, 1), ev(1, 20, 2), ev(2, 30, 3)))
      q.processAllAvailable()
      // query still running — state of the committed batch is visible
      assert(q.isActive)
      assert(liveState() == Map(1L -> 2L, 2L -> 1L))
      // more data: a later read observes the NEW committed state
      in.addData(Seq(ev(1, 40, 4), ev(3, 50, 5)))
      q.processAllAvailable()
      assert(q.isActive)
      assert(liveState() == Map(1L -> 3L, 2L -> 1L, 3L -> 1L))
    } finally q.stop()
  }

  test("punctuated watermark: markers (not data volume) drive maturity") {
    import graft.streaming.PunctuatedDedupKeepFirst
    val input = StreamHarness.mkStream()
    // sink-backed: emissions leave as a distributed frame; the
    // collecting sink is the spec's stand-in for a real sink write
    val mem = new PunctuatedDedupKeepFirst.CollectingSink
    val op = new PunctuatedDedupKeepFirst(markerKind = "WM", emit = mem.emit)
    def opResults = mem.results
    val q = input.toDS().toDF().writeStream.foreachBatch(op.sink).start()
    def push(evs: graft.streaming.GEvent*): Unit = {
      input.addData(evs); q.processAllAvailable()
    }
    try {
      // data far beyond any marker: a bounded-delay watermark would
      // mature key 1 here; the punctuated contract requires silence
      push(ev(1, 10, 1), ev(1, 20, 2), ev(2, 99999, 3))
      assert(opResults.isEmpty, s"matured without a marker: ${opResults}")
      assert(op.currentWatermark == Long.MinValue)
      // a marker at t=50 matures keys 1 (candidate id 1) — key 2's
      // candidate (t=99999) stays pending
      push(ev(0, 50, 0, kind = "WM"))
      assert(op.currentWatermark == 50L * 1000000L)
      assert(opResults.map(r => r._1 -> r._3) == Seq(1L -> 1L),
        s"marker-driven emission: ${opResults}")
      // duplicates after emission are suppressed by the tombstone;
      // rows older than the punctuated wm are late and dropped
      push(ev(1, 60, 9), ev(3, 5, 4))
      push(ev(0, 100000, 0, kind = "WM"))
      val got = opResults.map(r => r._1 -> r._3).toMap
      assert(got == Map(1L -> 1L, 2L -> 3L), s"final emissions: $got")
      // batching-invariance: a data row followed by a marker IN THE
      // SAME batch is on-time (lateness is judged against the
      // watermark as of the row's arrival, BEFORE this batch's
      // markers apply) — and the marker then matures it immediately
      push(ev(7, 150000, 70), ev(0, 200000, 0, kind = "WM"))
      assert(opResults.map(r => r._1 -> r._3).toMap.get(7L) == Some(70L),
        s"same-batch row+marker lost the row: ${opResults}")
    } finally q.stop()
  }

  test("outer-join changelog fold is batching-invariant") {
    import graft.streaming.StreamingFullOuterJoin
    // same rows, three hostile batchings: one batch; row-per-batch;
    // rights-before-lefts. The emitted changelogs differ (pads appear
    // and retract at different times) but the fold must not.
    val rows = Seq(
      ev(1, 10, 100, kind = "L"), ev(1, 20, 1, kind = "R"),
      ev(2, 30, 200, kind = "L"), ev(3, 40, 2, kind = "R"),
      ev(1, 50, 101, kind = "L"))
    def foldOf(batches: Seq[Seq[GEvent]], name: String): Set[(Long, Long, Long)] = {
      val out = StreamHarness.run(batches, OutputMode.Append, name) { ds =>
        StreamingFullOuterJoin(spark,
          left = ds.filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
          right = ds.filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder)).toDF()
      }
      out.collect().map(r => ((r.getAs[Long]("key"), r.getAs[Long]("leftId"),
          r.getAs[Long]("rightId")), if (r.getAs[String]("_change_kind") == "+I") 1 else -1))
        .groupBy(_._1).map { case (k, es) => k -> es.map(_._2).sum }
        .filter(_._2 > 0).keys.toSet
    }
    val oneBatch = foldOf(Seq(rows), "fo_inv_a")
    val perRow = foldOf(rows.map(Seq(_)), "fo_inv_b")
    val rightsFirst = foldOf(Seq(rows.filter(_.kind == "R"),
      rows.filter(_.kind == "L")), "fo_inv_c")
    val expected = Set((1L, 100L, 1L), (1L, 101L, 1L),
      (2L, 200L, -1L), (3L, -1L, 2L))
    assert(oneBatch == expected, s"one-batch fold: $oneBatch")
    assert(perRow == expected, s"row-per-batch fold: $perRow")
    assert(rightsFirst == expected, s"rights-first fold: $rightsFirst")
  }

  test("StreamingFullOuterJoin idle retention bounds both buffers (evicted rows keep their pad)") {
    import graft.streaming.StreamingFullOuterJoin
    // 60s retention: the t=10/20 rows go idle once their key sees
    // t=99999 traffic, so the later opposite-side arrival joins ONLY
    // the recent row; the evicted rows' pads survive un-retracted —
    // the same idle-state-retention trade as the LEFT OUTER sibling.
    val batches = Seq(
      Seq(ev(1, 10, 1, kind = "L"), ev(2, 20, 200, kind = "R")),
      Seq(ev(1, 99999, 2, kind = "L"), ev(2, 99999, 201, kind = "R")),
      Seq(ev(1, 99970, 100, kind = "R"), ev(2, 99970, 50, kind = "L")))
    val out = StreamHarness.run(batches, OutputMode.Append, "fouter_ttl_spec") { ds =>
      StreamingFullOuterJoin(spark,
        left = ds.filter(col("kind") === "L").as[GEvent](spark.implicits.newProductEncoder),
        right = ds.filter(col("kind") === "R").as[GEvent](spark.implicits.newProductEncoder),
        idleRetentionMicros = 60L * 1000000L).toDF()
    }
    val fold = out.collect().map(r => ((r.getAs[Long]("key"), r.getAs[Long]("leftId"),
        r.getAs[Long]("rightId")), if (r.getAs[String]("_change_kind") == "+I") 1 else -1))
      .groupBy(_._1).map { case (k, es) => k -> es.map(_._2).sum }
      .filter(_._2 > 0).keys.toSet
    assert(fold == Set((1L, 1L, -1L), (1L, 2L, 100L),
      (2L, -1L, 200L), (2L, 50L, 201L)), s"retention fold: $fold")
  }

  test("StreamingDedupKeepFirst evicts the post-emission tombstone after retention") {
    import graft.streaming.StreamingDedupKeepFirst
    val input = StreamHarness.mkStream()
    spark.catalog.dropTempView("dedup_ttl_spec")
    val out = StreamingDedupKeepFirst(spark, input.toDS(), byKind = false,
      watermarkDelay = "0 seconds", idleRetentionMicros = 60L * 1000000L)
    val q = out.toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_ttl_spec").start()
    def push(evs: graft.streaming.GEvent*): Unit = {
      input.addData(evs); q.processAllAvailable()
    }
    try {
      push(ev(1, 10, 1))       // candidate buffered
      push(ev(2, 20, 2))       // wm 20: key 1 matures and emits; tombstone left
      push(ev(2, 1000, 3))     // wm 1000 > 10+60: tombstone evicted by timer
      push(ev(1, 1005, 9))     // key 1 returns AFTER eviction: fresh candidate
      push(ev(2, 2000, 4))     // matures the reborn candidate
    } finally q.stop()
    val stateTotals = q.recentProgress.toSeq
      .flatMap(p => p.stateOperators.headOption.map(_.numRowsTotal))
    assert(stateTotals.nonEmpty && stateTotals.min <= 1,
      s"tombstone never evicted: $stateTotals")
    // post-eviction re-emission: the documented retention trade — a
    // very late duplicate after eviction re-emits as a fresh first
    val key1 = spark.table("dedup_ttl_spec").filter(col("key") === 1)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
    assert(key1 == Seq(1L, 9L), s"expected original + post-eviction emission: $key1")
  }

  test("StreamingDedupKeepFirst: huge finite retention saturates instead of overflow-evicting") {
    import graft.streaming.StreamingDedupKeepFirst
    // retention = MaxValue-1 is FINITE (not the keep-forever sentinel);
    // ts + retention used to wrap negative, making the tombstone
    // immediately evictable so later duplicates re-emitted (ADVICE r6).
    val input = StreamHarness.mkStream()
    spark.catalog.dropTempView("dedup_sat_spec")
    val out = StreamingDedupKeepFirst(spark, input.toDS(), byKind = false,
      watermarkDelay = "0 seconds", idleRetentionMicros = Long.MaxValue - 1)
    val q = out.toDF().writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_sat_spec").start()
    def push(evs: graft.streaming.GEvent*): Unit = {
      input.addData(evs); q.processAllAvailable()
    }
    try {
      push(ev(1, 10, 1))       // candidate buffered
      push(ev(2, 20, 2))       // wm 20: key 1 matures and emits; tombstone left
      push(ev(2, 1000, 3))     // wm 1000: tombstone must SURVIVE
      push(ev(1, 1005, 9))     // duplicate after wm advance: suppressed
      push(ev(2, 2000, 4))
    } finally q.stop()
    val key1 = spark.table("dedup_sat_spec").filter(col("key") === 1)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(key1 == Seq(1L), s"tombstone overflow-evicted, duplicate re-emitted: $key1")
  }

  test("streaming rn=1 DESC SQL shape routes to keep-last dedup (update-stream revisions)") {
    import graft.plans.StreamingRankRule
    val input = StreamHarness.mkStream()
    input.toDS().toDF().createOrReplaceTempView("dedup_last_src")
    val routed = StreamingRankRule.sql(spark,
      """SELECT * FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY tsMicros DESC) AS rn
        |  FROM dedup_last_src)
        |WHERE rn = 1""".stripMargin)
    assert(routed.isStreaming)
    spark.catalog.dropTempView("dedup_last_routed")
    val q = routed.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("dedup_last_routed").start()
    try {
      input.addData(Seq(ev(1, 10, 1), ev(2, 15, 3)))
      q.processAllAvailable()
      // key 1: NEWER row replaces (revision 2); then an OLDER row
      // arrives and must NOT emit a revision (event-time, not arrival)
      input.addData(Seq(ev(1, 30, 4)))
      q.processAllAvailable()
      input.addData(Seq(ev(1, 20, 2)))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("dedup_last_routed").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("id"), r.getAs[Long]("emitSeq")))
    // fold: latest revision per key is the event-time-maximal row
    val fold = out.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._3)._2 }
    assert(fold == Map(1L -> 4L, 2L -> 3L), s"keep-last fold: $fold")
    // the out-of-order older row produced no revision
    assert(out.count(_._1 == 1L) == 2, s"revisions for key 1: ${out.toSeq}")
  }

  test("streaming FIRST/LAST measures keep null boundary values (batch min_by/max_by semantics)") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val clause =
      """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
        |  MEASURES FIRST(B.v) AS first_v, LAST(B.v) AS last_v,
        |           COUNT(B.v) AS n_nonnull
        |  ONE ROW PER MATCH
        |  PATTERN (A B+ P) WITHIN INTERVAL '1' MINUTE
        |  DEFINE A AS kind = 'signup', B AS kind = 'click',
        |         P AS kind = 'purchase')""".stripMargin
    // B-bound events: v = null, 5.0, null → FIRST/LAST land on nulls.
    // The batch path's min_by/max_by(col, pos) returns the (possibly
    // null) boundary value; the streaming fold must not skip the None
    // slots or the two surfaces diverge exactly here.
    val rows: Seq[(Long, Long, Long, String, Option[Double])] = Seq(
      (1L, 10L * 1000000L, 1L, "signup", Some(0.0)),
      (1L, 20L * 1000000L, 2L, "click", None),
      (1L, 30L * 1000000L, 3L, "click", Some(5.0)),
      (1L, 40L * 1000000L, 4L, "click", None),
      (1L, 50L * 1000000L, 5L, "purchase", Some(9.0)),
      (9L, 300L * 1000000L, 6L, "flush", Some(0.0)))
    val cols = Seq("key", "tsMicros", "id", "kind", "v")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Long, String, Option[Double])]
    val q = StreamingMatchRecognize.measures(spark,
        input.toDS().toDF(cols: _*), clause, watermarkDelay = "10 seconds")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("smr_null_spec").start()
    try {
      input.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("smr_null_spec")
      .select("key", "first_v", "last_v", "n_nonnull")
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.operators.MatchRecognize.run(spark, rows.toDF(cols: _*), clause)
      .select("key", "first_v", "last_v", "n_nonnull")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, s"streaming=$streamed\nbatch=$batch")
    assert(streamed.size == 1)
    val r = spark.table("smr_null_spec").head
    assert(r.isNullAt(r.fieldIndex("first_v")) && r.isNullAt(r.fieldIndex("last_v")),
      s"FIRST/LAST should be the null boundary values: $r")
    assert(r.getAs[Long]("n_nonnull") == 1L)
  }

  test("UpsertSink: upsert/delete merge, seq resolution, bucket pruning") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert_spec").toString
    val N = 8
    def msg(key: Long, seq: Long, upsert: Boolean, v: Double) =
      (key, seq, upsert, v)
    def df(rows: (Long, Long, Boolean, Double)*) =
      rows.toDF("key", "seq", "upsert", "v")
    def table() = graft.operators.UpsertSink.read(sp, dir)
      .select("key", "v").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    import graft.operators.UpsertSink.applyBatch
    // batch 1: three keys
    applyBatch(sp, df(msg(1, 10, true, 1.0), msg(2, 10, true, 2.0),
      msg(3, 10, true, 3.0)), dir, Seq("key"), Seq("seq"), "upsert", N)
    assert(table() == Map(1L -> 1.0, 2L -> 2.0, 3L -> 3.0))
    // record per-bucket file listings to prove pruning later
    def bucketFiles(): Map[String, Set[(String, Long)]] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(_.getName.startsWith("bucket=")).map { d =>
        d.getName -> d.listFiles().map(f => (f.getName, f.lastModified)).toSet
      }.toMap
    }
    val before = bucketFiles()
    // batch 2: delete key 1 (newer seq), LATE update for key 2 with an
    // OLDER seq than stored (must lose), new key 4; key 3 untouched
    Thread.sleep(5) // ensure mtime moves for rewritten files
    applyBatch(sp, df(msg(1, 20, false, 0.0), msg(2, 5, true, 99.0),
      msg(4, 20, true, 4.0)), dir, Seq("key"), Seq("seq"), "upsert", N)
    assert(table() == Map(2L -> 2.0, 3L -> 3.0, 4L -> 4.0), table())
    // buckets whose keys were NOT in batch 2 kept their exact files —
    // per-batch cost is touched-buckets only, never the whole table
    val touched = Seq(1L, 2L, 4L).map(k =>
      df(msg(k, 0, true, 0.0)).select(
        pmod(hash(col("key")), lit(N))).head.getInt(0))
      .map(b => s"bucket=$b").toSet
    val after = bucketFiles()
    val untouched = before.keySet -- touched
    assert(untouched.nonEmpty, "test needs at least one untouched bucket")
    untouched.foreach { b =>
      assert(after(b) == before(b), s"$b was rewritten without being touched")
    }
    // within-batch resolution: two messages for one key, max seq wins
    applyBatch(sp, df(msg(5, 2, true, 5.2), msg(5, 3, true, 5.3),
      msg(5, 1, true, 5.1)), dir, Seq("key"), Seq("seq"), "upsert", N)
    assert(table()(5L) == 5.3)
    // tombstone: a LATE upsert with an older seq than the applied
    // delete (key 1 was deleted at seq 20) must NOT resurrect the key
    applyBatch(sp, df(msg(1, 15, true, 1.5)), dir,
      Seq("key"), Seq("seq"), "upsert", N)
    assert(!table().contains(1L),
      "late pre-delete upsert resurrected a deleted key")
    // a genuinely newer upsert re-creates it past the tombstone
    applyBatch(sp, df(msg(1, 30, true, 1.9)), dir,
      Seq("key"), Seq("seq"), "upsert", N)
    assert(table()(1L) == 1.9)
    // a mismatched bucket count fails loudly instead of stranding rows
    val eb = intercept[Exception](applyBatch(sp, df(msg(9, 1, true, 9.0)),
      dir, Seq("key"), Seq("seq"), "upsert", N + 1))
    assert(eb.getMessage.contains("numBuckets"), eb.getMessage)
    // tombstone compaction: drop expired tombstones, keep live rows.
    // Make a fresh tombstone (key 6 deleted at seq 7) plus the live set
    applyBatch(sp, df(msg(6, 6, true, 6.0)), dir,
      Seq("key"), Seq("seq"), "upsert", N)
    applyBatch(sp, df(msg(6, 7, false, 0.0)), dir,
      Seq("key"), Seq("seq"), "upsert", N)
    val live = table()
    // floor below the tombstone's seq: nothing compacts
    assert(graft.operators.UpsertSink.compact(sp, dir, Seq("seq"),
      Seq(6L)) == 0L)
    // floor at the tombstone's seq: it is reclaimed; live rows intact
    val dropped = graft.operators.UpsertSink.compact(sp, dir, Seq("seq"),
      Seq(7L))
    assert(dropped >= 1L, s"expected the key-6 tombstone dropped: $dropped")
    assert(table() == live, "compaction must not change the live table")
    // streaming path end-to-end (foreachBatch): re-deliver an already
    // applied batch — idempotent, table unchanged
    val snapshot = table()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, Boolean, Double)]
    input.addData(Seq(msg(1, 20, false, 0.0), msg(2, 5, true, 99.0)))
    graft.operators.UpsertSink.run(sp,
      input.toDF.toDF("key", "seq", "upsert", "v"), dir,
      Seq("key"), Seq("seq"), "upsert", N)
    assert(table() == snapshot, "redelivery must be a no-op")
  }

  test("left outer join UPDATE_BEFORE mode: -U/+U pairs reconstruct the join") {
    import graft.streaming.{GEvent, StreamingLeftOuterJoin}
    val sp = StreamHarness.spark
    import org.apache.spark.sql.streaming.OutputMode
    import sp.implicits._
    val batches = Seq(
      Seq(GEvent(1L, 1000000L, 10L, "l", 0.0)),  // left first → pad
      Seq(GEvent(1L, 2000000L, 20L, "r", 0.0)),  // match → -U pad, +U pair
      Seq(GEvent(1L, 3000000L, 11L, "l", 0.0)))  // later left → plain +I
    val out = StreamHarness.run(batches, OutputMode.Append, "ub_join_spec") {
      ds =>
        StreamingLeftOuterJoin(sp,
          left = ds.filter(_.kind == "l"),
          right = ds.filter(_.kind == "r"),
          updateBefore = true).toDF()
    }
    val rows = out.select("leftId", "rightId", "_change_kind")
      .as[(Long, Long, String)].collect().toSeq
    // the pad replacement is an exact retract pair; the never-padded
    // second left is a plain insert
    assert(rows.toSet == Set(
      (10L, -1L, "+I"), (10L, -1L, "-U"), (10L, 20L, "+U"), (11L, 20L, "+I")),
      rows.toString)
    assert(rows.count(_._3 == "-U") == 1 && rows.count(_._3 == "+U") == 1)
    // changelog round-trip: net additions reconstruct the batch join
    val folded = rows.groupBy(r => (r._1, r._2)).map { case (k, g) =>
      k -> g.map(r => if (r._3 == "-U" || r._3 == "-D") -1 else 1).sum
    }.collect { case (k, n) if n > 0 => k }.toSet
    assert(folded == Set((10L, 20L), (11L, 20L)))
  }

  test("StreamingCountWindow: blocks of N in (ts,id) order, emitted at the " +
      "N-th member's maturity, batching-invariant") {
    import graft.streaming.StreamingCountWindow
    // 7 events for key 1 (two complete blocks of 3 + a pending tail),
    // delivered in three different batch splits — including an
    // out-of-order arrival INSIDE the still-immature region — plus a
    // key-9 watermark driver. Emitted blocks must equal the batch
    // row_number computation regardless of the split.
    val evs = Seq(
      ev(1, 10, 1, value = 1.0), ev(1, 11, 2, value = 2.0),
      ev(1, 12, 3, value = 3.0), ev(1, 14, 5, value = 5.0),
      ev(1, 15, 6, value = 6.0), ev(1, 13, 4, value = 4.0),
      ev(1, 16, 7, value = 7.0))
    val expected = Set(
      (1L, 0L, 3L, 10L, 12L, 6.0),   // ids 1,2,3
      (1L, 1L, 3L, 13L, 15L, 15.0))  // ids 4,5,6 (ts order!)
    // delay 5s keeps the out-of-order ts=13 arrival admissible after
    // batch 1's max=15 (Spark drops sub-watermark rows before the
    // operator — the reference's late-data rule)
    val splits = Seq(
      Seq(evs, Seq(ev(9, 10000, 99))),
      Seq(evs.take(2), evs.drop(2), Seq(ev(9, 10000, 99))),
      Seq(evs.take(5), evs.drop(5) :+ ev(9, 10000, 99)))
    splits.zipWithIndex.foreach { case (batches, i) =>
      val out = StreamHarness.run(batches, OutputMode.Append, s"cw_spec_$i") {
        ds => StreamingCountWindow(spark, ds, n = 3, watermarkDelay = "5 seconds").toDF()
      }
      val rows = out.filter(col("key") === 1)
        .select("key", "wid", "n", "firstTsMicros", "lastTsMicros", "total")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3) / 1000000L, r.getLong(4) / 1000000L, r.getDouble(5)))
        .toSet
      assert(rows == expected, s"split $i: $rows")
    }
    // the quiet-key flush: a complete block with NO later traffic on
    // its key still fires via the event-time timer when the watermark
    // (driven by another key) passes its last member
    val timerOut = StreamHarness.run(
      Seq(Seq(ev(2, 10, 1, value = 1.0), ev(2, 11, 2, value = 1.0),
              ev(2, 12, 3, value = 1.0)),
          Seq(ev(9, 10000, 99))), OutputMode.Append, "cw_spec_timer") {
      ds => StreamingCountWindow(spark, ds, n = 3, watermarkDelay = "5 seconds").toDF()
    }
    assert(timerOut.filter(col("key") === 2).count() == 1)
  }

  test("StreamingCountWindow.sliding: overlapping windows, rank continuity " +
      "across evictions, slide>size gaps") {
    import graft.streaming.StreamingCountWindow
    // size 4, slide 2 over 8 events → windows at end ranks 4, 6, 8:
    // wid 0 = ranks 1-4, wid 1 = ranks 3-6, wid 2 = ranks 5-8
    val evs = (1 to 8).map(i => ev(1, 10 + i, i, value = i.toDouble))
    val expected = Set(
      (1L, 0L, 4L, 11L, 14L, 10.0),
      (1L, 1L, 4L, 13L, 16L, 18.0),
      (1L, 2L, 4L, 15L, 18L, 26.0))
    val splits = Seq(
      Seq(evs, Seq(ev(9, 10000, 99))),
      Seq(evs.take(3), evs.slice(3, 5), evs.drop(5), Seq(ev(9, 10000, 99))),
      Seq(evs.take(6), evs.drop(6) :+ ev(9, 10000, 99)))
    splits.zipWithIndex.foreach { case (batches, i) =>
      val out = StreamHarness.run(batches, OutputMode.Append, s"cws_spec_$i") {
        ds => StreamingCountWindow.sliding(spark, ds, size = 4, slide = 2,
          watermarkDelay = "2 seconds").toDF()
      }
      val rows = out.filter(col("key") === 1)
        .select("key", "wid", "n", "firstTsMicros", "lastTsMicros", "total")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3) / 1000000L, r.getLong(4) / 1000000L, r.getDouble(5)))
        .toSet
      assert(rows == expected, s"sliding split $i: $rows")
    }
    // slide > size (sampled windows with GAPS): size 2, slide 4 over 8
    // events → wid 0 = ranks 3-4... window end ranks 2, 6: wid 0 =
    // ranks 1-2, wid 1 = ranks 5-6; ranks 3-4, 7-8 belong to no window
    val gapOut = StreamHarness.run(
      Seq(evs.take(5), evs.drop(5), Seq(ev(9, 10000, 99))),
      OutputMode.Append, "cws_gap_spec") {
      ds => StreamingCountWindow.sliding(spark, ds, size = 2, slide = 4,
        watermarkDelay = "2 seconds").toDF()
    }
    val gapRows = gapOut.filter(col("key") === 1)
      .select("wid", "firstTsMicros", "lastTsMicros")
      .collect().map(r => (r.getLong(0), r.getLong(1) / 1000000L,
        r.getLong(2) / 1000000L)).toSet
    assert(gapRows == Set((0L, 11L, 12L), (1L, 15L, 16L)), gapRows.toString)
  }

  test("streaming CUMULATE TVF: a late row is dropped from FIRED windows but " +
      "still counts into the open cumulative windows") {
    // the reference's WindowOperator drops an element only for windows
    // already fired (isWindowLate per window), not wholesale — the
    // per-k exploded rows inherit exactly that: the k=1 slice's shifted
    // window has already been evicted, the later ks are still open
    val input = StreamHarness.mkStream()
    spark.catalog.dropTempView("cum_late_out")
    input.toDF()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .createOrReplaceTempView("cum_late_src")
    val agg = spark.sql(
      """SELECT window_start, window_end, count(*) AS n
        |FROM TABLE(CUMULATE(TABLE cum_late_src, DESCRIPTOR(ts),
        |                    INTERVAL '10' SECOND, INTERVAL '40' SECOND))
        |GROUP BY window_start, window_end""".stripMargin)
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cum_late_out").start()
    def emitted(): Set[(Long, Long, Long)] =
      spark.table("cum_late_out")
        .selectExpr("unix_seconds(window_start)", "unix_seconds(window_end)", "n")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      input.addData(Seq(ev(1, 2, 1), ev(1, 5, 2)))
      q.processAllAvailable()
      input.addData(Seq(ev(1, 25, 3))) // wm -> 15: [0,10) fires n=2
      q.processAllAvailable()
      assert(emitted() == Set((0L, 10L, 2L)), s"pre-late: ${emitted()}")
      input.addData(Seq(ev(1, 7, 4))) // LATE (7 < wm 15): [0,10) already fired
      q.processAllAvailable()
      input.addData(Seq(ev(9, 95, 99))) // wm -> 85: every W=0 window fires
      q.processAllAvailable()
      assert(emitted() == Set(
        (0L, 10L, 2L),  // fired before the late row — Append never retracts
        (0L, 20L, 3L),  // 2, 5, LATE 7
        (0L, 30L, 4L),  // + 25
        (0L, 40L, 4L)), s"post-late: ${emitted()}")
    } finally q.stop()
  }

  test("StreamingTopN rank RANGE emits only the [startRank, n] slice, " +
      "revisions keyed to slice changes") {
    // range [2,3]: rank 1 is buffered (it defines displacement) but
    // never emitted; a below-range value produces no revision
    val batches = Seq(
      Seq(ev(1, 10, 100, value = 5.0)),  // slice empty (only rank 1)
      Seq(ev(1, 11, 101, value = 9.0)),  // 5.0 shifts to rank 2 → rev 1
      Seq(ev(1, 12, 102, value = 1.0)),  // enters rank 3 → rev 2
      Seq(ev(1, 13, 103, value = 7.0)),  // rank 2; 5.0→3, 1.0 evicted → rev 3
      Seq(ev(1, 14, 104, value = 0.5)))  // below the buffer → no revision
    val out = StreamHarness.run(batches, OutputMode.Update, "topn_range_spec") {
      ds => graft.streaming.StreamingTopN(spark, ds, n = 3, startRank = 2).toDF()
    }
    assert(out.agg(max("emitSeq")).head.getLong(0) == 3)
    // no emission ever names rank 1
    assert(out.filter(col("rank") === 1).count() == 0)
    // final ranks: 1=9.0(101) [not emitted], 2=7.0(103), 3=5.0(100)
    val ranks = out.filter(col("emitSeq") === 3)
      .orderBy("rank").select("rank", "id").collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(ranks == Seq((2, 103L), (3, 100L)), s"final slice: $ranks")
    // the SQL route recognizes the conjunction and the EqualTo form
    import graft.plans.StreamingRankRule
    spark.range(0).selectExpr("id AS key", "id AS tsMicros", "id AS id",
      "'x' AS kind", "CAST(id AS DOUBLE) AS value")
      .createOrReplaceTempView("rank_range_probe") // batch view: recognize only
    val shape = StreamingRankRule.recognize(spark.sql(
      """SELECT key, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY value DESC, id) AS rn
        |  FROM rank_range_probe) WHERE rn > 2 AND rn <= 5""".stripMargin))
    assert(shape.exists(s => s.startRank == 3 && s.limit == 5), shape.toString)
    val eq = StreamingRankRule.recognize(spark.sql(
      """SELECT key, rn FROM (
        |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY value DESC, id) AS rn
        |  FROM rank_range_probe) WHERE rn = 4""".stripMargin))
    assert(eq.exists(s => s.startRank == 4 && s.limit == 4), eq.toString)
  }

  test("StreamingCountWindow idle retention evicts the residual block counter") {
    import graft.streaming.StreamingCountWindow
    // key 1 fills exactly one block, then stays idle past the
    // retention span (driven by key-9 watermark traffic); the next
    // block must restart wid at 0 (the documented eviction trade).
    // Without retention the counter survives and wid continues at 1 —
    // covered by the restart spec below.
    val out = StreamHarness.run(Seq(
      Seq(ev(1, 10, 1), ev(1, 11, 2), ev(1, 12, 3)),
      Seq(ev(9, 1000, 90)),             // block 0 matures; key 1 idles
      Seq(ev(9, 5000, 91)),             // idle span exceeds 1000s
      Seq(ev(1, 6000, 4), ev(1, 6001, 5), ev(1, 6002, 6)),
      Seq(ev(9, 9000, 92))), OutputMode.Append, "cw_idle_spec") { ds =>
      StreamingCountWindow(spark, ds, n = 3, watermarkDelay = "5 seconds",
        idleRetentionMicros = Some(1000L * 1000000L)).toDF()
    }
    val wids = out.filter(col("key") === 1)
      .orderBy("firstTsMicros").select("wid")
      .collect().map(_.getLong(0)).toSeq
    assert(wids == Seq(0L, 0L), s"retention must reset wid: $wids")
    // an INCOMPLETE leftover also expires (review r10): key 2 sends a
    // partial block (2 of 3), idles past retention, then sends 2 more
    // — the expired leftover is dropped, so no block ever completes
    val partial = StreamHarness.run(Seq(
      Seq(ev(2, 10, 1), ev(2, 11, 2)),
      Seq(ev(9, 1000, 90)),
      Seq(ev(9, 5000, 91)),             // leftover expires
      Seq(ev(2, 6000, 3), ev(2, 6001, 4)),
      Seq(ev(9, 9000, 92))), OutputMode.Append, "cw_idle_partial_spec") { ds =>
      StreamingCountWindow(spark, ds, n = 3, watermarkDelay = "5 seconds",
        idleRetentionMicros = Some(1000L * 1000000L)).toDF()
    }
    assert(partial.filter(col("key") === 2).count() == 0,
      "expired leftover must not head a later block")
    // SLIDING retention: key 3's rank/window counters reset after the
    // idle span — the post-idle events form window wid=0 again
    val slid = StreamHarness.run(Seq(
      Seq(ev(3, 10, 1), ev(3, 11, 2)),
      Seq(ev(9, 1000, 90)),
      Seq(ev(9, 5000, 91)),
      Seq(ev(3, 6000, 3), ev(3, 6001, 4)),
      Seq(ev(9, 9000, 92))), OutputMode.Append, "cws_idle_spec") { ds =>
      StreamingCountWindow.sliding(spark, ds, size = 2, slide = 2,
        watermarkDelay = "5 seconds",
        idleRetentionMicros = Some(1000L * 1000000L)).toDF()
    }
    val slidRows = slid.filter(col("key") === 3)
      .orderBy("firstTsMicros")
      .select("wid", "firstTsMicros")
      .collect().map(r => (r.getLong(0), r.getLong(1) / 1000000L)).toSeq
    assert(slidRows == Seq((0L, 10L), (0L, 6000L)),
      s"sliding retention must reset ranks: $slidRows")
  }

  test("StreamingCountWindow state (leftover events + block counter) survives restart") {
    import graft.streaming.StreamingCountWindow
    implicit val sql = spark.sqlContext
    val chk = java.nio.file.Files.createTempDirectory("graft_cw_resume").toString
    val input = StreamHarness.mkStream()
    val got = scala.collection.mutable.ListBuffer.empty[(Long, Long, Long, Long)]
    def start() = StreamingCountWindow(spark, input.toDS(), n = 3,
        watermarkDelay = "5 seconds")
      .toDF().writeStream.outputMode(OutputMode.Append)
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= b.collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(3) / 1000000L, r.getLong(4) / 1000000L)); ()
      }.start()
    val q1 = start()
    // block 0 (t=10..12) fires; t=13 stays buffered across the restart
    input.addData(Seq(ev(1, 10, 1), ev(1, 11, 2), ev(1, 12, 3),
      ev(1, 13, 4), ev(9, 10000, 90)))
    q1.processAllAvailable(); q1.stop()
    assert(got.toSeq.filter(_._1 == 1L) == Seq((1L, 0L, 10L, 12L)),
      s"pre-restart: $got")
    val q2 = start()
    // the restored leftover t=13 must HEAD block 1, and the restored
    // counter must number it wid=1 (a lost counter would re-emit wid=0)
    input.addData(Seq(ev(1, 10010, 5), ev(1, 10020, 6), ev(9, 20000, 91)))
    q2.processAllAvailable(); q2.stop()
    assert(got.toSeq.filter(_._1 == 1L) == Seq(
      (1L, 0L, 10L, 12L), (1L, 1L, 13L, 10020L)), s"post-restart: $got")
  }

  test("streaming CUMULATE TVF fires each window at ITS OWN end (per-end firing)") {
    // The reference fires cumulate window [W, W+k·step) when the
    // watermark passes W+k·step (FLIP-145 / CumulativeWindowAssigner);
    // r9's UNION-ALL design deferred every step to W+max. This pins the
    // r10 per-end semantics batch by batch: step 10s, max 40s,
    // watermark delay 10s.
    val input = StreamHarness.mkStream()
    spark.catalog.dropTempView("cum_pe_out")
    input.toDF()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .createOrReplaceTempView("cum_pe_src")
    val agg = spark.sql(
      """SELECT window_start, window_end, count(*) AS n
        |FROM TABLE(CUMULATE(TABLE cum_pe_src, DESCRIPTOR(ts),
        |                    INTERVAL '10' SECOND, INTERVAL '40' SECOND))
        |GROUP BY window_start, window_end""".stripMargin)
    assert(agg.isStreaming)
    val q = agg.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("cum_pe_out").start()
    def emitted(): Set[(Long, Long, Long)] =
      spark.table("cum_pe_out")
        .selectExpr("unix_seconds(window_start)", "unix_seconds(window_end)", "n")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    try {
      // slice 0 of W=0: contributes to [0,10) [0,20) [0,30) [0,40)
      input.addData(Seq(ev(1, 2, 1), ev(1, 5, 2)))
      q.processAllAvailable()
      assert(emitted() == Set.empty, s"wm<0: ${emitted()}")
      // t=25 (slice 2 of W=0) → wm=15: ONLY [0,10) has ended — the
      // old design would emit nothing until wm>=40
      input.addData(Seq(ev(1, 25, 3)))
      q.processAllAvailable()
      assert(emitted() == Set((0L, 10L, 2L)), s"wm=15: ${emitted()}")
      // t=45 (W=40) → wm=35: [0,20) n=2 and [0,30) n=3 fire
      input.addData(Seq(ev(1, 45, 4)))
      q.processAllAvailable()
      assert(emitted() == Set((0L, 10L, 2L), (0L, 20L, 2L), (0L, 30L, 3L)),
        s"wm=35: ${emitted()}")
      // t=95 → wm=85: [0,40) n=3 and every window of W=40 (n=1) fire
      input.addData(Seq(ev(1, 95, 5)))
      q.processAllAvailable()
      assert(emitted() == Set(
        (0L, 10L, 2L), (0L, 20L, 2L), (0L, 30L, 3L), (0L, 40L, 3L),
        (40L, 50L, 1L), (40L, 60L, 1L), (40L, 70L, 1L), (40L, 80L, 1L)),
        s"wm=85: ${emitted()}")
    } finally q.stop()
  }

  test("StreamingMatchRecognize.timeoutBranches: every live branch per expiry, " +
      "deadline-stamped, batching-invariant, batch-equivalent (r12)") {
    import graft.operators.PatternNFA
    import graft.operators.PatternNFA.{AnyOne, Step}
    // NFAITCase testSimplePatternWithTimeoutHandling scaled to seconds:
    // start@1, start@2, middle@3, foobar@4, end@11, end@13, within 10s.
    // FOUR timeouts — two per anchor (the bare stay + [start, middle]),
    // each stamped anchor.ts + within, INCLUDING the anchor whose
    // branch also fully matched (start@2, middle@3, end@11).
    val steps = Seq(Step("S", "start"), Step("M", "middle", AnyOne),
      Step("E", "end", AnyOne))
    val within = 10L * 1000000L
    val evs = Seq(
      ev(1, 1, 1, kind = "start"), ev(1, 2, 2, kind = "start"),
      ev(1, 3, 3, kind = "middle"), ev(1, 4, 4, kind = "foobar"),
      ev(1, 11, 5, kind = "end"), ev(1, 13, 6, kind = "end"))
    val expected = Set(
      (1L, 1L, 1L, "1", 1, 11L), (1L, 1L, 3L, "1,3", 2, 11L),
      (1L, 2L, 2L, "2", 1, 12L), (1L, 2L, 3L, "2,3", 2, 12L))
    val splits = Seq(
      Seq(evs, Seq(ev(9, 10000, 99))),
      Seq(evs.take(1), evs.slice(1, 4), evs.drop(4), Seq(ev(9, 10000, 99))),
      Seq(evs.take(5), evs.drop(5) :+ ev(9, 10000, 99)))
    splits.zipWithIndex.foreach { case (batches, i) =>
      val out = StreamHarness.run(batches, OutputMode.Append, s"tmo_br_$i") {
        ds => graft.streaming.StreamingMatchRecognize.timeoutBranches(
          spark, ds.toDF(), steps, within, watermarkDelay = "5 seconds").toDF()
      }
      val rows = out.filter(col("key") === 1)
        .select("key", "anchor_id", "last_id", "chain", "n_bound", "timeout_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getInt(4), r.getLong(5) / 1000000L)).toSet
      assert(rows == expected, s"split $i: $rows")
    }
    // batch equivalence: runTimeoutBranches over the same rows
    import spark.implicits._
    val bdf = evs.map(e => (e.key, e.tsMicros, e.id, e.kind))
      .toDF("key", "tsMicros", "id", "kind")
    val batch = PatternNFA.runTimeoutBranches(spark, bdf, steps, within)
      .collect().map(r => (r.getAs[Long]("key"), r.getAs[Long]("anchor_id"),
        r.getAs[Long]("last_id"), r.getAs[String]("chain"),
        r.getAs[Int]("n_bound"), r.getAs[Long]("timeout_us") / 1000000L))
      .toSet
    assert(batch == expected, s"batch twin: $batch")
  }
}
