package graft

import graft.streaming.GEvent
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Element-by-element streaming test harness in the style of the
  * reference's OneInputStreamOperatorTestHarness
  * (flink-streaming-java/.../util/OneInputStreamOperatorTestHarness.java:48):
  * push explicit batches through a MemoryStream, let the watermark
  * advance between batches, collect everything the operator emitted.
  */
object StreamHarness {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def mkStream(): MemoryStream[GEvent] = {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    MemoryStream[GEvent]
  }

  /** Run `build(stream)` over the given batches; each batch is
    * processed as its own micro-batch (watermark advances in between),
    * plus trailing empty commits so event-time timeouts fire. */
  def run(batches: Seq[Seq[GEvent]], mode: OutputMode, name: String)
         (build: Dataset[GEvent] => DataFrame): DataFrame = {
    val input = mkStream()
    spark.catalog.dropTempView(name)
    val q = build(input.toDS()).writeStream
      .outputMode(mode).format("memory").queryName(name).start()
    try {
      batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      }
      // extra empty passes let no-data batches run timeout logic
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  /** [[run]] with a stop and a restart between batches: each batch
    * runs in a query of its own, started from one shared checkpoint
    * directory, so every batch after the first restores the operator's
    * state and the watermark from that checkpoint. Rows are collected
    * per batch id through foreachBatch (the memory sink cannot resume
    * in Append mode), so a batch that a restart replays replaces the
    * rows of its first run. */
  def runRestarting(batches: Seq[Seq[GEvent]], mode: OutputMode)
                   (build: Dataset[GEvent] => DataFrame): Seq[Row] = {
    val input = mkStream()
    val out = build(input.toDS())
    val dir = java.nio.file.Files.createTempDirectory("graft_restart")
    val byBatch = scala.collection.concurrent.TrieMap.empty[Long, Array[Row]]
    val sink: (DataFrame, Long) => Unit = (b, id) => byBatch(id) = b.collect()
    try batches.zipWithIndex.foreach { case (b, i) =>
      val q = out.writeStream.outputMode(mode)
        .option("checkpointLocation", dir.toString).foreachBatch(sink).start()
      try {
        input.addData(b)
        q.processAllAvailable()
        // as in run: an extra pass lets the last no-data batch fire timers
        if (i == batches.size - 1) q.processAllAvailable()
      } finally q.stop()
    } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    byBatch.toSeq.sortBy(_._1).flatMap(_._2)
  }

  /** Number of Spark jobs `body` starts on the shared session, counted
    * by a listener under a job group of its own. Listener delivery is
    * asynchronous, so a one-task fence job in a second group runs after
    * `body`: once the listener has seen the fence start, every earlier
    * job start has been delivered too. */
  def jobsRun(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val id = System.nanoTime
    val (group, fence) = (s"jobs-run-$id", s"jobs-fence-$id")
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => counted.incrementAndGet()
          case `fence` => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener never saw the fence job")
      counted.get()
    } finally sc.removeSparkListener(listener)
  }

  /** Runs `body` with the session confs in `kv` set, then restores them. */
  def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val c = spark.conf
    val saved = kv.map { case (k, _) => k -> c.getOption(k) }
    kv.foreach { case (k, v) => c.set(k, v) }
    try body finally saved.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
  }

  /** Micro helper: seconds → micros, building GEvents tersely. */
  def ev(key: Long, tSec: Long, id: Long, kind: String = "x",
         value: Double = 0.0): GEvent =
    GEvent(key, tSec * 1000000L, id, kind, value)
}
