package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Measurement aid (guide §1): time selected queries solo with the
  * Bench session setup, and break streaming queries down per
  * micro-batch (durationMs buckets from StreamingQueryProgress) so
  * optimization targets the component that actually costs time.
  * Never run by the driver; numbers here feed OPTIMIZATION_r14.md.
  *
  * Usage: SPARK_GRAFT_ONLY=st1_stream_tumble,st11_stream_interval_outer \
  *   sbt "runMain graft.tools.Prof"
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    // per-trigger progress capture
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs
        batches.add(s"  batch=${p.batchId} rows=${p.numInputRows} " +
          s"total=${d.getOrDefault("triggerExecution", -1L)} " +
          s"addBatch=${d.getOrDefault("addBatch", -1L)} " +
          s"getBatch=${d.getOrDefault("getBatch", -1L)} " +
          s"latestOffset=${d.getOrDefault("latestOffset", -1L)} " +
          s"queryPlanning=${d.getOrDefault("queryPlanning", -1L)} " +
          s"walCommit=${d.getOrDefault("walCommit", -1L)} " +
          s"commitOffsets=${d.getOrDefault("commitOffsets", -1L)}")
      }
    })

    // optional per-job trace: SPARK_GRAFT_PROF_JOBS=1
    if (sys.env.contains("SPARK_GRAFT_PROF_JOBS")) {
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        private val t0 = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          t0.put(e.jobId, System.nanoTime())
        override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val dt = (System.nanoTime() - t0.getOrDefault(e.jobId, System.nanoTime())) / 1e6
          batches.add(f"  job=${e.jobId} ${dt}%.0f ms")
        }
      })
    }

    SparkEntry.entry(spark).count() // warmup, as in Bench

    val selected = GraftSession.selected()
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROF_RUNS", "2").toInt
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val times = (1 to runs).map { i =>
        batches.clear()
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable => println(s"[prof] $name FAILED: $e") }
        val dt = (System.nanoTime() - t0) / 1e9
        GraftSession.releaseCaches(spark)
        println(f"[prof] $name run$i%d = $dt%.3f s")
        if (!batches.isEmpty) {
          println(s"[prof] $name run$i micro-batches:")
          batches.forEach(b => println(b))
        }
        dt
      }
      println(f"[prof] $name MIN = ${times.min}%.3f s over $runs runs")
    }
    spark.stop()
  }
}
