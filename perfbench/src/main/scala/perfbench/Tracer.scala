package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in layer tracer. It sees the engine only through Spark's
  * public listener APIs and the benchmark's own calls into
  * `SparkEntry.queries`, and keeps every span in memory until the run
  * ends.
  *
  * Spans: one root per query, with its build (the query function) and
  * collect (the action) calls as children; Spark jobs and stages, linked
  * to their query by the job group the client sets per query; streaming
  * queries, linked by the runId seen in `onQueryStarted`, and their
  * micro-batches. Executed QueryExecutions carry their
  * `QueryPlanningTracker` phases and are linked to the query they ran in.
  *
  * Times are epoch milliseconds, the clock Spark's events carry.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def ms(nano: Long): Double = epoch0 + (nano - nano0) / 1e6

  private val queries = mutable.ArrayBuffer[Query]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageQuery = mutable.Map[Int, Int]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stages = mutable.ArrayBuffer[Stage]()
  private val tasks = mutable.Map[Int, Tasks]()
  private val streams = new ConcurrentHashMap[String, Stream]()
  private val planning = mutable.ArrayBuffer[(Int, Long, Long, Long)]() // query, phases ms
  @volatile private var active = 0

  def queryStart(id: Int, name: String): Unit = synchronized {
    queries += Query(id, name, ms(System.nanoTime())); active = id
  }

  def queryEnd(built: Long, end: Long): Unit = synchronized {
    val q = queries.last
    q.built = ms(built); q.end = ms(end); active = 0
  }

  /** The query a group, a streaming runId or, failing both, a time falls in. */
  private def queryOf(group: Option[String], time: Long): Int = {
    group.flatMap { g =>
      if (g.startsWith("pb-q")) g.drop(4).toIntOption
      else Option(streams.get(g)).map(_.q)
    }.getOrElse {
      queries.reverseIterator.find(q => q.start <= time + 1 && time <= q.end + 1)
        .map(_.id).getOrElse(0)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      val q = queryOf(group, e.time)
      jobs(e.jobId) = Job(e.jobId, q, e.time)
      e.stageIds.foreach { s => stageQuery(s) = q; stageJob(s) = e.jobId }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages += Stage(i.stageId, stageQuery.getOrElse(i.stageId, 0), i.numTasks, s, c)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val q = stageQuery.getOrElse(e.stageId, 0)
      val t = tasks.getOrElseUpdate(q, new Tasks)
      val info = e.taskInfo
      t.n += 1
      if (info != null) t.busyMs += info.finishTime - info.launchTime
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime; t.cpuNs += m.executorCpuTime; t.gcMs += m.jvmGCTime
        t.inBytes += m.inputMetrics.bytesRead; t.inRows += m.inputMetrics.recordsRead
        t.shWrite += m.shuffleWriteMetrics.bytesWritten
        t.shRead += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.spillMem += m.memoryBytesSpilled; t.spillDisk += m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    // linked to its query by when its last planning phase ended
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val p = qe.tracker.phases
      def d(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
      val t = if (p.isEmpty) System.currentTimeMillis() else p.values.map(_.endTimeMs).max
      planning += ((queryOf(None, t), d("analysis"), d("optimization"), d("planning")))
    }
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    // delivered synchronously on the stream's start path, while the
    // client thread is still inside the query that started it
    def onQueryStarted(e: QueryStartedEvent): Unit =
      streams.put(e.runId.toString, new Stream(active, e.runId.toString, System.currentTimeMillis()))
    def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      Option(streams.get(p.runId.toString)).foreach { s => s.synchronized {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val end = start + d.getOrElse("triggerExecution", 0L)
        if (s.firstEnd < 0) s.firstEnd = end
        s.lastEnd = end
        s.batches += 1
        s.batchSpans += ((p.batchId, start, end))
        d.foreach { case (k, v) => s.buckets(k) += v }
        s.stateRows = math.max(s.stateRows, p.stateOperators.map(_.numRowsTotal).sum)
        s.stateMem = math.max(s.stateMem, p.stateOperators.map(_.memoryUsedBytes).sum)
        s.late += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      }}
    }
    def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Option(streams.get(e.runId.toString)).foreach(s => s.synchronized {
        s.terminated = System.currentTimeMillis()
      })
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var cur = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Per-layer metrics, summed over the run and divided by `passes`. */
  def layers(passes: Int): String = synchronized {
    val per = 1.0 / passes
    var build, collect, wall, cover, coverBuild, coverCollect, stageCover = 0.0
    var buildJobs = 0
    val jobsByQ = jobs.values.filter(_.end >= 0).groupBy(_.q)
    val stagesByQ = stages.groupBy(_.q)
    queries.foreach { q =>
      val js = jobsByQ.getOrElse(q.id, Nil).map(j => (j.start.toDouble, j.end.toDouble))
      build += q.built - q.start
      collect += q.end - q.built
      wall += q.end - q.start
      cover += covered(js, q.start, q.end)
      coverBuild += covered(js, q.start, q.built)
      coverCollect += covered(js, q.built, q.end)
      stageCover += covered(stagesByQ.getOrElse(q.id, Nil)
        .map(s => (s.start.toDouble, s.end.toDouble)), q.start, q.end)
      buildJobs += jobsByQ.getOrElse(q.id, Nil).count(j => j.start < q.built)
    }
    val mine = queries.map(_.id).toSet
    val t = new Tasks
    tasks.filter { case (q, _) => mine(q) }.values.foreach { x =>
      t.n += x.n; t.busyMs += x.busyMs; t.runMs += x.runMs; t.cpuNs += x.cpuNs
      t.gcMs += x.gcMs; t.inBytes += x.inBytes; t.inRows += x.inRows
      t.shWrite += x.shWrite; t.shRead += x.shRead; t.fetchWaitMs += x.fetchWaitMs
      t.spillMem += x.spillMem; t.spillDisk += x.spillDisk
    }
    val execs = planning.filter(x => mine(x._1)).map(x => (x._2, x._3, x._4))
    val ss = streams.values.asScala.filter(s => mine(s.q)).toSeq
    def bucket(k: String) = ss.map(_.buckets(k)).sum / 1e3 * per
    val mb = 1.0 / (1 << 20)
    def n(v: Double) = Json.num(v)
    Json.obj(
      "build.wall_s" -> n(build / 1e3 * per),
      "build.jobs" -> n(buildJobs * per),
      "catalyst.analysis_s" -> n(execs.map(_._1).sum / 1e3 * per),
      "catalyst.optimization_s" -> n(execs.map(_._2).sum / 1e3 * per),
      "catalyst.planning_s" -> n(execs.map(_._3).sum / 1e3 * per),
      "catalyst.executions" -> n(execs.size * per),
      "scheduler.jobs" -> n(jobs.values.count(j => mine(j.q)) * per),
      "scheduler.stages" -> n(stages.count(s => mine(s.q)) * per),
      "scheduler.tasks" -> n(t.n * per),
      "scheduler.job_covered_s" -> n(cover / 1e3 * per),
      "scheduler.driver_gap_s" -> n((wall - cover) / 1e3 * per),
      "scheduler.slot_busy_frac" -> n(if (cover > 0) t.busyMs / (cover * cores) else 0.0),
      "executor.run_s" -> n(t.runMs / 1e3 * per),
      "executor.cpu_s" -> n(t.cpuNs / 1e9 * per),
      "executor.gc_s" -> n(t.gcMs / 1e3 * per),
      "executor.input_mb" -> n(t.inBytes * mb * per),
      "executor.input_rows" -> n(t.inRows * per),
      "shuffle.write_mb" -> n(t.shWrite * mb * per),
      "shuffle.read_mb" -> n(t.shRead * mb * per),
      "shuffle.fetch_wait_s" -> n(t.fetchWaitMs / 1e3 * per),
      "spill.memory_mb" -> n(t.spillMem * mb * per),
      "spill.disk_mb" -> n(t.spillDisk * mb * per),
      "stream.queries" -> n(ss.size * per),
      "stream.start_s" -> n(ss.filter(_.firstEnd >= 0).map(s => s.firstEnd - s.start).sum / 1e3 * per),
      "stream.stop_s" -> n(ss.filter(s => s.lastEnd >= 0 && s.terminated >= 0)
        .map(s => math.max(0L, s.terminated - s.lastEnd)).sum / 1e3 * per),
      "stream.batches" -> n(ss.map(_.batches).sum * per),
      "stream.trigger_s" -> n(bucket("triggerExecution")),
      "stream.addBatch_s" -> n(bucket("addBatch")),
      "stream.walCommit_s" -> n(bucket("walCommit")),
      "stream.commitOffsets_s" -> n(bucket("commitOffsets")),
      "stream.latestOffset_s" -> n(bucket("latestOffset")),
      "stream.queryPlanning_s" -> n(bucket("queryPlanning")),
      "stream.state_rows" -> n(ss.map(_.stateRows).sum * per),
      "stream.state_mem_mb" -> n(ss.map(_.stateMem).sum * mb * per),
      "stream.late_rows_dropped" -> n(ss.map(_.late).sum * per),
      "collect.wall_s" -> n(collect / 1e3 * per),
      "self.build_s" -> n((build - coverBuild) / 1e3 * per),
      "self.collect_s" -> n((collect - coverCollect) / 1e3 * per),
      "self.job_s" -> n((cover - stageCover) / 1e3 * per),
      "self.stage_s" -> n(stageCover / 1e3 * per))
  }

  /** Every span as one JSON line: kind, id, parent, start, end (epoch ms). */
  def spansJsonl(): String = synchronized {
    val sb = new StringBuilder
    def span(kind: String, id: String, parent: String, start: Double, end: Double,
             extra: (String, String)*): Unit = {
      sb ++= Json.obj((Seq("kind" -> Json.str(kind), "id" -> Json.str(id),
        "parent" -> Json.str(parent), "start" -> Json.num(start),
        "end" -> Json.num(end)) ++ extra): _*)
      sb += '\n'
    }
    val mb = 1.0 / (1 << 20)
    val streamsByQ = streams.values.asScala.toSeq.groupBy(_.q)
    queries.foreach { q =>
      val t = tasks.getOrElse(q.id, new Tasks)
      span("query", s"q${q.id}", "", q.start, q.end, "name" -> Json.str(q.name),
        "tasks" -> Json.num(t.n), "shuffle_write_mb" -> Json.num(t.shWrite * mb),
        "spill_memory_mb" -> Json.num(t.spillMem * mb),
        "spill_disk_mb" -> Json.num(t.spillDisk * mb),
        "state_rows" -> Json.num(streamsByQ.getOrElse(q.id, Nil).map(_.stateRows).sum))
      span("build", s"q${q.id}.build", s"q${q.id}", q.start, q.built)
      span("collect", s"q${q.id}.collect", s"q${q.id}", q.built, q.end)
    }
    val byId = queries.map(q => q.id -> q).toMap
    def phase(q: Int, t: Long) = byId.get(q) match {
      case Some(x) if t < x.built => s"q$q.build"
      case Some(_) => s"q$q.collect"
      case None => ""
    }
    jobs.values.foreach(j => span("job", s"j${j.id}", phase(j.q, j.start), j.start, j.end))
    stages.foreach { s =>
      span("stage", s"s${s.id}", stageJob.get(s.id).fold("")(j => s"j$j"), s.start, s.end,
        "tasks" -> Json.num(s.tasks.toLong))
    }
    streams.values.asScala.foreach { s =>
      val end = if (s.terminated >= 0) s.terminated else s.lastEnd
      span("stream", s"r${s.runId}", phase(s.q, s.start), s.start, end)
      s.batchSpans.foreach { case (b, st, en) =>
        span("batch", s"r${s.runId}.b$b", s"r${s.runId}", st, en)
      }
    }
    sb.toString
  }
}

private object Tracer {
  final case class Query(id: Int, name: String, start: Double,
                         var built: Double = Double.NaN,
                         var end: Double = Double.PositiveInfinity)
  final case class Job(id: Int, q: Int, start: Long, var end: Long = -1L)
  final case class Stage(id: Int, q: Int, tasks: Int, start: Long, end: Long)
  final class Tasks {
    var n = 0L; var busyMs = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var inRows = 0L; var shWrite = 0L; var shRead = 0L
    var fetchWaitMs = 0L; var spillMem = 0L; var spillDisk = 0L
  }
  final class Stream(val q: Int, val runId: String, val start: Long) {
    var firstEnd = -1L; var lastEnd = -1L; var terminated = -1L; var batches = 0
    val buckets = mutable.Map[String, Long]().withDefaultValue(0L)
    var stateRows = 0L; var stateMem = 0L; var late = 0L // state: peak over batches
    val batchSpans = mutable.ArrayBuffer[(Long, Long, Long)]() // batchId, start, end
  }
}
