package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{GraftExtensions, SparkEntry}

/** Closed-loop benchmark client: one driver thread runs a workload's
  * queries one after another on `local[cores]`, each to a full result
  * (the user's own plan, then `collect()`), releasing caches and
  * collecting the heap between queries. It makes passes over the workload until `seconds` of timed
  * passes have run (at least one); the seed fixes the query order
  * within each pass.
  *
  * Modes (arguments are `key=value`):
  *   meta  out=FILE                 query names and oracle SQL as JSON
  *   setup cores= data= work=       session build, prints build_s
  *   run   cores= data= work= warm= queries=a,b,.. seed= seconds= trace=0|1
  *         session build, a warm-up pass on the `warm` tables, then the
  *         timed passes on `data`; writes work/run.json and, per
  *         distinct query, its first result as parquet under
  *         work/results/NAME for the oracle check
  *   plan  cores= data= work= query=NAME
  *         runs one query to a full result and prints its executed plan
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val o = args.drop(1).map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    args.headOption match {
      case Some("meta")  => meta(o("out"))
      case Some("setup") =>
        setup(o)
        println(Json.obj("build_s" -> Json.num(sinceJvmStart())))
        halt()
      case Some("run")  => run(o); halt()
      case Some("plan") => plan(o); halt()
      case other =>
        System.err.println(s"unknown mode $other"); sys.exit(2)
    }
  }

  /** Exit now: the session is stopped or expendable, and its scratch
    * directories are removed by the caller. */
  private def halt(): Unit = {
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  private def meta(out: String): Unit = {
    val qs = SparkEntry.allQueries.map(q => Json.str(q.name))
    val oracle = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> Json.str(v) }
    Files.writeString(Paths.get(out), Json.obj(
      "queries" -> Json.arr(qs), "oracle" -> Json.obj(oracle: _*)))
  }

  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  /** The same session as the engine's own Bench/Verify mains, with its
    * scratch directories kept under `work`, and the engine's query map. */
  private def setup(o: Map[String, String]): (SparkSession, Map[String, Query]) = {
    val cores = o("cores")
    val work = o("work")
    val spark = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Session state (parser, analyzer and optimizer with the engine's
    // extensions) is built lazily; build it here, so the session build
    // time covers it. Nothing is executed: first-execution costs fall in
    // the warm-up.
    spark.range(1).queryExecution.analyzed
    (spark, SparkEntry.queries)
  }

  private def releaseCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString.split("\\s+")(0).toDouble
    catch { case _: Throwable => ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage }

  private def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def jitS(): Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  private def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    catch { case _: Throwable => 0.0 }

  /** Order-independent digest of a result, to check that every later
    * run of a query returns what its first (oracle-checked) run did. */
  private def fingerprint(rows: Array[Row]): Int =
    MurmurHash3.orderedHash(rows.iterator.map(_.toString).toArray.sorted)

  final case class Sample(pass: Int, name: String, wallS: Double, buildS: Double,
                          collectS: Double, rows: Long, error: Option[String])

  private def run(o: Map[String, String]): Unit = {
    val work = o("work")
    val data = o("data")
    val names = o("queries").split(",").toIndexedSeq
    val seconds = o("seconds").toDouble
    val seed = o("seed").toLong
    val traced = o.getOrElse("trace", "0") == "1"
    val (spark, fns) = setup(o)
    val missing = names.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val sc = spark.sparkContext
    val tracer = if (traced) Some(new Tracer(spark, o("cores").toInt)) else None
    val buildS = sinceJvmStart()
    // Warm-up: every query of the workload once, in name order, on small
    // tables. The timed passes then measure a warm JVM instead of
    // charging class loading, JIT and code generation to whichever query
    // the seed puts first; the warm-up itself is part of set-up time.
    val w0 = System.nanoTime()
    names.distinct.sorted.foreach { name =>
      try fns(name)(spark, o("warm")).collect()
      catch { case e: Throwable => System.err.println(s"warm-up $name: $e") }
      releaseCaches(spark)
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setupS = sinceJvmStart()
    val jitSetup = jitS()
    val gcSetup = gcS()
    System.gc() // the first timed query starts from a compact heap, as every later one does

    val samples = mutable.ArrayBuffer[Sample]()
    val passWall = mutable.ArrayBuffer[Double]()
    val passCpu = mutable.ArrayBuffer[Double]()
    val first = mutable.LinkedHashMap[String, (StructType, Array[Row], Int)]()
    val unstable = mutable.LinkedHashSet[String]()
    val load = mutable.LinkedHashMap("start" -> loadAvg())
    val t0 = System.nanoTime()
    val cpu0 = processCpuS()
    val gc0 = gcS()
    val jit0 = jitS()
    var gcForced = 0.0 // GC seconds of the collections between queries

    var pass = 0
    var qid = 0
    var timed = 0.0 // seconds of timed passes so far
    while (pass == 0 || timed < seconds) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val ps = System.nanoTime()
      val pc = processCpuS()
      var bookkeeping = 0L
      var bookkeepingCpu = 0.0
      order.foreach { name =>
        qid += 1
        tracer.foreach(_.queryStart(qid, name))
        sc.setJobGroup(s"pb-q$qid", name, interruptOnCancel = false)
        val a = System.nanoTime()
        var b = a
        var result: Option[(StructType, Array[Row])] = None
        var error: Option[String] = None
        try {
          val df = fns(name)(spark, data)
          b = System.nanoTime()
          result = Some((df.schema, df.collect()))
        } catch {
          case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val c = System.nanoTime()
        sc.clearJobGroup()
        tracer.foreach(_.queryEnd(b, c))
        val k = System.nanoTime()
        result.foreach { case (schema, rows) =>
          val fp = fingerprint(rows)
          first.get(name) match {
            case None => first(name) = (schema, rows, fp)
            case Some((_, _, fp0)) =>
              if (fp != fp0) {
                unstable += name
                error = Some("result differs from the query's first run")
              }
          }
        }
        bookkeeping += System.nanoTime() - k
        samples += Sample(pass, name, (c - a) / 1e9, (b - a) / 1e9, (c - b) / 1e9,
          result.map(_._2.length.toLong).getOrElse(0L), error)
        releaseCaches(spark)
        // A full collection between queries, outside the pass's wall and
        // CPU time, so every query starts from the same compact heap
        // instead of paying for the garbage of the one before it.
        val g = System.nanoTime()
        val gcCpu = processCpuS()
        val gcBefore = gcS()
        System.gc()
        gcForced += gcS() - gcBefore
        bookkeepingCpu += processCpuS() - gcCpu
        bookkeeping += System.nanoTime() - g
        if (!load.contains("mid") && timed + (System.nanoTime() - ps - bookkeeping) / 1e9 >= seconds / 2)
          load("mid") = loadAvg()
      }
      passWall += (System.nanoTime() - ps - bookkeeping) / 1e9
      passCpu += processCpuS() - pc - bookkeepingCpu
      timed += passWall.last
      pass += 1
    }
    val passes = pass
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS() - cpu0
    val gcPass = (gcS() - gc0 - gcForced) / passes
    val jitPass = (jitS() - jit0) / passes
    load("end") = loadAvg()
    val rss = peakRssMb()

    // Results are written after the timed loop, so the parquet writes for
    // the oracle check never land inside a measured query.
    first.foreach { case (name, (schema, rows, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/results/$name")
    }
    // stopping drains the listener bus, so the trace below is complete
    if (traced) spark.stop()

    val fields = mutable.ArrayBuffer[(String, String)](
      "build_s" -> Json.num(buildS),
      "warmup_s" -> Json.num(warmupS),
      "setup_s" -> Json.num(setupS),
      "passes" -> Json.num(passes),
      "pass_wall_s" -> Json.arr(passWall.map(Json.num(_: Double)).toSeq),
      "pass_cpu_s" -> Json.arr(passCpu.map(Json.num(_: Double)).toSeq),
      "peak_rss_mb" -> Json.num(rss),
      "jvm" -> Json.obj("gc_s" -> Json.num(gcPass), "jit_s" -> Json.num(jitPass),
        "setup_gc_s" -> Json.num(gcSetup), "setup_jit_s" -> Json.num(jitSetup)),
      "health" -> Json.obj((load.toSeq.map { case (k, v) => s"load_$k" -> Json.num(v) } ++
        Seq("self_cpu_s" -> Json.num(cpu), "wall_s" -> Json.num(wall),
          "self_parallelism" -> Json.num(cpu / wall))): _*),
      "unstable" -> Json.arr(unstable.toSeq.map(Json.str)),
      "samples" -> Json.arr(samples.toSeq.map { s =>
        Json.obj("pass" -> Json.num(s.pass), "name" -> Json.str(s.name),
          "wall_s" -> Json.num(s.wallS), "build_s" -> Json.num(s.buildS),
          "collect_s" -> Json.num(s.collectS), "rows" -> Json.num(s.rows),
          "error" -> s.error.map(Json.str).getOrElse("null"))
      }))
    tracer.foreach { t =>
      fields += "layers" -> t.layers(passes)
      Files.writeString(Paths.get(s"$work/spans.jsonl"), t.spansJsonl())
    }
    Files.writeString(Paths.get(s"$work/run.json"), Json.obj(fields.toSeq: _*))
  }

  private def plan(o: Map[String, String]): Unit = {
    val (spark, fns) = setup(o)
    val df = fns(o("query"))(spark, o("data"))
    val rows = df.collect()
    val executed = df.queryExecution.executedPlan
    println(s"rows=${rows.length}")
    println(executed.treeString)
  }
}
