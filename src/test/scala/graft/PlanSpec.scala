package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality assertions: the 100 TB posture is checked here, not
  * eyeballed — filters/projection reach the parquet scan, small dims
  * broadcast, bucketed co-located joins don't shuffle, hot paths stay
  * inside WholeStageCodegen.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = StreamHarness.spark
  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter and projection are pushed into the parquet scan") {
    val df = Tables(spark, dir, "lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity"),
      s"filter not pushed:\n$scan")
    assert(scan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"projection not pruned:\n$scan")
  }

  test("SESSION TVF plans ONE clustering shuffle (window passes reuse it)") {
    // the gaps-and-islands rewrite runs three window passes (opener,
    // session id, bounds); the opener/id passes cluster on the PTF
    // keys and the bounds pass on (keys, session id) — hash
    // partitioning on the keys satisfies the (keys, id) clustering,
    // so EnsureRequirements must insert exactly one hashpartitioning
    // Exchange for the whole chain (sorts, not re-shuffles)
    Tables(spark, dir, "events").createOrReplaceTempView("plan_sess_events")
    val df = spark.sql(
      """SELECT user_id, window_start, window_end
        |FROM TABLE(SESSION(TABLE plan_sess_events PARTITION BY user_id,
        |                   DESCRIPTOR(ts), INTERVAL '30' MINUTE))""".stripMargin)
    val exchanges = df.queryExecution.executedPlan.toString.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.size == 1,
      s"expected 1 clustering shuffle, got ${exchanges.size}:\n" +
        exchanges.mkString("\n"))
  }

  test("x30 DSIR: broadcast model table, TakeOrderedAndProject selection, no global window") {
    val q = SparkEntry.queries("x30_dsir_importance")(spark, dir)
    val plan = planOf(q)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k selection must be TakeOrderedAndProject, not a global sort:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the 256-bucket model table must broadcast:\n$plan")
    assert(!plan.contains("Window"),
      s"no all-docs window function in the selection path:\n$plan")
  }

  test("small dimension joins broadcast (no shuffle of the fact side)") {
    val q = SparkEntry.queries("j7_broadcast_lookup")(spark, dir)
    val plan = planOf(q)
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
  }

  test("aggregation plans two-phase (partial before shuffle)") {
    val q = SparkEntry.queries("q1_agg")(spark, dir)
    val plan = planOf(q)
    assert(plan.contains("HashAggregate"), plan)
    // partial + final pair (WSCG spans only materialize post-AQE, so
    // they are not asserted on the pre-execution plan string)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("sort-limit plans TakeOrderedAndProject, not a global sort") {
    val q = SparkEntry.queries("q4_sort_limit")(spark, dir)
    assert(planOf(q).contains("TakeOrderedAndProject"), planOf(q))
  }

  test("rank<=N filter plans WindowGroupLimit (per-partition top-n)") {
    val q = SparkEntry.queries("w7_topn_per_group")(spark, dir)
    assert(planOf(q).contains("WindowGroupLimit"), planOf(q))
    // the per-source corpus cap claims the same pre-limit shape
    val cap = SparkEntry.queries("x20_source_cap")(spark, dir)
    assert(planOf(cap).contains("WindowGroupLimit"), planOf(cap))
  }

  test("sequence packing shuffles on the shard key only (no single-partition window)") {
    // x24's running sum must plan Exchange hashpartitioning(source),
    // never Exchange SinglePartition — a global-order window would
    // serialize the whole corpus through one task at 100 TB.
    val q = SparkEntry.queries("x24_sequence_packing")(spark, dir)
    val plan = planOf(q)
    assert(plan.contains("Window"), plan)
    val beforeSort = plan.split("TakeOrderedAndProject|Sort \\[source").head
    assert(!beforeSort.contains("SinglePartition"),
      s"packing window serializes to one partition:\n$plan")
  }

  test("FOR SYSTEM_TIME AS OF SQL plans the as-of window shape, not a join") {
    // j15 goes through spark.sql TEXT: GraftSqlParser rewrites the
    // reference's temporal-join syntax into the hinted shape,
    // AsOfJoinRule plans it as union + ONE window pass per key — the
    // single-shuffle linear plan. A surviving Join/CartesianProduct
    // would mean the rule did not fire and the raw `r.ts <= l.ts`
    // inner join (quadratic per key) ran instead.
    val q = SparkEntry.queries("j15_asof_sql")(spark, dir)
    val plan = planOf(q)
    assert(plan.contains("Window"), s"as-of window missing:\n$plan")
    assert(plan.contains("last("), s"version-carry last() missing:\n$plan")
    assert(!plan.contains("Join"), s"temporal SQL left a join behind:\n$plan")
    assert(plan.contains("Union"), plan)
  }

  test("as-of SQL keeps a NULL column of the matched version (no cross-version mixing)") {
    // versioned side: (k=1, t=1, rate=5.0) then (k=1, t=2, rate=NULL).
    // A probe at t=3 must return the t=2 version WITH ITS NULL — a
    // per-column last(ignoreNulls) would resurrect 5.0 from t=1 and
    // emit a row that never existed in any version.
    import spark.implicits._
    Seq((1L, 1L, Some(5.0)), (1L, 2L, None))
      .toDF("k", "t", "rate").createOrReplaceTempView("vt_null_spec")
    Seq((1L, 3L)).toDF("pk", "pt").createOrReplaceTempView("probe_null_spec")
    val out = spark.sql(
      """SELECT /*+ ASOF_JOIN(t) */ p.pk, r.t AS version_t, r.rate
        |FROM probe_null_spec p JOIN vt_null_spec r
        |  ON p.pk = r.k AND r.t <= p.pt""".stripMargin).collect()
    assert(out.length == 1, out.mkString(","))
    assert(out.head.getLong(1) == 2L, s"matched version: ${out.head}")
    assert(out.head.isNullAt(2),
      s"NULL of the matched version resurrected to ${out.head.get(2)}")
  }

  test("ASOF_JOIN hint with no matching join fails loudly; rowtime params scope the rewrite") {
    import spark.implicits._
    Seq((1L, 1L)).toDF("a", "b").createOrReplaceTempView("asof_guard_spec")
    // no join at all under the hint → error, not a silent plain plan
    val e = intercept[Exception](spark.sql(
      "SELECT /*+ ASOF_JOIN */ a FROM asof_guard_spec").collect())
    assert(e.getMessage.contains("ASOF_JOIN hint did not match"), e.getMessage)
    // a join whose time bound is NOT the hinted rowtime is untouched →
    // the hint then matches nothing and must also fail loudly
    Seq((1L, 5L)).toDF("k", "ts").createOrReplaceTempView("asof_guard_l")
    Seq((1L, 3L)).toDF("k2", "other").createOrReplaceTempView("asof_guard_r")
    val e2 = intercept[Exception](spark.sql(
      """SELECT /*+ ASOF_JOIN(rowtime) */ l.k FROM asof_guard_l l
        |JOIN asof_guard_r r ON l.k = r.k2 AND r.other <= l.ts""".stripMargin)
      .collect())
    assert(e2.getMessage.contains("ASOF_JOIN hint did not match"), e2.getMessage)
  }

  test("native constant time-travel text passes the dialect parser untouched") {
    // Spark reserves FOR SYSTEM_TIME AS OF <constant> for time travel;
    // only the CORRELATED probe form is ours to rewrite. The constant
    // form must reach Spark's parser unmodified (it fails there only
    // because the temp view has no version history — the error is
    // Spark's, not our dialect error).
    val p = new graft.sources.GraftSqlParser(
      spark.sessionState.sqlParser)
    val constant = "SELECT * FROM t FOR SYSTEM_TIME AS OF '2024-01-01'"
    assert(p.rewriteTemporal(constant) == constant)
    val literal = "SELECT 'FOR SYSTEM_TIME AS OF x.y' AS s"
    // a correlated-looking phrase inside a literal: the token-based
    // front-end (round 7) sees a Str token, not keywords, so the
    // statement passes through untouched (the regex front-end could
    // only fail loudly here; the lexer makes it a non-event)
    assert(p.rewriteTemporal(literal) == literal)
  }

  test("conf-gated distinct-agg split plans two aggregate levels over a hash bucket") {
    import graft.plans.SplitDistinctAggRule
    Tables(spark, dir, "orders").createOrReplaceTempView("orders_split_spec")
    val sql =
      """SELECT o_orderstatus, count(DISTINCT o_custkey) AS n
        |FROM orders_split_spec GROUP BY o_orderstatus""".stripMargin
    val expected = spark.sql(sql).collect().map(_.toString).sorted.toSeq // conf off
    spark.conf.set(SplitDistinctAggRule.EnabledKey, "true")
    try {
      val on = spark.sql(sql)
      val optimized = on.queryExecution.optimizedPlan
      import org.apache.spark.sql.catalyst.plans.logical.Aggregate
      val aggs = optimized.collect { case a: Aggregate => a }
      // inner level groups by (status, pmod(hash(custkey), N)); outer
      // re-adds the buckets — a hot status spreads over N tasks
      assert(aggs.size >= 2, optimized.toString)
      assert(aggs.exists(_.groupingExpressions.exists(
        _.toString.toLowerCase.contains("pmod"))), optimized.toString)
      assert(on.collect().map(_.toString).sorted.toSeq == expected,
        "split plan changed the answer")
    } finally spark.conf.set(SplitDistinctAggRule.EnabledKey, "false")
  }

  test("delta evictor plans one window pass + groupBy, no self-join") {
    val q = SparkEntry.queries("gw10_delta_evictor")(spark, dir)
    val plan = planOf(q)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), s"gw10 should not join:\n$plan")
  }

  test("MEASURES path joins bindings back on (key,id) — no cartesian, two-phase agg") {
    val q = SparkEntry.queries("mr3_measures")(spark, dir)
    val plan = planOf(q)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("minhash signatures plan map-side partial aggregation") {
    val plan = planOf(graft.operators.TextDedup.minHashSignatures(
      Tables(spark, dir, "documents"), "doc_id", "text", numHashes = 4))
    assert(plan.contains("partial_min"), s"expected partial aggregation:\n$plan")
  }

  test("bucketed tables co-locate the join (no Exchange)") {
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    // stale managed-table dirs survive DROP if a previous run died
    import scala.reflect.io.Directory
    Seq("b_orders", "b_lineitem").foreach { t =>
      new Directory(new java.io.File(s"spark-warehouse/$t")).deleteRecursively()
    }
    Tables(spark, dir, "orders")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("b_orders")
    Tables(spark, dir, "lineitem")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("b_lineitem")
    // disable auto-broadcast so the bucketed (co-located) path is the
    // one under test — at real scale both sides are too big to ship.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders").join(spark.table("b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = planOf(joined)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join should not shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned write prunes partitions on read") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables(spark, dir, "orders")
      .withColumn("status", col("o_orderstatus"))
      .write.partitionBy("status").mode("overwrite").parquet(out)
    val pruned = spark.read.parquet(out).filter(col("status") === "F")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters: [isnotnull(status"), scan)
  }

  test("ANALYZE-fed statistics reach the optimizer and reorder a multi-join (CBO)") {
    // TpcdsStatsProvider.java:47 analog: catalog stats + CBO replace
    // hand-placed hints — the planner measures, the optimizer decides.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    graft.sources.WarehouseStats.register(spark, dir,
      Seq("nation", "customer", "orders"))
    graft.sources.WarehouseStats.withCbo(spark) {
      // exact table stats landed in the catalog (rowCount reaches plan
      // stats only under CBO; without ANALYZE it would be None)
      val nationCount = spark.table("g_nation")
        .queryExecution.optimizedPlan.stats.rowCount
      assert(nationCount.contains(BigInt(25)), s"nation stats: $nationCount")
      // declared WORST order: fact ⋈ fact first, selective dim last
      val q = spark.table("g_orders")
        .join(spark.table("g_customer"), col("o_custkey") === col("c_custkey"))
        .join(spark.table("g_nation").filter(col("n_name") === "FRANCE"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("o_orderkey"), col("c_name"), col("n_name"))
      val optimized = q.queryExecution.optimizedPlan
      // stats flow through the whole join tree (None without ANALYZE)
      assert(optimized.stats.rowCount.isDefined,
        "no rowCount on the join — stats not feeding the optimizer")
      // cost-based reorder: the innermost join must pair customer with
      // the FILTERED nation (25→1 rows), pushing the big orders table
      // to the outermost join — not the declared orders-first order.
      val innermost = optimized.collect { case j: Join => j }.last
      val innerCols = innermost.output.map(_.name).toSet
      assert(innerCols.contains("n_nationkey") && !innerCols.contains("o_orderkey"),
        s"join not reordered by stats; innermost join outputs: $innerCols")
    }
  }

  test("GateBroadcastHints strips oversized pinned broadcasts, keeps small ones") {
    // runtime enforcement of the no-pinned-broadcast policy for USER
    // queries (the PlanSpec scan below covers only this library's):
    // the reference gates broadcast by threshold, never by author
    // assertion (OptimizerConfigOptions.java:53).
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join}
    val prevExtra = spark.experimental.extraOptimizations
    spark.conf.set("spark.graft.maxPinnedBroadcastBytes", "50000")
    spark.experimental.extraOptimizations = prevExtra :+ graft.plans.GateBroadcastHints
    try {
      def broadcastHints(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.optimizedPlan.collect {
          case j: Join => Seq(j.hint.leftHint, j.hint.rightHint).flatten
            .filter(_.strategy.contains(BROADCAST))
        }.flatten
      // lineitem (~115 KB estimated) over the 50 KB cap → hint stripped
      val big = Tables(spark, dir, "orders").join(
        broadcast(Tables(spark, dir, "lineitem")),
        col("o_orderkey") === col("l_orderkey"))
      assert(broadcastHints(big).isEmpty, "oversized pin survived the gate")
      // with auto-broadcast off, the stripped pin must NOT broadcast
      val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val replanned = Tables(spark, dir, "orders").join(
          broadcast(Tables(spark, dir, "lineitem")),
          col("o_orderkey") === col("l_orderkey"))
        assert(planOf(replanned).contains("SortMergeJoin"), planOf(replanned))
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      // nation (~3 KB) under the cap → pin honored
      val small = Tables(spark, dir, "customer").join(
        broadcast(Tables(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      assert(broadcastHints(small).nonEmpty, "legitimate small pin was stripped")
      assert(planOf(small).contains("BroadcastHashJoin"), planOf(small))
    } finally {
      spark.experimental.extraOptimizations = prevExtra
      spark.conf.unset("spark.graft.maxPinnedBroadcastBytes")
    }
  }

  test("no broadcast() hint pins a table that scales with SF") {
    // A forced broadcast of customer/supplier/part/orders/lineitem/
    // events/documents/embeddings is a 100 TB scale-killer: those
    // tables grow linearly with SF, and a pinned BroadcastExchange
    // OOMs the driver at SF where the threshold/AQE path would have
    // shuffled. Hints are legal only on fixed-cardinality inputs
    // (nation/region) or on subtrees that provably reduce cardinality
    // (Aggregate / Limit) before the exchange.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LogicalPlan, ResolvedHint}
    val allowed = Map(
      "ty5_lookup_join" -> "lookup-join contract: dim snapshot must fit in memory",
      "v1_knn_brute" -> "query set bounded by contract (handful of query vectors)",
      "v5_ivf_search" -> "probe table = query set × nProbe, bounded by contract")
    // leaf identity by column signature — robust to plan-string format
    val scalingCols = Set("c_custkey", "s_suppkey", "p_partkey", "o_orderkey",
      "l_orderkey", "event_id", "doc_id", "embedding")
    def reducesCardinality(p: LogicalPlan): Boolean = p.exists {
      case _: Aggregate | _: GlobalLimit => true
      case _ => false
    }
    def scansScaling(p: LogicalPlan): Boolean =
      p.collectLeaves().exists(_.output.map(_.name).exists(scalingCols))
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if name.startsWith("st") || allowed.contains(name) => None
      case (name, fn) =>
        val bad = fn(spark, dir).queryExecution.analyzed.collect {
          case h: ResolvedHint if scansScaling(h.child) && !reducesCardinality(h.child) => h
        }
        if (bad.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"forced broadcast of SF-scaling table in: ${offenders.mkString(", ")}")
  }

  test("no unintended cartesian/nested-loop join anywhere in the batch corpus") {
    // Every non-equi or cross join in the library must be on this
    // list with a reason; anything new is a scale regression (an
    // accidental O(n·m) join that a 100 TB fact table cannot survive).
    val allowed = Map(
      "j8_cross_join" -> "intentional CROSS JOIN demo (5×5 regions)",
      "d4_above_avg_rank" -> "single-row scalar-average broadcast",
      "h13_quiet_customers" -> "single-row scalar-subquery broadcast",
      "h16_important_parts" -> "single-row global-threshold broadcast",
      "v1_knn_brute" -> "brute-force KNN baseline (broadcast query side)",
      "x15_tfidf" -> "single-row corpus-size broadcast (idf denominator)",
      "v4_ivf_assign" -> "broadcast-centroid crossJoin (k rows)",
      "v5_ivf_search" -> "broadcast-centroid crossJoin (k rows)",
      "v7_semantic_dedup" -> "broadcast-centroid crossJoin (k rows); dedup pairs themselves are a cluster equi-join",
      "d22_division" -> "single-row divisor-cardinality broadcast",
      "d24_cross_channel_frequent" ->
        "two single-row scalar broadcasts (avg part frequency, max customer spend)",
      "x26_mixture_sample" -> "single-row global-min broadcast (rate denominator)",
      "x27_token_budget" ->
        "single-row budget + threshold broadcasts (histogram-derived scalars)",
      "x30_dsir_importance" ->
        "single-row corpus-totals broadcast (the two model denominators)",
      "d31_cross_channel_intersect" ->
        "single-row avg-sales-threshold broadcast (the Q14 scalar gate)",
      "d32_frequent_best_spend" ->
        "single-row max-spend-threshold broadcast (the Q23 scalar gate)")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if name.startsWith("st") => None // streaming: runs, not plans
      case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.executedPlan.toString
        val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
          .filter(plan.contains)
        if (bad.nonEmpty && !allowed.contains(name)) Some(s"$name: ${bad.mkString(",")}")
        else None
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("precedence-graph self-join inputs carry the high-value cut (gr16/gr17)") {
    // The hv predicate selects ~1-2% of orders; both inputs of the
    // lineitem×lineitem pair fan-out must be SEMI-joined against it
    // BEFORE the self-join — a post-join filter would shuffle the full
    // fact×fact pair set at any scale only to discard ~98% of it.
    val plan = graft.queries.Graphs.precedenceEdges(spark, dir)
      .queryExecution.executedPlan.toString
    val semiCount = "BroadcastHashJoin .* LeftSemi".r
      .findAllIn(plan).size
    assert(semiCount >= 2,
      s"expected the hv LeftSemi cut on BOTH self-join inputs:\n$plan")
    val selfJoinIdx = plan.linesIterator.indexWhere(l =>
      l.contains("Join") && l.contains("Inner"))
    assert(selfJoinIdx >= 0, s"no self-join found:\n$plan")
    // the semi joins must sit BELOW the self-join (deeper in the tree =
    // later lines in the plan dump)
    val semiLines = plan.linesIterator.zipWithIndex.collect {
      case (l, i) if l.contains("LeftSemi") => i }.toSeq
    assert(semiLines.count(_ > selfJoinIdx) >= 2,
      s"hv cut not below the self-join:\n$plan")
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    // Spark's InjectRuntimeFilter = the engine's dynamic-filtering
    // path for fact-fact joins that cannot broadcast: the selective
    // side's join keys are folded into a bloom filter and pushed into
    // the other side's scan-filter, cutting the shuffled rows before
    // the Exchange. At 100 TB this is the difference between
    // shuffling the whole fact table and shuffling the ~matching
    // slice, so the capability is pinned here. The application-side
    // size threshold defaults to 10 GB (sf0.001 is KBs), so the test
    // lowers it — on a real cluster the defaults fire it exactly when
    // the scan is big enough to matter.
    val c = spark.conf
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> c.getOption(k))
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val o = Tables(spark, dir, "orders")
        .filter(col("o_totalprice") > 500000).select("o_orderkey")
      val l = Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
      val j = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(sum("l_quantity").as("q"))
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter injected:\n$plan")
    } finally saved.foreach { case (k, v) => v.fold(c.unset(k))(c.set(k, _)) }
  }

  /** Jobs run collecting `df`, the rows, and the final adaptive plan. */
  private def collectFinal(df: org.apache.spark.sql.DataFrame)
      : (Int, Seq[org.apache.spark.sql.Row], String) = {
    var rows = Seq.empty[org.apache.spark.sql.Row]
    val jobs = StreamHarness.jobsRun { rows = df.collect().toSeq }
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    (jobs, rows, plan)
  }

  private val excludeSmallSort =
    "spark.sql.adaptive.optimizer.excludedRules" -> graft.plans.SmallGlobalSort.ruleName

  private def flagTotals = Tables(spark, dir, "lineitem")
    .groupBy("l_returnflag", "l_linestatus").agg(sum("l_quantity").as("q"))
    .orderBy("l_returnflag", "l_linestatus")

  test("SmallGlobalSort: a small ORDER BY sorts in one partition, one job fewer") {
    // the range exchange's RangePartitioner runs a sampling job over its
    // whole input; a result at or below the broadcast bound is gathered
    // into one partition instead, which satisfies the ordering
    val (jobs, rows, plan) = collectFinal(flagTotals)
    val (jobsOff, rowsOff, planOff) =
      StreamHarness.withConfs(excludeSmallSort)(collectFinal(flagTotals))
    assert(!plan.contains("rangepartitioning"), s"range exchange still planned:\n$plan")
    assert(plan.contains("SinglePartition"), s"no single-partition gather:\n$plan")
    assert(planOff.contains("rangepartitioning"),
      s"control plan without the rule has no range exchange:\n$planOff")
    assert(jobs == jobsOff - 1, s"$jobs jobs with the rule, $jobsOff without")
    assert(rows.nonEmpty && rows == rowsOff)
  }

  test("SmallGlobalSort: no gather when the broadcast bound is disabled") {
    val (_, _, plan) = StreamHarness.withConfs(
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")(collectFinal(flagTotals))
    assert(plan.contains("rangepartitioning"), s"range exchange missing:\n$plan")
  }

  test("SmallGlobalSort: ORDER BY ... LIMIT keeps TakeOrderedAndProject, no added Exchange") {
    def top = flagTotals.limit(2)
    val (_, rows, plan) = collectFinal(top)
    val (_, rowsOff, planOff) =
      StreamHarness.withConfs(excludeSmallSort)(collectFinal(top))
    def exchanges(p: String) = p.linesIterator.count(_.contains("Exchange"))
    assert(plan.contains("TakeOrderedAndProject"), s"top-k not planned:\n$plan")
    assert(exchanges(plan) == exchanges(planOff),
      s"exchange added under the limit:\n$plan\nvs\n$planOff")
    assert(rows.size == 2 && rows == rowsOff)
  }

  private val nanosAsLong = SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key

  /** Writes `df`'s rows as the single parquet file `to`. */
  private def writeSingleFile(df: org.apache.spark.sql.DataFrame, to: Path): Unit = {
    val out = Files.createTempDirectory("tables-spec-out")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = Files.list(out).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get
    Files.copy(part, to, StandardCopyOption.REPLACE_EXISTING)
  }

  test("Tables.schemaOf equals Spark's inferred schema for every table") {
    StreamHarness.withConfs(nanosAsLong -> "true") {
      Tables.all.foreach { t =>
        val p = s"$dir/$t.parquet"
        assert(Tables.schemaOf(spark, p) == spark.read.parquet(p).schema, t)
      }
    }
  }

  test("Tables.schemaOf runs no Spark job, on a first read or a second") {
    val tmp = Files.createTempDirectory("tables-spec")
    val file = tmp.resolve("t.parquet")
    import spark.implicits._
    writeSingleFile(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), file)
    val first = StreamHarness.jobsRun { Tables.schemaOf(spark, file.toString) }
    val second = StreamHarness.jobsRun {
      Tables.schemaOf(spark, file.toString)
      Tables(spark, tmp.toString, "t")
    }
    assert(first == 0 && second == 0, s"$first jobs on the first read, $second on the second")
  }

  test("Tables.schemaOf: a rewritten file is read with its new schema") {
    val tmp = Files.createTempDirectory("tables-spec")
    val file = tmp.resolve("t.parquet")
    import spark.implicits._
    writeSingleFile(Seq((1L, "a")).toDF("k", "s"), file)
    assert(Tables(spark, tmp.toString, "t").columns.toSeq == Seq("k", "s"))
    writeSingleFile(Seq((7, 2.5, true)).toDF("x", "y", "z"), file)
    assert(Tables.schemaOf(spark, file.toString).fieldNames.toSeq == Seq("x", "y", "z"))
    val row = Tables(spark, tmp.toString, "t").head()
    assert(row.getInt(0) == 7 && row.getDouble(1) == 2.5 && row.getBoolean(2))
  }

  test("Tables.schemaOf: the memo key follows the conversion confs") {
    val p = s"$dir/events.parquet"
    val on = StreamHarness.withConfs(nanosAsLong -> "true")(Tables.footerKey(spark, p))
    val off = StreamHarness.withConfs(nanosAsLong -> "false")(Tables.footerKey(spark, p))
    assert(on != off && on.copy(conversion = off.conversion) == off)
    // a flipped conf that changes the conversion is not served from the memo
    val ntz = SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key
    Seq("true", "false").foreach { v =>
      StreamHarness.withConfs(ntz -> v) {
        assert(Tables.schemaOf(spark, p)("ts").dataType ==
          spark.read.parquet(p).schema("ts").dataType, s"$ntz=$v")
      }
    }
    assert(StreamHarness.withConfs(ntz -> "false")(Tables.schemaOf(spark, p)("ts").dataType) !=
      StreamHarness.withConfs(ntz -> "true")(Tables.schemaOf(spark, p)("ts").dataType))
  }
}
