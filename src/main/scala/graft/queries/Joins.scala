package graft.queries

import graft.{QueryGroup, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Join surface: inner/left/right/full/semi/anti equi-joins, broadcast
  * dim enrichment, cross join, theta (non-equi) join, time-interval
  * join, and batch as-of (temporal) join.
  *
  * Reference semantics: SURVEY.md §2.3 — BatchExecHashJoin /
  * BatchExecSortMergeJoin / BatchExecNestedLoopJoin,
  * StreamExecIntervalJoin (TimeIntervalJoin.java:53), and
  * StreamExecTemporalJoin (TemporalRowTimeJoinOperator.java:70).
  *
  * Scale notes: small dims (region/nation/part/supplier) are broadcast
  * (no shuffle); big-big joins shuffle on the equi key and rely on AQE
  * for skew; the as-of join is implemented as union + single window
  * sort (one shuffle, linear) instead of a quadratic self-join.
  */
object Joins extends QueryGroup {

  private val dec18_2 = DecimalType(18, 2)
  private val dec4_2  = DecimalType(4, 2)

  override def queries = Seq(

    // TPC-H Q3-flavored 3-way join: shuffle join on the big pair;
    // customer scales with SF, so strategy is left to AQE/stats.
    q("j1_inner_join",
      """SELECT l_orderkey,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
        |  CAST(o.o_orderdate AS DATE) AS orderdate
        |FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
        |GROUP BY l_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 20""".stripMargin) { (s, dir) =>
      val c = t(s, dir)("customer").filter(col("c_mktsegment") === "BUILDING")
      val o = t(s, dir)("orders")
        .filter(col("o_orderdate") < lit("1995-03-15 00:00:00").cast(TimestampType))
      val l = t(s, dir)("lineitem")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sum(col("l_extendedprice").cast(dec18_2) * (lit(1) - col("l_discount").cast(dec4_2)))
          .cast(DoubleType).as("revenue"))
        .select(col("l_orderkey"), col("revenue"), col("o_orderdate").cast(DateType).as("orderdate"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(20)
    },

    // LEFT OUTER: every customer, order count + spend (0 for no orders).
    q("j2_left_outer",
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS spend
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val c = t(s, dir)("customer")
      val o = t(s, dir)("orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice").cast(dec18_2)), lit(0)).cast(DoubleType).as("spend"))
        .orderBy("c_custkey")
    },

    // RIGHT OUTER: lineitem right-joined to orders — preserves orders
    // with no (filtered) lineitems, null-padded left side.
    q("j3_right_outer",
      """SELECT o_orderkey, count(l_linenumber) AS n_lines
        |FROM (SELECT * FROM lineitem WHERE l_quantity > 48) l
        |RIGHT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o_orderkey
        |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
      val l = t(s, dir)("lineitem").filter(col("l_quantity") > 48)
      val o = t(s, dir)("orders")
      l.join(o, l("l_orderkey") === o("o_orderkey"), "right")
        .groupBy("o_orderkey")
        .agg(count(col("l_linenumber")).as("n_lines"))
        .orderBy("o_orderkey")
    },

    // FULL OUTER on asymmetric filters: both null-padded directions.
    q("j4_full_outer",
      """SELECT
        |  coalesce(a.o_orderkey, b.l_orderkey) AS okey,
        |  CAST(a.o_totalprice AS DECIMAL(18,2)) AS totalprice,
        |  b.n_hi_qty
        |FROM (SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000) a
        |FULL JOIN (SELECT l_orderkey, count(*) AS n_hi_qty FROM lineitem WHERE l_quantity >= 49 GROUP BY l_orderkey) b
        |  ON a.o_orderkey = b.l_orderkey
        |ORDER BY okey NULLS FIRST, totalprice NULLS FIRST, n_hi_qty NULLS FIRST""".stripMargin) { (s, dir) =>
      val a = t(s, dir)("orders").filter(col("o_totalprice") > 400000)
        .select("o_orderkey", "o_totalprice")
      val b = t(s, dir)("lineitem").filter(col("l_quantity") >= 49)
        .groupBy("l_orderkey").agg(count(lit(1)).as("n_hi_qty"))
      a.join(b, a("o_orderkey") === b("l_orderkey"), "full")
        .select(
          coalesce(col("o_orderkey"), col("l_orderkey")).as("okey"),
          col("o_totalprice").cast(dec18_2).as("totalprice"),
          col("n_hi_qty"))
        .orderBy(asc_nulls_first("okey"), asc_nulls_first("totalprice"), asc_nulls_first("n_hi_qty"))
    },

    // LEFT SEMI (EXISTS): suppliers having a high-value shipment.
    q("j5_semi_join",
      """SELECT s_suppkey, s_name
        |FROM supplier s
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_suppkey = s.s_suppkey AND l.l_extendedprice > 80000)
        |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
      val sup = t(s, dir)("supplier")
      val l = t(s, dir)("lineitem").filter(col("l_extendedprice") > 80000)
      sup.join(l, sup("s_suppkey") === l("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    },

    // LEFT ANTI (NOT EXISTS): parts never shipped.
    q("j6_anti_join",
      """SELECT p_partkey, p_name
        |FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_partkey = p.p_partkey
        |                    AND year(l.l_shipdate) = 1996)
        |ORDER BY p_partkey""".stripMargin) { (s, dir) =>
      // scoped to one shipment year so the anti join keeps a non-empty
      // result at every SF (every part ships at least once overall).
      val p = t(s, dir)("part")
      val l = t(s, dir)("lineitem").filter(year(col("l_shipdate")) === 1996)
      p.join(l, p("p_partkey") === l("l_partkey"), "left_anti")
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    },

    // Broadcast dim enrichment (lookup-join analog, SURVEY §2.3
    // lookup join → broadcast snapshot of the dimension table).
    q("j7_broadcast_lookup",
      """SELECT n_name, r_name, count(*) AS n_cust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY n_name, r_name
        |ORDER BY n_name, r_name""".stripMargin) { (s, dir) =>
      val c = t(s, dir)("customer")
      val n = t(s, dir)("nation")
      val r = t(s, dir)("region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name", "r_name")
        .agg(
          count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast(dec18_2)).cast(DoubleType).as("total_bal"))
        .orderBy("n_name", "r_name")
    },

    // CROSS join (BatchExecNestedLoopJoin, singleton distribution).
    q("j8_cross_join",
      """SELECT r1.r_name AS from_region, r2.r_name AS to_region
        |FROM region r1 CROSS JOIN region r2
        |WHERE r1.r_regionkey <> r2.r_regionkey
        |ORDER BY from_region, to_region""".stripMargin) { (s, dir) =>
      val r1 = t(s, dir)("region").select(col("r_regionkey").as("k1"), col("r_name").as("from_region"))
      val r2 = t(s, dir)("region").select(col("r_regionkey").as("k2"), col("r_name").as("to_region"))
      r1.crossJoin(r2)
        .filter(col("k1") =!= col("k2"))
        .select("from_region", "to_region")
        .orderBy("from_region", "to_region")
    },

    // Theta join: supplier pairs in the same nation with strictly
    // increasing acctbal. The equi component (nationkey) lets Spark
    // hash/sort-merge partition; the acctbal theta rides as a join
    // filter — no broadcast pin needed on the SF-scaling side.
    q("j9_theta_join",
      """SELECT a.s_suppkey AS sk1, b.s_suppkey AS sk2
        |FROM supplier a JOIN supplier b
        |  ON a.s_nationkey = b.s_nationkey AND a.s_acctbal < b.s_acctbal
        |ORDER BY sk1, sk2""".stripMargin) { (s, dir) =>
      val a = t(s, dir)("supplier").select(
        col("s_suppkey").as("sk1"), col("s_nationkey").as("nk1"), col("s_acctbal").as("bal1"))
      val b = t(s, dir)("supplier").select(
        col("s_suppkey").as("sk2"), col("s_nationkey").as("nk2"), col("s_acctbal").as("bal2"))
      a.join(b, col("nk1") === col("nk2") && col("bal1") < col("bal2"))
        .select("sk1", "sk2")
        .orderBy("sk1", "sk2")
    },

    // Interval join (StreamExecIntervalJoin semantics, batch form):
    // purchase within 1 hour after a signup by the same user.
    q("j10_interval_join",
      """SELECT a.event_id AS signup_id, b.event_id AS purchase_id,
        |  a.ts AS signup_ts, b.ts AS purchase_ts
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'signup' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY signup_id, purchase_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir)("events")
      val a = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id").as("u1"), col("ts").as("signup_ts"))
      val b = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("u2"), col("ts").as("purchase_ts"))
      a.join(b,
          col("u1") === col("u2") &&
          col("purchase_ts") >= col("signup_ts") &&
          col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 1 HOUR"))
        .select("signup_id", "purchase_id", "signup_ts", "purchase_ts")
        .orderBy("signup_id", "purchase_id")
    },

    // Outer interval join: every signup, null-padded when no purchase
    // follows within the hour (TimeIntervalJoin outer variant).
    q("j12_interval_outer",
      """SELECT a.event_id AS signup_id, b.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'signup') a
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        |  ON a.user_id = b.user_id
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |ORDER BY signup_id, purchase_id NULLS FIRST""".stripMargin) { (s, dir) =>
      val e = t(s, dir)("events")
      val a = e.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id").as("u1"), col("ts").as("a_ts"))
      val b = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id").as("u2"), col("ts").as("b_ts"))
      a.join(b,
          col("u1") === col("u2") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("INTERVAL 1 HOUR"), "left")
        .select("signup_id", "purchase_id")
        .orderBy(col("signup_id"), asc_nulls_first("purchase_id"))
    },

    // Null semantics battery: null-producing outer join, null-safe
    // equality (<=>), count(*) vs count(col) (nullData fixtures
    // semantics, SURVEY §5).
    q("j13_null_semantics",
      """WITH lo AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_totalprice > 300000 THEN o_custkey END AS maybe_cust
        |  FROM orders WHERE o_orderkey <= 2000),
        |agg AS (
        |  SELECT maybe_cust, count(*) AS n_all, count(maybe_cust) AS n_nonnull
        |  FROM lo GROUP BY maybe_cust)
        |SELECT a.maybe_cust IS NULL AS is_null_group,
        |  count(*) AS n_groups,
        |  CAST(sum(a.n_all) AS BIGINT) AS rows_all,
        |  CAST(sum(a.n_nonnull) AS BIGINT) AS rows_nonnull,
        |  CAST(sum(CASE WHEN a.maybe_cust IS NOT DISTINCT FROM b.maybe_cust THEN 1 ELSE 0 END) AS BIGINT) AS selfmatch
        |FROM agg a JOIN agg b ON a.maybe_cust IS NOT DISTINCT FROM b.maybe_cust
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val lo = t(s, dir)("orders").filter(col("o_orderkey") <= 2000)
        .select(col("o_orderkey"),
          when(col("o_totalprice") > 300000, col("o_custkey")).as("maybe_cust"))
      val agg = lo.groupBy("maybe_cust")
        .agg(count(lit(1)).as("n_all"), count(col("maybe_cust")).as("n_nonnull"))
      val a = agg.select(col("maybe_cust").as("mc_a"), col("n_all"), col("n_nonnull"))
      val b = agg.select(col("maybe_cust").as("mc_b"))
      a.join(b, col("mc_a") <=> col("mc_b"))
        .groupBy(col("mc_a").isNull.as("is_null_group"))
        .agg(count(lit(1)).as("n_groups"), sum("n_all").as("rows_all"),
          sum("n_nonnull").as("rows_nonnull"),
          sum(when(col("mc_a") <=> col("mc_b"), 1).otherwise(0)).as("selfmatch"))
        .orderBy("is_null_group")
    },

    // As-of (temporal) join, batch form — for each purchase, the most
    // recent signup of the same user at-or-before it. Implemented
    // scale-first: union both sides, ONE window sort per user (linear,
    // single shuffle), carry the latest signup forward — not a
    // quadratic self-join. Ref: TemporalRowTimeJoinOperator.java:70.
    q("j11_asof_join",
      """SELECT p.event_id AS purchase_id, p.ts AS purchase_ts,
        |  s.ts AS signup_ts, s.event_id AS signup_id
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON p.user_id = s.user_id AND p.ts >= s.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      graft.operators.AsOfJoin.batch(
        left = t(s, dir)("events").filter(col("event_type") === "purchase"),
        right = t(s, dir)("events").filter(col("event_type") === "signup"),
        keyCol = "user_id", timeCol = "ts", tieBreakCol = "event_id")
        .select(
          col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
          col("_asof_ts").as("signup_ts"), col("_asof_event_id").as("signup_id"))
        .orderBy("purchase_id")
    },

    // Window join (the reference's DataStream join(...).window(tumble)
    // — JoinedStreams.java / WindowJoin example): views joined to
    // purchases of the same user landing in the SAME 1-hour tumbling
    // window. Spark-first: the window assignment becomes part of the
    // equi-join key — (user, window) — so the plan is a plain shuffled
    // hash join on a composite key, never a time-range probe.
    q("j14_window_join",
      """SELECT v.user_id, date_trunc('hour', v.ts) AS wstart,
        |  v.event_id AS view_id, p.event_id AS purchase_id
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND date_trunc('hour', v.ts) = date_trunc('hour', p.ts)
        |ORDER BY view_id, purchase_id""".stripMargin) { (s, dir) =>
      val e = t(s, dir)("events")
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), date_trunc("hour", col("ts")).as("wstart"),
          col("event_id").as("view_id"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"),
          date_trunc("hour", col("ts")).as("p_w"),
          col("event_id").as("purchase_id"))
      v.join(p, col("user_id") === col("p_user") && col("wstart") === col("p_w"))
        .select("user_id", "wstart", "view_id", "purchase_id")
        .orderBy("view_id", "purchase_id")
    },

    // Temporal join through SQL TEXT — the reference's exact
    // `FOR SYSTEM_TIME AS OF` syntax (SqlSnapshot →
    // LogicalCorrelateToJoinFromTemporalTableRule.scala:34), planned
    // here by GraftSqlParser (text → hinted shape, rowtime from the
    // versioned table's DDL WATERMARK) + AsOfJoinRule (hinted join →
    // union + single window pass, one shuffle — see
    // plans/AsOfJoinRule.scala). For each purchase: the user's latest
    // activity at least 1s older. Only the matched rowtime is emitted,
    // so equal-timestamp version ties cannot flake the hash.
    q("j15_asof_sql",
      """SELECT p.event_id AS purchase_id, p.ts AS purchase_ts, s.ts AS prior_ts
        |FROM (SELECT *, ts - INTERVAL 1 SECOND AS cutoff FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF JOIN events s
        |  ON p.user_id = s.user_id AND p.cutoff >= s.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      t(s, dir)("events").filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("ts") - expr("INTERVAL 1 SECOND")).as("cutoff"))
        .createOrReplaceTempView("purchases_vt")
      // the physical ts shape varies across data-generation rounds
      // (INT64 nanos-as-long / TIMESTAMP_NTZ / session-zoned — the
      // same three cases Tables.normalizeEventTs tolerates), so the
      // DDL's declared type and rowtime expression are derived from
      // the actual parquet footer rather than hardcoded
      val (tsDdl, rowtimeExpr) =
        Tables.schemaOf(s, s"$dir/events.parquet")("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            ("BIGINT", "TIMESTAMP_MICROS(ts div 1000)")
          case org.apache.spark.sql.types.TimestampNTZType =>
            ("TIMESTAMP_NTZ", "CAST(ts AS TIMESTAMP)")
          case _ => ("TIMESTAMP", "ts")
        }
      graft.sources.GraftDDL.execute(s,
        s"""CREATE TABLE events_vt (
           |  event_id BIGINT, ts $tsDdl, user_id BIGINT,
           |  event_type STRING, value DOUBLE, props STRING,
           |  rowtime AS $rowtimeExpr,
           |  WATERMARK FOR rowtime AS rowtime - INTERVAL '0' SECOND
           |) WITH ('connector'='filesystem',
           |        'path'='$dir/events.parquet', 'format'='parquet')""".stripMargin)
      s.sql(
        """SELECT p.event_id AS purchase_id, p.ts AS purchase_ts,
          |       r.rowtime AS prior_ts
          |FROM purchases_vt p
          |JOIN events_vt FOR SYSTEM_TIME AS OF p.cutoff r
          |  ON p.user_id = r.user_id
          |ORDER BY purchase_id""".stripMargin)
    },

    // The reference's OTHER temporal-join spelling: a temporal table
    // FUNCTION applied as a correlate, `FROM o, LATERAL TABLE
    // (Rates(o.ts)) r WHERE o.k = r.k`
    // (TemporalTableFunction.java:36; converted by
    // LogicalCorrelateToJoinFromTemporalTableFunctionRule.scala:40).
    // GraftSqlParser rewrites the correlate to the hinted as-of shape
    // and AsOfJoinRule consumes the WHERE key equality from the
    // Filter above the join — same single-window-pass plan, same
    // oracle as j15.
    q("j16_temporal_fn_sql",
      """SELECT p.event_id AS purchase_id, p.ts AS purchase_ts, s.ts AS prior_ts
        |FROM (SELECT *, ts - INTERVAL 1 SECOND AS cutoff FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF JOIN events s
        |  ON p.user_id = s.user_id AND p.cutoff >= s.ts
        |ORDER BY purchase_id""".stripMargin) { (s, dir) =>
      t(s, dir)("events").filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          (col("ts") - expr("INTERVAL 1 SECOND")).as("cutoff"))
        .createOrReplaceTempView("purchases_vt16")
      val (tsDdl, rowtimeExpr) =
        Tables.schemaOf(s, s"$dir/events.parquet")("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            ("BIGINT", "TIMESTAMP_MICROS(ts div 1000)")
          case org.apache.spark.sql.types.TimestampNTZType =>
            ("TIMESTAMP_NTZ", "CAST(ts AS TIMESTAMP)")
          case _ => ("TIMESTAMP", "ts")
        }
      graft.sources.GraftDDL.execute(s,
        s"""CREATE TABLE events_vt16 (
           |  event_id BIGINT, ts $tsDdl, user_id BIGINT,
           |  event_type STRING, value DOUBLE, props STRING,
           |  rowtime AS $rowtimeExpr,
           |  WATERMARK FOR rowtime AS rowtime - INTERVAL '0' SECOND
           |) WITH ('connector'='filesystem',
           |        'path'='$dir/events.parquet', 'format'='parquet')""".stripMargin)
      graft.sources.TemporalTableFunctions.register(
        "ev_versions16", "events_vt16", "rowtime", "user_id")
      s.sql(
        """SELECT p.event_id AS purchase_id, p.ts AS purchase_ts,
          |       r.rowtime AS prior_ts
          |FROM purchases_vt16 p, LATERAL TABLE (ev_versions16(p.cutoff)) AS r
          |WHERE p.user_id = r.user_id
          |ORDER BY purchase_id""".stripMargin)
    })
}
