package graft

import graft.sources.{GroupWindowSql, SqlText}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The consolidated SQL front-end (SqlText lexer + the rewrites built
  * on it): shapes the round-6 regex front-end mis-lexed — quoted
  * identifiers, keywords inside string literals, comments between
  * keywords — plus the group-window text surface end-to-end.
  */
class SqlTextSpec extends AnyFunSuite {
  lazy val spark: SparkSession = StreamHarness.spark

  // ---- lexer ----

  test("lexer: strings, quoted identifiers, comments, hints, offsets") {
    val sql = """SELECT /*+ BROADCAST(t) */ "a b", `x``y`, 'it''s' -- tail
                |FROM t /* block
                |comment */ WHERE n = 1.5e3""".stripMargin
    val toks = SqlText.lex(sql)
    assert(toks.exists(t => t.kind == SqlText.Hint && t.text.contains("BROADCAST")))
    val q = toks.filter(_.kind == SqlText.QIdent)
    assert(q.map(_.ident) == Seq("a b", "x`y"), q.map(_.ident))
    val s = toks.find(_.kind == SqlText.Str).get
    assert(s.text == "'it''s'")
    // comments gone
    assert(!toks.exists(t => t.text.contains("tail") || t.text.contains("comment")))
    assert(toks.exists(t => t.kind == SqlText.Num && t.text == "1.5e3"))
    // offsets reconstruct the original text exactly
    toks.foreach(t => assert(sql.substring(t.start, t.end) == t.text))
    // unterminated forms fail loudly
    intercept[RuntimeException](SqlText.lex("SELECT 'open"))
    intercept[RuntimeException](SqlText.lex("SELECT /* open"))
  }

  test("splice: non-overlapping edits keep surrounding text byte-for-byte") {
    val sql = "SELECT a, b FROM t"
    val toks = SqlText.lex(sql)
    val b = toks.find(_.text == "b").get
    val out = SqlText.splice(sql, Seq(SqlText.Splice(b.start, b.end, "c")))
    assert(out == "SELECT a, c FROM t")
    intercept[IllegalArgumentException](SqlText.splice(sql,
      Seq(SqlText.Splice(0, 8, "x"), SqlText.Splice(7, 9, "y"))))
  }

  // ---- temporal-join rewrite on the token model ----

  test("temporal rewrite survives comments and case the regexes would mis-lex") {
    import spark.implicits._
    Seq((1L, 1L)).toDF("k", "rt").createOrReplaceTempView("vt_lex_spec")
    graft.sources.GraftDDL.execute(spark,
      s"""CREATE TABLE vt_lex (k BIGINT, rt TIMESTAMP,
         |  WATERMARK FOR rt AS rt - INTERVAL '0' SECOND
         |) WITH ('connector'='filesystem',
         |        'path'='${java.nio.file.Files.createTempDirectory("vtlex")}',
         |        'format'='parquet')""".stripMargin)
    val p = new graft.sources.GraftSqlParser(spark.sessionState.sqlParser)
    // a line comment between JOIN keywords — fatal to a \s-based regex
    val sql =
      """SELECT p.k FROM probe p
        |JOIN vt_lex -- versioned side
        |  FOR SYSTEM_TIME AS OF p.ts AS r ON p.k = r.k""".stripMargin
    val out = p.rewriteTemporal(sql)
    assert(out.contains("ASOF_JOIN(rt)"), out)
    assert(out.contains("r.rt <= p.ts"), out)
    // correlated phrase inside a string literal: untouched now
    val lit = "SELECT 'JOIN x FOR SYSTEM_TIME AS OF a.b AS r ON' AS s"
    assert(p.rewriteTemporal(lit) == lit)
  }

  // ---- group-window SQL text ----

  test("TUMBLE/HOP/SESSION text rewrites to window()/session_window()") {
    val t = GroupWindowSql.rewrite(
      "SELECT TUMBLE_START(ts, INTERVAL '10' MINUTE) AS ws, count(*) AS n " +
        "FROM t GROUP BY TUMBLE(ts, INTERVAL '10' MINUTE)")
    assert(t.contains("GROUP BY window(ts, '10 minute')"), t)
    assert(t.contains("window.start AS ws"), t)
    val h = GroupWindowSql.rewrite(
      "SELECT HOP_END(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE) AS we " +
        "FROM t GROUP BY HOP(ts, INTERVAL '5' MINUTE, INTERVAL '10' MINUTE)")
    // HOP is (time, slide, size); Spark window() is (time, size, slide)
    assert(h.contains("window(ts, '10 minute', '5 minute')"), h)
    assert(h.contains("window.end AS we"), h)
    val se = GroupWindowSql.rewrite(
      "SELECT SESSION_START(ts, INTERVAL '30' SECOND) AS ss " +
        "FROM t GROUP BY k, SESSION(ts, INTERVAL '30' SECOND)")
    assert(se.contains("session_window(ts, '30 second')"), se)
    assert(se.contains("session_window.start AS ss"), se)
    val rt = GroupWindowSql.rewrite(
      "SELECT TUMBLE_ROWTIME(ts, INTERVAL '1' HOUR) AS rt FROM t " +
        "GROUP BY TUMBLE(ts, INTERVAL '1' HOUR)")
    assert(rt.contains("window.end - INTERVAL '0.001' SECOND AS rt"), rt)
    // no group-window mention → identity (fast path)
    val plain = "SELECT a FROM t GROUP BY a"
    assert(GroupWindowSql.rewrite(plain) eq plain)
    // proctime auxiliaries map to the window end (r10)
    assert(GroupWindowSql.rewrite(
      "SELECT TUMBLE_PROCTIME(ts, INTERVAL '1' HOUR) FROM t")
      == "SELECT window.end FROM t")
    // a column merely NAMED session/hop is untouched
    val col = "SELECT session, hop FROM t"
    assert(GroupWindowSql.rewrite(col) == col)
  }

  test("group-window SQL text executes through spark.sql (parser-injected)") {
    import spark.implicits._
    Seq(
      (1L, "2024-01-01 00:03:00", 2.0),
      (1L, "2024-01-01 00:07:00", 3.0),
      (1L, "2024-01-01 00:12:00", 5.0),
      (2L, "2024-01-01 00:04:00", 7.0))
      .toDF("k", "tss", "v")
      .selectExpr("k", "CAST(tss AS TIMESTAMP) AS ts", "v")
      .createOrReplaceTempView("gw_sql_spec")
    val out = spark.sql(
      """SELECT k, TUMBLE_START(ts, INTERVAL '10' MINUTE) AS ws,
        |       TUMBLE_END(ts, INTERVAL '10' MINUTE) AS we,
        |       TUMBLE_ROWTIME(ts, INTERVAL '10' MINUTE) AS rt,
        |       sum(v) AS sv
        |FROM gw_sql_spec
        |GROUP BY k, TUMBLE(ts, INTERVAL '10' MINUTE)
        |ORDER BY k, ws""".stripMargin).collect()
    assert(out.length == 3, out.mkString("\n"))
    val r0 = out(0)
    assert(r0.getLong(0) == 1L && r0.getDouble(4) == 5.0)
    assert(r0.getTimestamp(1).toString.startsWith("2024-01-01 00:00"))
    assert(r0.getTimestamp(2).toString.startsWith("2024-01-01 00:10"))
    // rowtime = end − 1ms
    assert(r0.getTimestamp(3).getTime == r0.getTimestamp(2).getTime - 1)
    assert(out(1).getDouble(4) == 5.0 && out(2).getDouble(4) == 7.0)
  }

  test("TUMBLE windowing-TVF rewrites to a window-struct subquery") {
    val t = GroupWindowSql.rewrite(
      "SELECT window_start, count(*) AS n FROM " +
        "TABLE(TUMBLE(TABLE src, DESCRIPTOR(ts), INTERVAL '10' MINUTE)) " +
        "GROUP BY window_start")
    assert(t.contains("window(ts, '10 minute').start AS window_start"), t)
    assert(t.contains("FROM src)"), t)
    // executes end-to-end through spark.sql
    import spark.implicits._
    Seq((1L, "2024-01-01 00:03:00"), (1L, "2024-01-01 00:12:00"))
      .toDF("k", "tss").selectExpr("k", "CAST(tss AS TIMESTAMP) AS ts")
      .createOrReplaceTempView("tvf_spec")
    val rows = spark.sql(
      """SELECT window_start, window_end, window_time, count(*) AS n
        |FROM TABLE(TUMBLE(TABLE tvf_spec, DESCRIPTOR(ts), INTERVAL '10' MINUTE))
        |GROUP BY window_start, window_end, window_time
        |ORDER BY window_start""".stripMargin).collect()
    assert(rows.length == 2)
    assert(rows(0).getTimestamp(0).toString.startsWith("2024-01-01 00:00"))
    // window_time = end − 1ms (the TVF's rowtime column)
    assert(rows(0).getTimestamp(2).getTime == rows(0).getTimestamp(1).getTime - 1)
  }

  test("SESSION windowing-TVF: gap merge incl. boundary and ties, per key") {
    import spark.implicits._
    // key 1: 00:00, 00:05(=gap boundary → merges), 00:05 (tie),
    //        00:10:01 (> gap after 00:05 → new session)
    // key 2: 00:03 alone
    Seq(
      (1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:05:00"),
      (1L, "2024-01-01 00:05:00"), (1L, "2024-01-01 00:10:01"),
      (2L, "2024-01-01 00:03:00"))
      .toDF("k", "tss").selectExpr("k", "CAST(tss AS TIMESTAMP) AS ts")
      .createOrReplaceTempView("sess_tvf_spec")
    val rows = spark.sql(
      """SELECT k, window_start, window_end, count(*) AS n
        |FROM TABLE(SESSION(TABLE sess_tvf_spec PARTITION BY k,
        |                   DESCRIPTOR(ts), INTERVAL '5' MINUTE))
        |GROUP BY k, window_start, window_end
        |ORDER BY k, window_start""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString.take(19),
        r.getTimestamp(2).toString.take(19), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, "2024-01-01 00:00:00", "2024-01-01 00:10:00", 3L),
      (1L, "2024-01-01 00:10:01", "2024-01-01 00:15:01", 1L),
      (2L, "2024-01-01 00:03:00", "2024-01-01 00:08:00", 1L)), rows.toSeq)
    // row-level output keeps the source columns and appends the
    // window triple; window_time = end − 1ms
    val row = spark.sql(
      """SELECT k, ts, window_start, window_end, window_time
        |FROM TABLE(SESSION(TABLE sess_tvf_spec PARTITION BY k,
        |                   DESCRIPTOR(ts), INTERVAL '5' MINUTE))
        |WHERE k = 2""".stripMargin).collect()
    assert(row.length == 1)
    assert(row(0).getTimestamp(4).getTime == row(0).getTimestamp(3).getTime - 1)
    // keyless SESSION: one global timeline
    val global = spark.sql(
      """SELECT window_start, count(*) AS n
        |FROM TABLE(SESSION(TABLE sess_tvf_spec, DESCRIPTOR(ts),
        |                   INTERVAL '5' MINUTE))
        |GROUP BY window_start ORDER BY window_start""".stripMargin).collect()
    // 00:00..00:05,00:05,00:03 chain; 00:10:01 > 00:05+5m → second session
    assert(global.map(_.getLong(1)).toSeq == Seq(4L, 1L), global.toSeq)
  }

  test("HOP windowing-TVF replicates each row into ceil(size/slide) windows") {
    import spark.implicits._
    // rows at :03 and :12; slide 5 min, size 10 min → each row in 2 windows
    Seq((1L, "2024-01-01 00:03:00"), (2L, "2024-01-01 00:12:00"))
      .toDF("k", "tss").selectExpr("k", "CAST(tss AS TIMESTAMP) AS ts")
      .createOrReplaceTempView("hop_tvf_spec")
    val rows = spark.sql(
      """SELECT k, window_start, window_end, window_time
        |FROM TABLE(HOP(TABLE hop_tvf_spec, DESCRIPTOR(ts),
        |               INTERVAL '5' MINUTE, INTERVAL '10' MINUTE))
        |ORDER BY k, window_start""".stripMargin).collect()
    def m(s: String) = java.sql.Timestamp.valueOf(s)
    // windows CONTAINING each row: starts are the slide multiples s
    // with s <= ts < s + size (ts=:03 → 23:55 and 00:00)
    assert(rows.map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSeq ==
      Seq(
        (1L, m("2023-12-31 23:55:00"), m("2024-01-01 00:05:00")),
        (1L, m("2024-01-01 00:00:00"), m("2024-01-01 00:10:00")),
        (2L, m("2024-01-01 00:05:00"), m("2024-01-01 00:15:00")),
        (2L, m("2024-01-01 00:10:00"), m("2024-01-01 00:20:00"))),
      rows.toSeq)
    // window_time = end − 1ms, and the TVF output contains no helper cols
    assert(rows(0).getTimestamp(3).getTime == rows(0).getTimestamp(2).getTime - 1)
    val cols = spark.sql(
      """SELECT * FROM TABLE(HOP(TABLE hop_tvf_spec, DESCRIPTOR(ts),
        |               INTERVAL '5' MINUTE, INTERVAL '10' MINUTE))""".stripMargin).columns
    assert(cols.toSeq == Seq("k", "ts", "window_start", "window_end", "window_time"), cols.toSeq)
    // non-divisible size/slide: slide 5, size 7 → ceil = 2 candidates,
    // the out-of-range one is filtered (row at :03 is NOT in [:05,:12))
    val nd = spark.sql(
      """SELECT k, window_start FROM TABLE(HOP(TABLE hop_tvf_spec, DESCRIPTOR(ts),
        |               INTERVAL '5' MINUTE, INTERVAL '7' MINUTE))
        |WHERE k = 1 ORDER BY window_start""".stripMargin).collect()
    assert(nd.map(_.getTimestamp(1)).toSeq ==
      Seq(m("2024-01-01 00:00:00")), nd.toSeq)
  }

  test("CUMULATE windowing-TVF: cumulative ends from the max-aligned start") {
    import spark.implicits._
    // rows at :03 and :12; step 5 min, max 15 min → max-aligned start
    // W = :00; row :03 → ends :05, :10, :15; row :12 → end :15 only
    Seq((1L, "2024-01-01 00:03:00"), (2L, "2024-01-01 00:12:00"))
      .toDF("k", "tss").selectExpr("k", "CAST(tss AS TIMESTAMP) AS ts")
      .createOrReplaceTempView("cum_tvf_spec")
    val rows = spark.sql(
      """SELECT k, window_start, window_end, window_time
        |FROM TABLE(CUMULATE(TABLE cum_tvf_spec, DESCRIPTOR(ts),
        |               INTERVAL '5' MINUTE, INTERVAL '15' MINUTE))
        |ORDER BY k, window_end""".stripMargin).collect()
    def m(s: String) = java.sql.Timestamp.valueOf(s)
    assert(rows.map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2))).toSeq ==
      Seq(
        (1L, m("2024-01-01 00:00:00"), m("2024-01-01 00:05:00")),
        (1L, m("2024-01-01 00:00:00"), m("2024-01-01 00:10:00")),
        (1L, m("2024-01-01 00:00:00"), m("2024-01-01 00:15:00")),
        (2L, m("2024-01-01 00:00:00"), m("2024-01-01 00:15:00"))),
      rows.toSeq)
    // window_time = end − 1ms
    assert(rows(0).getTimestamp(3).getTime == rows(0).getTimestamp(2).getTime - 1)
    // max not an integral multiple of step → loud (the reference's rule)
    intercept[RuntimeException](spark.sql(
      """SELECT * FROM TABLE(CUMULATE(TABLE cum_tvf_spec, DESCRIPTOR(ts),
        |               INTERVAL '5' MINUTE, INTERVAL '7' MINUTE))""".stripMargin))
    // there is no GROUP BY CUMULATE legacy form → loud toward the TVF
    intercept[RuntimeException](GroupWindowSql.rewrite(
      "SELECT count(*) FROM t GROUP BY CUMULATE(ts, " +
        "INTERVAL '5' MINUTE, INTERVAL '15' MINUTE)"))
  }

  test("LATERAL TABLE temporal-function correlate: rewrite, WHERE keys, residuals") {
    import graft.sources.{GraftSqlParser, TemporalTableFunctions}
    val p = new GraftSqlParser(
      spark.sessionState.sqlParser.asInstanceOf[
        org.apache.spark.sql.catalyst.parser.ParserInterface])
    // unregistered name fails loudly toward LATERAL VIEW explode
    val e = intercept[RuntimeException](p.rewriteLateralTemporal(
      "SELECT * FROM o, LATERAL TABLE (nope(o.ts)) AS r"))
    assert(e.getMessage.contains("not a registered temporal table"), e.getMessage)
    // registered: the comma correlate becomes the hinted as-of join text
    TemporalTableFunctions.register("lat_rates", "rates_t", "rowtime", "cur")
    val t = p.rewriteLateralTemporal(
      "SELECT o.id, r.rate FROM o, LATERAL TABLE (lat_rates(o.ts)) AS r " +
        "WHERE o.cur = r.cur")
    assert(t.contains("/*+ ASOF_JOIN(rowtime) */"), t)
    assert(t.contains("JOIN rates_t AS r ON r.rowtime <= o.ts"), t)
    assert(!t.toUpperCase.contains("LATERAL"), t)
    // end-to-end: keys from WHERE consumed, residual predicate kept
    import spark.implicits._
    Seq((1L, "2024-01-01 00:05:00", "EUR", 1.1),
        (2L, "2024-01-01 00:20:00", "EUR", 1.2),
        (3L, "2024-01-01 00:05:00", "JPY", 150.0))
      .toDF("vid", "tss", "cur", "rate")
      .selectExpr("vid", "CAST(tss AS TIMESTAMP) AS rowtime", "cur", "rate")
      .createOrReplaceTempView("lat_rates_t")
    Seq((10L, "2024-01-01 00:10:00", "EUR", 5.0),
        (11L, "2024-01-01 00:30:00", "EUR", 50.0),
        (12L, "2024-01-01 00:30:00", "JPY", 7.0))
      .toDF("oid", "tss", "cur", "amount")
      .selectExpr("oid", "CAST(tss AS TIMESTAMP) AS ots", "cur", "amount")
      .createOrReplaceTempView("lat_orders_t")
    TemporalTableFunctions.register("lat_rates2", "lat_rates_t", "rowtime", "cur")
    val out = spark.sql(
      """SELECT o.oid, r.vid, r.rate
        |FROM lat_orders_t o, LATERAL TABLE (lat_rates2(o.ots)) AS r
        |WHERE o.cur = r.cur AND o.amount > 6
        |ORDER BY o.oid""".stripMargin).collect()
    // amount > 6 residual keeps only orders 11 (EUR@00:30 → version 2)
    // and 12 (JPY@00:30 → version 3); order 10 is filtered, order 11
    // matches the LATEST version ≤ its time, not every version
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((11L, 2L, 1.2), (12L, 3L, 150.0)), out.toSeq)
    // CTE form: the ASOF hint must land on the SELECT of the block
    // CONTAINING the correlate, not the query's first SELECT (which
    // here heads the CTE body)
    val cte = p.rewriteLateralTemporal(
      """WITH big AS (SELECT oid, ots, cur, amount FROM lat_orders_t
        |             WHERE amount > 6)
        |SELECT o.oid, r.vid FROM big o, LATERAL TABLE (lat_rates2(o.ots)) AS r
        |WHERE o.cur = r.cur""".stripMargin)
    assert(!cte.contains("WITH big AS (SELECT /*+"), cte)
    assert(cte.contains("\nSELECT /*+ ASOF_JOIN(rowtime) */ o.oid"), cte)
    val cteOut = spark.sql(
      """WITH big AS (SELECT oid, ots, cur, amount FROM lat_orders_t
        |             WHERE amount > 6)
        |SELECT o.oid, r.vid FROM big o, LATERAL TABLE (lat_rates2(o.ots)) AS r
        |WHERE o.cur = r.cur ORDER BY o.oid""".stripMargin).collect()
    assert(cteOut.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((11L, 2L), (12L, 3L)), cteOut.toSeq)
  }

  test("SIMILAR TO: translation table, operator rewrite, end-to-end semantics") {
    import graft.functions.GraftStrings
    // % / _ translate; SIMILAR's literal metachars are escaped; its own
    // regex operators pass; classes keep %/_ literal; ESCAPE works
    assert(GraftStrings.similarRegex("%(ab|cd)_", -1) == ".*(ab|cd).")
    assert(GraftStrings.similarRegex("a.b", -1) == "a\\.b")
    assert(GraftStrings.similarRegex("[%_]x", -1) == "[%_]x")
    assert(GraftStrings.similarRegex("100!%", '!') == "100%")
    assert(GraftStrings.similarRegex("a{2,3}b+", -1) == "a{2,3}b+")
    // operator text rewrite shapes
    import graft.sources.GraftSqlParser
    val p = new GraftSqlParser(
      spark.sessionState.sqlParser.asInstanceOf[
        org.apache.spark.sql.catalyst.parser.ParserInterface])
    assert(p.rewriteSimilar("SELECT a SIMILAR TO 'x%' FROM t") ==
      "SELECT similar_to(a, 'x%') FROM t")
    assert(p.rewriteSimilar("SELECT t.a NOT SIMILAR TO 'x' FROM t") ==
      "SELECT NOT similar_to(t.a, 'x') FROM t")
    assert(p.rewriteSimilar("SELECT lower(a) SIMILAR TO 'x' FROM t") ==
      "SELECT similar_to(lower(a), 'x') FROM t")
    assert(p.rewriteSimilar("SELECT (a || b) SIMILAR TO 'x' ESCAPE '!' FROM t") ==
      "SELECT similar_to((a || b), 'x', '!') FROM t")
    // a string containing the phrase is untouched
    val s0 = "SELECT 'not SIMILAR TO anything' FROM t"
    assert(p.rewriteSimilar(s0) == s0)
    // end-to-end through spark.sql: whole-string semantics
    val r = spark.sql(
      "SELECT 'abcd' SIMILAR TO 'ab%', 'abcd' SIMILAR TO 'ab', " +
        "'a.d' SIMILAR TO 'a.d', 'axd' SIMILAR TO 'a.d', " +
        "'50%' SIMILAR TO '50!%' ESCAPE '!', " +
        "'ab' SIMILAR TO '(ab|cd)'").head
    assert(r.getBoolean(0)); assert(!r.getBoolean(1))
    assert(r.getBoolean(2)); assert(!r.getBoolean(3))
    assert(r.getBoolean(4)); assert(r.getBoolean(5))
  }

  test("IS JSON family: reference JsonFunctionsTest vectors through SQL text") {
    // verifyPredicates rows from the reference's JsonFunctionsTest.scala:
    // (value, object, array, scalar) per candidate
    val cases = Seq(
      ("'{}'", Seq(true, true, false, false)),
      ("'[]'", Seq(true, false, true, false)),
      ("'100'", Seq(true, false, false, true)),
      ("'{]'", Seq(false, false, false, false)),
      ("'This is a test String.'", Seq(false, false, false, false)),
      ("'{ \"name\" : \"flink\" }'", Seq(true, true, false, false)))
    for ((cand, exp) <- cases) {
      val r = spark.sql(
        s"SELECT $cand IS JSON VALUE, $cand IS JSON OBJECT, " +
          s"$cand IS JSON ARRAY, $cand IS JSON SCALAR, " +
          s"$cand IS NOT JSON VALUE, $cand IS JSON").head
      assert((0 to 3).map(r.getBoolean) == exp, s"$cand -> $r")
      assert(r.getBoolean(4) == !exp.head, s"NOT form of $cand")
      assert(r.getBoolean(5) == exp.head, s"bare IS JSON of $cand")
    }
    // trailing junk is not valid JSON; a non-string operand is a loud
    // plan-time error (the reference's ValidationException)
    assert(!spark.sql("SELECT '{} junk' IS JSON VALUE").head.getBoolean(0))
    val e = intercept[Exception](spark.sql("SELECT 42 IS JSON VALUE").collect())
    assert(e.getMessage.toUpperCase.contains("STRING"), e.getMessage)
    // a bare NULL operand is null-in → null-out, not a type error
    assert(spark.sql("SELECT NULL IS JSON").head.isNullAt(0))
  }

  test("OVERLAPS: reference ScalarFunctionsTest.testOverlaps vectors") {
    // (start, end|interval) pairs and expected results, verbatim from
    // the reference's test (incl. zero-length endpoint-sharing = true).
    // The reference's TIME-typed rows run here as TIMESTAMP on one day
    // — this Spark build rejects the TIME literal (UNSUPPORTED_TIME_TYPE);
    // the overlap arithmetic is identical.
    val cases = Seq(
      ("(TIMESTAMP '2024-01-01 02:55:00', INTERVAL '1' HOUR) OVERLAPS " +
        "(TIMESTAMP '2024-01-01 03:30:00', INTERVAL '2' HOUR)", true),
      ("(TIMESTAMP '2024-01-01 09:00:00', TIMESTAMP '2024-01-01 09:30:00') OVERLAPS " +
        "(TIMESTAMP '2024-01-01 09:29:00', TIMESTAMP '2024-01-01 09:31:00')", true),
      ("(TIMESTAMP '2024-01-01 09:00:00', TIMESTAMP '2024-01-01 10:00:00') OVERLAPS " +
        "(TIMESTAMP '2024-01-01 10:15:00', INTERVAL '3' HOUR)", false),
      ("(DATE '2011-03-10', INTERVAL '10' DAY) OVERLAPS (DATE '2011-03-19', INTERVAL '10' DAY)", true),
      ("(TIMESTAMP '2011-03-10 05:02:02', INTERVAL '0' SECOND) OVERLAPS " +
        "(TIMESTAMP '2011-03-10 05:02:02', TIMESTAMP '2011-03-10 05:02:01')", true),
      ("(TIMESTAMP '2011-03-10 02:02:02.001', INTERVAL '0' SECOND) OVERLAPS " +
        "(TIMESTAMP '2011-03-10 02:02:02.002', TIMESTAMP '2011-03-10 02:02:02.002')", false))
    for ((sql, exp) <- cases)
      assert(spark.sql(s"SELECT $sql").head.getBoolean(0) == exp, sql)
    // a bare identifier named `overlaps` is untouched
    import spark.implicits._
    Seq(1).toDF("overlaps").createOrReplaceTempView("ovl_t")
    assert(spark.sql("SELECT overlaps FROM ovl_t").head.getInt(0) == 1)
  }

  test("BETWEEN SYMMETRIC swaps bounds; ELEMENT extracts the sole member") {
    // reversed bounds still form the band; NOT form; bound expressions
    val r = spark.sql(
      "SELECT 5 BETWEEN SYMMETRIC 10 AND 1, 5 NOT BETWEEN SYMMETRIC 10 AND 1, " +
        "5 BETWEEN SYMMETRIC 1 AND 10, 0 BETWEEN SYMMETRIC 2+2 AND 1 AND true").head
    assert(r.getBoolean(0)); assert(!r.getBoolean(1))
    assert(r.getBoolean(2)); assert(!r.getBoolean(3))
    // ELEMENT: Calcite semantics — null on empty, element on singleton,
    // error on more
    val e = spark.sql(
      "SELECT element(array(7)), element(slice(array(1, 2), 1, 0))").head
    assert(e.getInt(0) == 7)
    assert(e.isNullAt(1))
    val err = intercept[Exception](
      spark.sql("SELECT element(array(1, 2))").collect())
    assert(err.getMessage.contains("more than one element"), err.getMessage)
    // null-in → null-out, NOT the error branch (If treats the null
    // Size condition as false, so this needs the explicit IsNull arm)
    assert(spark.sql("SELECT element(CAST(NULL AS ARRAY<INT>))").head.isNullAt(0))
    // a non-deterministic bound would evaluate twice in the
    // least/greatest rewrite — rejected loudly, not mis-answered
    val nd = intercept[Exception](spark.sql(
      "SELECT 5 BETWEEN SYMMETRIC rand() * 10 AND 7").collect())
    assert(nd.getMessage.contains("non-deterministic"), nd.getMessage)
    // …while a column merely CONTAINING such a name stays fine
    import spark.implicits._
    Seq(("Brand#1", 3)).toDF("p_brand", "n").createOrReplaceTempView("brand_t")
    assert(spark.sql(
      "SELECT n BETWEEN SYMMETRIC 5 AND 1 FROM brand_t").head.getBoolean(0))
    // RAND_INTEGER([seed,] bound): int in [0, bound); seeded form is
    // deterministic per row position like Spark's own rand(seed)
    val ri = spark.sql(
      "SELECT rand_integer(10) AS a, rand_integer(42, 10) AS b FROM range(0, 100)")
      .collect()
    assert(ri.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 10))
    assert(ri.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 10))
    assert(ri.map(_.getInt(0)).distinct.length > 1) // actually random
  }

  test("dynamic OPTIONS hint re-binds a table's options for one query") {
    import graft.sources.{GraftDDL, GraftSqlExecutor}
    val dA = java.nio.file.Files.createTempDirectory("opt_a").toString
    val dB = java.nio.file.Files.createTempDirectory("opt_b").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("k", "v").write.mode("overwrite").parquet(dA)
    Seq((2L, "b"), (3L, "c")).toDF("k", "v").write.mode("overwrite").parquet(dB)
    GraftDDL.execute(spark,
      s"""CREATE TABLE opt_hint_t (k BIGINT, v STRING)
         |WITH ('connector'='filesystem', 'path'='$dA', 'format'='parquet')"""
        .stripMargin)
    // plain read sees path A; the hinted read overrides to path B for
    // this query only; the base table is untouched afterwards
    assert(spark.sql("SELECT count(*) AS n FROM opt_hint_t").head.getLong(0) == 1)
    val hinted = spark.sql(
      s"SELECT k FROM opt_hint_t /*+ OPTIONS('path'='$dB') */ ORDER BY k").collect()
    assert(hinted.map(_.getLong(0)).toSeq == Seq(2L, 3L), hinted.toSeq)
    assert(spark.sql("SELECT count(*) AS n FROM opt_hint_t").head.getLong(0) == 1)
    // an unbound table rejects the hint loudly (the reference's
    // validator does the same)
    spark.sql("SELECT 1 AS x").createOrReplaceTempView("opt_plain_v")
    val e = intercept[RuntimeException](spark.sql(
      "SELECT * FROM opt_plain_v /*+ OPTIONS('path'='/nope') */"))
    assert(e.getMessage.contains("no CREATE TABLE binding"), e.getMessage)
    // a SELECT-position planner hint is not a table hint — untouched
    assert(spark.sql("SELECT /*+ BROADCAST(opt_hint_t) */ count(*) AS n " +
      "FROM opt_hint_t").head.getLong(0) == 1)
    // derived bindings are CONTENT-keyed: re-running the same hinted
    // query reuses one registration instead of leaking a new one per
    // parse (bounded by distinct option sets)
    val derivedCount = () => spark.catalog.listTables().collect()
      .count(_.name.startsWith("opt_hint_t__opts_"))
    val before = derivedCount()
    spark.sql(s"SELECT k FROM opt_hint_t /*+ OPTIONS('path'='$dB') */").collect()
    spark.sql(s"SELECT k FROM opt_hint_t /*+ OPTIONS('path'='$dB') */").collect()
    assert(derivedCount() == before,
      s"repeat of an identical OPTIONS hint minted new derived views")
    GraftSqlExecutor.executeSql(spark, "DROP TABLE opt_hint_t")
  }

  // ---- DDL through the token-structural front door ----

  test("CREATE TABLE tolerates comments in the column list and WITH( inside strings") {
    import graft.sources.GraftDDL
    val d = java.nio.file.Files.createTempDirectory("ddl_lex").toString
    import spark.implicits._
    Seq((1L, "x")).toDF("k", "v").write.mode("overwrite").parquet(d)
    // a line comment inside the columns and a property VALUE containing
    // "WITH (" — both fatal to the round-6 `(.+)`-regex front door
    val df = GraftDDL.execute(spark,
      s"""CREATE TABLE ddl_lex_spec (
         |  k BIGINT, -- the key
         |  v STRING  /* payload; notes may say WITH (anything) */
         |) WITH ('connector'='filesystem',
         |        'path'='$d', 'format'='parquet')""".stripMargin)
    assert(df.count() == 1)
    assert(spark.table("ddl_lex_spec").columns.toSeq == Seq("k", "v"))
    // trailing junk after the WITH clause fails loudly, not silently
    val e = intercept[RuntimeException](GraftDDL.execute(spark,
      s"""CREATE TABLE ddl_lex_bad (k BIGINT)
         |WITH ('connector'='filesystem','path'='$d') garbage""".stripMargin))
    assert(e.getMessage.contains("trailing"), e.getMessage)
  }

  test("EXPLAIN CHANGELOG_MODE / ESTIMATED_COST (ExplainDetail analog)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.plans.ChangelogInference
    // batch: insert-only end to end, like the reference
    Seq((1L, 2.0)).toDF("k", "v").createOrReplaceTempView("cm_batch")
    val batch = ChangelogInference.explain(
      spark.sql("SELECT k, sum(v) AS sv FROM cm_batch GROUP BY k"))
    assert(batch.linesIterator.forall(_.endsWith("changelogMode=[I]")), batch)
    // streaming source with watermark
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Double)]
    val stream = mem.toDF.toDF("k", "ts", "v").withWatermark("ts", "1 minute")
    // unbounded group agg over an insert-only input: {I, UA}
    assert(ChangelogInference.rootMode(
      stream.groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))) ==
      "[I,UA]")
    // agg over an UPDATING input adds D (the reference's exact rule)
    val aggOfAgg = stream.groupBy("k")
      .agg(org.apache.spark.sql.functions.sum("v").as("sv"))
      .groupBy("sv").count()
    assert(ChangelogInference.rootMode(aggOfAgg) == "[I,UA,D]")
    // windowed aggregate emits at close: insert-only, named in the tree
    val windowed = stream.groupBy(
      org.apache.spark.sql.functions.window($"ts", "10 minutes"), $"k").count()
    assert(ChangelogInference.rootMode(windowed) == "[I]")
    assert(ChangelogInference.explain(windowed).contains("WindowAggregate"),
      ChangelogInference.explain(windowed))
    // inner join of two insert-only streams forwards I; outer retracts
    val s2 = mem.toDF.toDF("k", "ts2", "v2").withWatermark("ts2", "1 minute")
    assert(ChangelogInference.rootMode(stream.join(s2, "k")) == "[I]")
    assert(ChangelogInference.rootMode(
      stream.join(s2, Seq("k"), "left_outer")) == "[I,UA,D]")
    // dedup keep-first is insert-only
    assert(ChangelogInference.rootMode(stream.dropDuplicates("k")) == "[I]")
    // a USER struct of two timestamps is NOT a time window — grouping
    // by it is an unbounded aggregate, not a windowed one
    val userStruct = stream.select($"k", $"v",
      org.apache.spark.sql.functions.struct(
        $"ts".as("start"), $"ts".as("end")).as("validity"))
      .groupBy("validity").count()
    assert(ChangelogInference.rootMode(userStruct) == "[I,UA]",
      ChangelogInference.explain(userStruct))
    // the statement-door spellings
    import graft.sources.GraftSqlExecutor.executeSql
    val cm = executeSql(spark,
      "EXPLAIN CHANGELOG_MODE SELECT k, sum(v) AS sv FROM cm_batch GROUP BY k")
      .collect().head.getString(0)
    assert(cm.contains("changelogMode=[I]"), cm)
    val cost = executeSql(spark,
      "EXPLAIN ESTIMATED_COST SELECT k, sum(v) AS sv FROM cm_batch GROUP BY k")
      .collect().head.getString(0)
    assert(cost.contains("Statistics(") && cost.contains("sizeInBytes"), cost)
    // DML form: sink header (with the mode the sink must accept) + plan
    val d = java.nio.file.Files.createTempDirectory("cm_ins").toString
    executeSql(spark,
      s"""CREATE TABLE cm_ins_t (k BIGINT, sv DOUBLE)
         |WITH ('connector'='filesystem','path'='$d','format'='parquet')""".stripMargin)
    val dml = executeSql(spark,
      "EXPLAIN CHANGELOG_MODE INSERT INTO cm_ins_t " +
        "SELECT k, sum(v) AS sv FROM cm_batch GROUP BY k")
      .collect().head.getString(0)
    assert(dml.contains("== Sink ==") && dml.contains("accepts=[I]"), dml)
    assert(dml.contains("changelogMode=[I]"), dml)
    executeSql(spark, "DROP TABLE cm_ins_t")
  }

  test("GraftSqlExecutor: one entry point drives every statement kind") {
    import graft.sources.GraftSqlExecutor.executeSql
    val d = java.nio.file.Files.createTempDirectory("exec_spec").toString
    import spark.implicits._
    Seq((1L, 5.0, "a"), (2L, 7.0, "b"), (2L, 9.0, "c"))
      .toDF("k", "v", "s").write.mode("overwrite").parquet(d)
    // DDL
    executeSql(spark,
      s"""CREATE TABLE exec_t (k BIGINT, v DOUBLE, s STRING)
         |WITH ('connector'='filesystem', 'path'='$d', 'format'='parquet')"""
        .stripMargin)
    executeSql(spark, "CREATE VIEW exec_v AS SELECT k, sum(v) AS sv FROM exec_t GROUP BY k")
    // query through the same door
    val rows = executeSql(spark, "SELECT * FROM exec_v ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 5.0), (2L, 16.0)))
    // introspection
    assert(executeSql(spark, "DESCRIBE exec_t").count() == 3)
    assert(executeSql(spark, "SHOW TABLES").collect()
      .exists(_.getString(0) == "exec_t"))
    assert(executeSql(spark, "EXPLAIN SELECT k FROM exec_t").collect()
      .head.getString(0).contains("Physical Plan"))
    // function + use it in a query through the same door
    executeSql(spark,
      "CREATE TEMPORARY FUNCTION exec_split AS 'graft.functions.SplitIndex'")
    assert(executeSql(spark, "SELECT exec_split('x-y', '-', 1) AS r")
      .head.getString(0) == "y")
    // ALTER + DROP round-trip
    executeSql(spark, "ALTER TABLE exec_t RENAME TO exec_t2")
    assert(executeSql(spark, "SELECT count(*) AS n FROM exec_t2")
      .head.getLong(0) == 3)
    executeSql(spark, "DROP TABLE exec_t2")
    executeSql(spark, "DROP VIEW exec_v")
    // unknown statement kind fails loudly
    val e = intercept[RuntimeException](executeSql(spark, "VACUUM exec_t2"))
    assert(e.getMessage.contains("unsupported statement kind"), e.getMessage)
    // the catalog-database statement family (SqlCreateDatabase /
    // SqlUseDatabase / SqlDropDatabase) rides the session catalog
    executeSql(spark, "CREATE DATABASE IF NOT EXISTS exec_db")
    assert(executeSql(spark, "SHOW DATABASES").collect()
      .exists(_.getString(0) == "exec_db"))
    executeSql(spark, "USE exec_db")
    assert(spark.catalog.currentDatabase == "exec_db")
    executeSql(spark, "USE default")
    executeSql(spark, "DROP DATABASE exec_db")
    assert(!executeSql(spark, "SHOW DATABASES").collect()
      .exists(_.getString(0) == "exec_db"))
    // USE CATALOG maps onto Spark's SET CATALOG spelling
    executeSql(spark, "USE CATALOG spark_catalog")
    assert(spark.catalog.currentCatalog() == "spark_catalog")
    // MATCH_RECOGNIZE statements route through the same door
    Seq((7L, 10L, 1L, "signup"), (7L, 30L, 3L, "purchase"))
      .toDF("uid", "t_us", "event_id", "etype")
      .createOrReplaceTempView("exec_mr")
    val mr = executeSql(spark,
      """SELECT * FROM exec_mr MATCH_RECOGNIZE (
        |  PARTITION BY uid ORDER BY t_us
        |  PATTERN (A P) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS etype = 'signup', P AS etype = 'purchase')""".stripMargin)
      .collect()
    assert(mr.length == 1 && mr.head.getAs[Long]("uid") == 7L, mr.toSeq)
  }

  // ---- MATCH_RECOGNIZE statement surface ----

  test("MATCH_RECOGNIZE statement parses, canonicalizes, and guards loudly") {
    import graft.sources.MatchRecognizeSql
    import spark.implicits._
    Seq(
      (7L, 10L, 1L, "signup", 0.0),
      (7L, 20L, 2L, "click", 1.5),
      (7L, 30L, 3L, "purchase", 9.0))
      .toDF("uid", "t_us", "event_id", "etype", "v")
      .createOrReplaceTempView("mr_stmt_spec")
    val out = MatchRecognizeSql.sql(spark,
      """SELECT uid, n_clicks, pv FROM mr_stmt_spec MATCH_RECOGNIZE (
        |  PARTITION BY uid ORDER BY t_us
        |  MEASURES COUNT(B.event_id) AS n_clicks, P.v AS pv
        |  ONE ROW PER MATCH
        |  AFTER MATCH SKIP TO NEXT ROW
        |  PATTERN (A B+ P) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS etype = 'signup', B AS etype = 'click',
        |         P AS etype = 'purchase'
        |) AS T ORDER BY uid""".stripMargin).collect()
    assert(out.length == 1, out.mkString(","))
    assert(out.head.getLong(0) == 7L && out.head.getLong(1) == 1L &&
      out.head.getDouble(2) == 9.0, out.head)
    // missing PARTITION BY → loud
    val e = intercept[RuntimeException](MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_stmt_spec MATCH_RECOGNIZE (
        |  ORDER BY t_us PATTERN (A) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS etype = 'x')""".stripMargin))
    assert(e.getMessage.contains("PARTITION BY"), e.getMessage)
    // non-integral partition column: BATCH views take the general
    // surrogate-key path (r11 — the reference allows any key type;
    // MatchRecognizeITCase testCodeSplitsAreProperlyGenerated
    // partitions by strings) — the output leads with the declared
    // partition column under its own name
    Seq(("a", 1L, 1L, "x"), ("b", 1L, 2L, "y"))
      .toDF("s", "t_us", "event_id", "etype")
      .createOrReplaceTempView("mr_stmt_strkey")
    val strOut = MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_stmt_strkey MATCH_RECOGNIZE (
        |  PARTITION BY s ORDER BY t_us PATTERN (A)
        |  WITHIN INTERVAL '1' HOUR DEFINE A AS etype = 'x')""".stripMargin)
    assert(strOut.columns.head == "s", strOut.columns.toSeq)
    val strRows = strOut.select("s", "anchor_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(strRows == Seq(("a", 1L)), strRows)
  }

  test("MR statement door: nullable multi-col keys, id-shadow guard, literal-safe DEFINE (advisor r11)") {
    import graft.sources.MatchRecognizeSql
    import spark.implicits._
    // 1) xxhash64 skips NULL inputs; the isnull-flag discrimination
    //    keeps ('a', NULL) and (NULL, 'a') DISTINCT so the injectivity
    //    gate passes and the two partitions match independently
    Seq(
      (Some("a"), Option.empty[String], 10L, 1L, "signup"),
      (Some("a"), Option.empty[String], 20L, 2L, "purchase"),
      (Option.empty[String], Some("a"), 10L, 3L, "signup"),
      (Option.empty[String], Some("a"), 20L, 4L, "purchase"))
      .toDF("k1", "k2", "t_us", "event_id", "etype")
      .createOrReplaceTempView("mr_null_key")
    val nk = MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_null_key MATCH_RECOGNIZE (
        |  PARTITION BY k1, k2 ORDER BY t_us
        |  PATTERN (A P) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS etype = 'signup', P AS etype = 'purchase')""".stripMargin)
      .collect()
    assert(nk.length == 2, s"null-discriminated partitions: ${nk.toSeq}")
    // 2) secondary ORDER BY + a source column named `id`: the
    //    row_number surrogate would silently shadow it — loud even
    //    when event_id ALSO exists (the resolution picking event_id
    //    must not mute the guard)
    Seq((7L, 10L, 1L, 1L, "x", 1.0))
      .toDF("uid", "t_us", "id", "event_id", "etype", "v")
      .createOrReplaceTempView("mr_id_shadow")
    val eShadow = intercept[IllegalArgumentException](MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_id_shadow MATCH_RECOGNIZE (
        |  PARTITION BY uid ORDER BY t_us, v DESC PATTERN (A)
        |  WITHIN INTERVAL '1' HOUR DEFINE A AS etype = 'x')""".stripMargin))
    assert(eShadow.getMessage.contains("id"), eShadow.getMessage)
    // 3) DEFINE qualifier stripping is string-literal aware: the
    //    literal 'P.x' must survive both the mixed AND/OR whole-body
    //    strip and the per-conjunct strip (the row matches BECAUSE
    //    etype equals the literal text 'P.x')
    Seq((7L, 10L, 1L, "signup", 0.0), (7L, 20L, 2L, "P.x", 0.0))
      .toDF("uid", "t_us", "event_id", "etype", "v")
      .createOrReplaceTempView("mr_lit_def")
    val lit1 = MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_lit_def MATCH_RECOGNIZE (
        |  PARTITION BY uid ORDER BY t_us
        |  PATTERN (A P) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS etype = 'signup',
        |         P AS P.etype = 'P.x' OR P.v > 5 AND P.v < 100)""".stripMargin)
      .collect()
    assert(lit1.length == 1, s"mixed-path literal: ${lit1.toSeq}")
    val lit2 = MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_lit_def MATCH_RECOGNIZE (
        |  PARTITION BY uid ORDER BY t_us
        |  PATTERN (A P) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS etype = 'signup', P AS P.etype = 'P.x')""".stripMargin)
      .collect()
    assert(lit2.length == 1, s"per-conjunct literal: ${lit2.toSeq}")
  }

  test("MATCH_RECOGNIZE statement routes a STREAMING view to the incremental operator") {
    import graft.sources.MatchRecognizeSql
    import org.apache.spark.sql.streaming.OutputMode
    val input = StreamHarness.mkStream()
    input.toDS().toDF().createOrReplaceTempView("mr_sql_stream")
    val out = MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_sql_stream MATCH_RECOGNIZE (
        |  PARTITION BY key ORDER BY tsMicros
        |  PATTERN (A P) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS kind = 'signup', P AS kind = 'purchase')""".stripMargin)
    assert(out.isStreaming)
    spark.catalog.dropTempView("mr_sql_stream_out")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("mr_sql_stream_out").start()
    try {
      input.addData(Seq(StreamHarness.ev(1, 10, 1, kind = "signup")))
      q.processAllAvailable()
      input.addData(Seq(StreamHarness.ev(1, 20, 2, kind = "purchase")))
      q.processAllAvailable()
      // watermark flush
      input.addData(Seq(StreamHarness.ev(9, 10000, 99, kind = "x")))
      q.processAllAvailable()
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("mr_sql_stream_out")
      .select("key", "anchor_id", "end_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 1L, 2L)), s"streaming MR statement match: $rows")
    // a MEASURES clause on a STREAMING view runs the streaming MEASURES
    // operator: the statement's rows equal the library call's
    val measuresClause =
      """MATCH_RECOGNIZE (
        |  PARTITION BY key ORDER BY tsMicros
        |  MEASURES MATCH_NUMBER() AS mno, FIRST(A.id) AS a_id,
        |           LAST(P.id) AS p_id, COUNT(*) AS n
        |  ONE ROW PER MATCH
        |  PATTERN (A P) WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS kind = 'signup', P AS kind = 'purchase')""".stripMargin
    val mBatches = Seq(
      Seq(StreamHarness.ev(1, 10, 1, kind = "signup"),
        StreamHarness.ev(2, 15, 5, kind = "signup")),
      Seq(StreamHarness.ev(1, 20, 2, kind = "purchase"),
        StreamHarness.ev(1, 30, 3, kind = "signup")),
      Seq(StreamHarness.ev(1, 40, 4, kind = "purchase"),
        StreamHarness.ev(2, 50, 6, kind = "purchase")),
      Seq(StreamHarness.ev(9, 10000, 99, kind = "x")))
    val mInput = StreamHarness.mkStream()
    mInput.toDS().toDF().createOrReplaceTempView("mr_sql_stream_m")
    val viaSql = MatchRecognizeSql.sql(spark,
      s"SELECT * FROM mr_sql_stream_m $measuresClause")
    spark.catalog.dropTempView("mr_sql_stream_m_out")
    val mq = viaSql.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("mr_sql_stream_m_out").start()
    try {
      mBatches.foreach { b => mInput.addData(b); mq.processAllAvailable() }
      mq.processAllAvailable()
    } finally mq.stop()
    val sqlRows = spark.table("mr_sql_stream_m_out").collect().map(_.toString).sorted.toSeq
    val apiRows = StreamHarness.run(mBatches, OutputMode.Append, "mr_sql_stream_m_api") {
      ds => graft.streaming.StreamingMatchRecognize.measures(spark, ds.toDF(),
        measuresClause)
    }.collect().map(_.toString).sorted.toSeq
    assert(sqlRows.size == 3, s"streaming MEASURES statement rows: $sqlRows")
    assert(sqlRows == apiRows, s"statement=$sqlRows\nlibrary=$apiRows")
    // STREAMING views keep the one-integral-column requirement (the
    // incremental operator's keyed-state shape) and reject secondary
    // ORDER BY columns — both loud
    input.toDS().toDF().selectExpr("cast(key AS string) AS skey",
      "tsMicros", "id", "kind").createOrReplaceTempView("mr_sql_stream_str")
    val eInt = intercept[RuntimeException](MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_sql_stream_str MATCH_RECOGNIZE (
        |  PARTITION BY skey ORDER BY tsMicros PATTERN (A P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS kind = 'signup', P AS kind = 'purchase')""".stripMargin))
    assert(eInt.getMessage.contains("integral"), eInt.getMessage)
    val eOrd = intercept[RuntimeException](MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_sql_stream MATCH_RECOGNIZE (
        |  PARTITION BY key ORDER BY tsMicros, id DESC PATTERN (A P)
        |  WITHIN INTERVAL '1' HOUR
        |  DEFINE A AS kind = 'signup', P AS kind = 'purchase')""".stripMargin))
    assert(eOrd.getMessage.contains("secondary ORDER BY"), eOrd.getMessage)
  }

  // ---- streaming windowing-TVF rewrite (r9) ----

  test("streaming TVF text rewrites to the GROUP BY window() form") {
    import org.apache.spark.sql.functions._
    // a genuinely STREAMING view (rate source; never started)
    spark.readStream.format("rate").load()
      .withColumn("ts", col("timestamp"))
      .createOrReplaceTempView("gw_stream_v")
    val out = GroupWindowSql.rewrite(
      """SELECT window_start, window_end AS we, count(*) AS n
        |FROM TABLE(TUMBLE(TABLE gw_stream_v, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end""".stripMargin)
    // grouping keys collapse into ONE window() call
    assert(out.contains("GROUP BY window(ts, '1 hour')"), out)
    assert(!out.toUpperCase.contains("TUMBLE"), out)
    // bare select item keeps its output name; aliased item keeps its alias
    assert(out.contains("window.start AS window_start"), out)
    assert(out.contains("window.end AS we"), out)
    // HOP maps to the sliding window form
    val hop = GroupWindowSql.rewrite(
      """SELECT window_start, count(*) AS n
        |FROM TABLE(HOP(TABLE gw_stream_v, DESCRIPTOR(ts),
        |               INTERVAL '1' HOUR, INTERVAL '2' HOUR))
        |GROUP BY window_start, window_end""".stripMargin)
    assert(hop.contains("GROUP BY window(ts, '2 hour', '1 hour')"), hop)
    // the rewrite is BLOCK-SCOPED: an outer query's window_start is a
    // plain output-column reference and must survive untouched
    val nested = GroupWindowSql.rewrite(
      """SELECT window_start, n FROM (
        |  SELECT window_start, count(*) AS n
        |  FROM TABLE(TUMBLE(TABLE gw_stream_v, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |  GROUP BY window_start, window_end) WHERE n > 0""".stripMargin)
    assert(nested.startsWith("SELECT window_start, n FROM ("), nested)
    assert(nested.contains("window.start AS window_start"), nested)
    // a BATCH view keeps the batch subquery rewrite (projection form)
    spark.range(1).selectExpr("timestamp_micros(id) AS ts")
      .createOrReplaceTempView("gw_batch_v")
    val batch = GroupWindowSql.rewrite(
      """SELECT window_start, count(*) AS n
        |FROM TABLE(TUMBLE(TABLE gw_batch_v, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end""".stripMargin)
    assert(batch.contains("AS window_start"), batch)
    assert(!batch.contains("GROUP BY window(ts"), batch)
  }

  test("streaming CUMULATE TVF = one shifted-fan-out tumbling step aggregate") {
    import org.apache.spark.sql.functions._
    spark.readStream.format("rate").load()
      .withColumn("ts", col("timestamp"))
      .withWatermark("ts", "1 minute")
      .createOrReplaceTempView("gw_stream_cum")
    val out = GroupWindowSql.rewrite(
      """SELECT window_start, window_end, count(*) AS n
        |FROM TABLE(CUMULATE(TABLE gw_stream_cum, DESCRIPTOR(ts),
        |                    INTERVAL '6' HOUR, INTERVAL '1' DAY))
        |GROUP BY window_start, window_end""".stripMargin)
    // ONE statement (r10 per-end firing; no UNION ALL branch rescans):
    // the group key is the STEP-size tumbling window over the fan-out
    // view, window_start decodes via the max-floor, window_end is the
    // step window's own end
    assert(!out.contains("UNION ALL"), out)
    assert(out.contains("GROUP BY window(ts, '6 hour')"), out)
    assert(out.contains(
      "timestamp_micros(unix_micros(window.start) - " +
        "pmod(unix_micros(window.start), 86400000000)) AS window_start"), out)
    assert(out.contains("window.end AS window_end"), out)
    assert(out.contains("gw_stream_cum_graft_cum_ts_21600000_86400000"), out)
    // the registered fan-out view: still streaming, same columns, and
    // the shifted ts re-carries the source's watermark delay metadata
    // (the analyzer's append-mode check reads it; eviction — per-end
    // firing — still rides the source's own watermark node)
    val v = spark.table("gw_stream_cum_graft_cum_ts_21600000_86400000")
    assert(v.isStreaming)
    assert(v.columns.toSeq == spark.table("gw_stream_cum").columns.toSeq)
    assert(v.schema("ts").metadata.contains("spark.watermarkDelayMs"))
    // a WITH prefix survives (single splice — no per-branch duplication)
    val withOut = GroupWindowSql.rewrite(
      """WITH f AS (SELECT 1 AS one)
        |SELECT window_start, count(*) AS n
        |FROM TABLE(CUMULATE(TABLE gw_stream_cum, DESCRIPTOR(ts),
        |                    INTERVAL '6' HOUR, INTERVAL '1' DAY))
        |GROUP BY window_start""".stripMargin)
    assert(withOut.startsWith("WITH f AS (SELECT 1 AS one)"), withOut)
    assert(!withOut.contains("UNION ALL"), withOut)
    // an unwatermarked streaming source cannot fire per-end — loud
    spark.readStream.format("rate").load()
      .withColumn("ts", col("timestamp"))
      .createOrReplaceTempView("gw_stream_cum_nowm")
    val noWm = intercept[IllegalArgumentException] {
      GroupWindowSql.rewrite(
        """SELECT window_start, count(*) AS n
          |FROM TABLE(CUMULATE(TABLE gw_stream_cum_nowm, DESCRIPTOR(ts),
          |                    INTERVAL '6' HOUR, INTERVAL '1' DAY))
          |GROUP BY window_start, window_end""".stripMargin)
    }
    assert(noWm.getMessage.contains("watermark"), noWm.getMessage)
    // qualified references (the TVF derived table's alias) fold into
    // the unqualified window struct
    val qual = GroupWindowSql.rewrite(
      """SELECT t.window_start, count(*) AS n
        |FROM TABLE(TUMBLE(TABLE gw_stream_cum, DESCRIPTOR(ts), INTERVAL '1' DAY)) t
        |GROUP BY t.window_start, t.window_end""".stripMargin)
    assert(qual.contains("GROUP BY window(ts, '1 day')"), qual)
    assert(qual.contains("window.start AS window_start"), qual)
    assert(!qual.contains("t.window"), qual)
    // a SIBLING scope (CTE body over another source) keeps its own
    // window_* columns untouched
    val cte = GroupWindowSql.rewrite(
      """WITH hist AS (SELECT window_start, n FROM precomputed)
        |SELECT window_start, count(*) AS n
        |FROM TABLE(TUMBLE(TABLE gw_stream_cum, DESCRIPTOR(ts), INTERVAL '1' DAY))
        |GROUP BY window_start, window_end""".stripMargin)
    assert(cte.contains("WITH hist AS (SELECT window_start, n FROM precomputed)"), cte)
    assert(cte.contains("GROUP BY window(ts, '1 day')"), cte)
    // SESSION TVF on a stream maps to the native merging session key
    val se = GroupWindowSql.rewrite(
      """SELECT k, window_start, window_end AS we, count(*) AS n
        |FROM TABLE(SESSION(TABLE gw_stream_cum PARTITION BY k,
        |                   DESCRIPTOR(ts), INTERVAL '30' MINUTE))
        |GROUP BY k, window_start, window_end""".stripMargin)
    assert(se.contains("GROUP BY k, session_window(ts, '30 minute')"), se)
    assert(se.contains("session_window.start AS window_start"), se)
    assert(se.contains("session_window.end AS we"), se)
    // a PARTITION BY key missing from the consumer's GROUP BY would
    // silently sessionize globally — loud instead
    val miss = intercept[IllegalArgumentException] {
      GroupWindowSql.rewrite(
        """SELECT window_start, count(*) AS n
          |FROM TABLE(SESSION(TABLE gw_stream_cum PARTITION BY k,
          |                   DESCRIPTOR(ts), INTERVAL '30' MINUTE))
          |GROUP BY window_start, window_end""".stripMargin)
    }
    assert(miss.getMessage.contains("must appear as a bare item"), miss.getMessage)
  }

  test("streaming TVF splice: window_* inside expression parens rewrites; " +
      "SESSION key guard is scoped to the TVF's own GROUP BY") {
    import org.apache.spark.sql.functions._
    spark.readStream.format("rate").load()
      .withColumn("ts", col("timestamp"))
      .withWatermark("ts", "1 minute")
      .createOrReplaceTempView("gw_stream_expr")
    // (advisor r9) window_start inside a FUNCTION CALL in the select
    // list — previously the paren subtree was skipped wholesale and
    // the column was left unrewritten
    val fn = GroupWindowSql.rewrite(
      """SELECT date_format(window_start, 'yyyy-MM-dd') AS day, count(*) AS n
        |FROM TABLE(TUMBLE(TABLE gw_stream_expr, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end""".stripMargin)
    assert(fn.contains("date_format(window.start, 'yyyy-MM-dd') AS day"), fn)
    // ... and inside HAVING / nested arithmetic parens
    val hav = GroupWindowSql.rewrite(
      """SELECT window_start, count(*) AS n
        |FROM TABLE(TUMBLE(TABLE gw_stream_expr, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |GROUP BY window_start, window_end
        |HAVING max(unix_micros(window_time)) > 0""".stripMargin)
    assert(hav.contains(
      "max(unix_micros((window.end - INTERVAL '0.001' SECOND))) > 0"), hav)
    // a scalar SUBQUERY is still a separate scope — untouched
    val sub = GroupWindowSql.rewrite(
      """SELECT window_start, count(*) AS n
        |FROM TABLE(TUMBLE(TABLE gw_stream_expr, DESCRIPTOR(ts), INTERVAL '1' HOUR))
        |WHERE value > (SELECT avg(window_start) FROM hist)
        |GROUP BY window_start, window_end""".stripMargin)
    assert(sub.contains("(SELECT avg(window_start) FROM hist)"), sub)
    // (advisor r9) the SESSION guard must NOT be satisfied by the key
    // appearing in a DIFFERENT query block's GROUP BY...
    val other = intercept[IllegalArgumentException] {
      GroupWindowSql.rewrite(
        """SELECT window_start, count(*) AS n
          |FROM TABLE(SESSION(TABLE gw_stream_expr PARTITION BY k,
          |                   DESCRIPTOR(ts), INTERVAL '30' MINUTE)),
          |     (SELECT k AS kk FROM other GROUP BY k) o
          |GROUP BY window_start, window_end""".stripMargin)
    }
    assert(other.getMessage.contains("must appear as a bare item"),
      other.getMessage)
    // ...nor by the key appearing only INSIDE an expression item
    val exprItem = intercept[IllegalArgumentException] {
      GroupWindowSql.rewrite(
        """SELECT window_start, count(*) AS n
          |FROM TABLE(SESSION(TABLE gw_stream_expr PARTITION BY k,
          |                   DESCRIPTOR(ts), INTERVAL '30' MINUTE))
          |GROUP BY abs(k), window_start, window_end""".stripMargin)
    }
    assert(exprItem.getMessage.contains("must appear as a bare item"),
      exprItem.getMessage)
    // a qualified bare item (t.k) satisfies the guard
    val qualOk = GroupWindowSql.rewrite(
      """SELECT t.k, window_start, count(*) AS n
        |FROM TABLE(SESSION(TABLE gw_stream_expr PARTITION BY k,
        |                   DESCRIPTOR(ts), INTERVAL '30' MINUTE)) t
        |GROUP BY t.k, window_start, window_end""".stripMargin)
    assert(qualOk.contains("session_window(ts, '30 minute')"), qualOk)
  }

  test("proc-time group windows: TUMBLE over PROCTIME() + *_PROCTIME auxiliaries") {
    // (VERDICT r9 missing #2) The reference runs processing-time group
    // windows and TUMBLE_PROCTIME/HOP_PROCTIME/SESSION_PROCTIME
    // auxiliaries (FlinkSqlOperatorTable TUMBLE_PROCTIME family);
    // previously every *_PROCTIME consumer failed loudly. The
    // auxiliary maps to the window END (proctime property convention);
    // the window itself groups on the PROCTIME() computed column —
    // micro-batch evaluation time, so on a batch run all rows share
    // one proc-window, exactly the reference's one-batch-at-a-time
    // proctime.
    val out = GroupWindowSql.rewrite(
      """SELECT TUMBLE_START(pt, INTERVAL '10' SECOND) AS ws,
        |       TUMBLE_PROCTIME(pt, INTERVAL '10' SECOND) AS wp, count(*) AS n
        |FROM src GROUP BY TUMBLE(pt, INTERVAL '10' SECOND)""".stripMargin)
    assert(out.contains("window.end AS wp"), out)
    assert(out.contains("GROUP BY window(pt, '10 second')"), out)
    val hop = GroupWindowSql.rewrite(
      "SELECT HOP_PROCTIME(pt, INTERVAL '5' SECOND, INTERVAL '10' SECOND) AS wp " +
        "FROM src GROUP BY HOP(pt, INTERVAL '5' SECOND, INTERVAL '10' SECOND)")
    assert(hop.contains("window.end AS wp"), hop)
    val sess = GroupWindowSql.rewrite(
      "SELECT SESSION_PROCTIME(pt, INTERVAL '10' SECOND) AS wp " +
        "FROM src GROUP BY SESSION(pt, INTERVAL '10' SECOND)")
    assert(sess.contains("session_window.end AS wp"), sess)
    // end-to-end through spark.sql over a PROCTIME()-style column: all
    // rows of one (batch) evaluation land in the single proc window
    // containing the evaluation time
    spark.range(3).selectExpr("id", "current_timestamp() AS pt")
      .createOrReplaceTempView("pt_src")
    val rows = spark.sql(
      """SELECT TUMBLE_START(pt, INTERVAL '10' SECOND) AS ws,
        |       TUMBLE_PROCTIME(pt, INTERVAL '10' SECOND) AS wp,
        |       count(*) AS n
        |FROM pt_src GROUP BY TUMBLE(pt, INTERVAL '10' SECOND)""".stripMargin)
      .collect()
    assert(rows.length == 1, rows.mkString(","))
    assert(rows.head.getLong(2) == 3)
    // proctime property = window end = start + size
    assert(rows.head.getTimestamp(1).getTime -
      rows.head.getTimestamp(0).getTime == 10000L)
  }

  test("proc-time group window on a STREAM accumulates per evaluation-time " +
      "window (Update mode)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    val input = StreamHarness.mkStream()
    input.toDS().toDF()
      .withColumn("pt", current_timestamp())
      .createOrReplaceTempView("pt_stream_src")
    val agg = spark.sql(
      """SELECT TUMBLE_START(pt, INTERVAL '1' HOUR) AS ws, count(*) AS n
        |FROM pt_stream_src GROUP BY TUMBLE(pt, INTERVAL '1' HOUR)""".stripMargin)
    assert(agg.isStreaming)
    spark.catalog.dropTempView("pt_stream_out")
    val q = agg.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("pt_stream_out").start()
    try {
      input.addData(Seq(StreamHarness.ev(1, 10, 1), StreamHarness.ev(1, 20, 2)))
      q.processAllAvailable()
      input.addData(Seq(StreamHarness.ev(2, 30, 3)))
      q.processAllAvailable()
    } finally q.stop()
    // rows land in the window of their PROCESSING time, not data time:
    // latest revision per window; counts sum to all 5... 3 events; at
    // most two 1-hour windows (a boundary crossing mid-test); bounds
    // are exactly 1 hour apart
    val latest = spark.table("pt_stream_out")
      .groupBy("ws").agg(max("n").as("n")).collect()
    assert(latest.map(_.getLong(1)).sum == 3, latest.mkString(","))
    assert(latest.length <= 2, latest.mkString(","))
  }

  test("proc-time streaming MATCH_RECOGNIZE: ORDER BY a PROCTIME() attribute " +
      "fires by processing time") {
    import graft.sources.{GraftDDL, MatchRecognizeSql}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.OutputMode
    val input = StreamHarness.mkStream()
    // a streaming view whose pt carries the DDL facade's proctime tag
    input.toDS().toDF()
      .select(col("*"),
        expr("current_timestamp()").as("pt", GraftDDL.proctimeMeta))
      .createOrReplaceTempView("mr_proctime_src")
    val out = MatchRecognizeSql.sql(spark,
      """SELECT * FROM mr_proctime_src MATCH_RECOGNIZE (
        |  PARTITION BY key ORDER BY pt
        |  PATTERN (A P) WITHIN INTERVAL '8' SECOND
        |  DEFINE A AS kind = 'signup', P AS kind = 'purchase')""".stripMargin)
    assert(out.isStreaming)
    spark.catalog.dropTempView("mr_proctime_out")
    val q = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("mr_proctime_out").start()
    try {
      // A and P in SEPARATE batches: same-batch events share one
      // proctime (micro-batch granularity — the documented delta vs
      // the reference's per-event arrival stamps; strict adjacency
      // breaks proctime ties by id, so same-batch chaining follows id
      // order). The match matures once a later batch's proctime
      // passes anchor + within (zero-delay watermark). Data times
      // (999, 5) are deliberately inverted: ORDER BY pt must win.
      input.addData(Seq(StreamHarness.ev(1, 999, 1, kind = "signup")))
      q.processAllAvailable()
      input.addData(Seq(StreamHarness.ev(1, 5, 2, kind = "purchase")))
      q.processAllAvailable()
      Thread.sleep(9000) // processing time advances past within=8s
      input.addData(Seq(StreamHarness.ev(9, 1, 99, kind = "x")))
      q.processAllAvailable()
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("mr_proctime_out")
      .select("key", "anchor_id", "end_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 1L, 2L)), s"proc-time MR: $rows")
  }
}
