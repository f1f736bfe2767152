package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the custom Catalyst expressions (reference gap
  * functions, SqlFunctionUtils.java semantics) — both the codegen path
  * (DataFrame select) and SQL registration. */
class FunctionsSpec extends AnyFunSuite {
  lazy val spark = StreamHarness.spark
  import GraftFunctions._

  private def evalOne(c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(1).toDF("x").select(c.as("r")).head.get(0)
  }

  test("is_alpha") {
    assert(evalOne(is_alpha(lit("Hello"))) == true)
    assert(evalOne(is_alpha(lit("Hello1"))) == false)
    assert(evalOne(is_alpha(lit(""))) == false)
    assert(evalOne(is_alpha(lit(null).cast("string"))) == null)
  }

  test("is_digit / is_decimal") {
    assert(evalOne(is_digit(lit("0123"))) == true)
    assert(evalOne(is_digit(lit("12a"))) == false)
    assert(evalOne(is_decimal(lit("-12.5"))) == true)
    assert(evalOne(is_decimal(lit(".5"))) == true)
    assert(evalOne(is_decimal(lit("1e5"))) == false)
  }

  test("split_index 0-based with out-of-range null") {
    assert(evalOne(split_index(lit("a,b,c"), lit(","), lit(1))) == "b")
    assert(evalOne(split_index(lit("a,b,c"), lit(","), lit(5))) == null)
    assert(evalOne(split_index(lit("a..b"), lit("."), lit(1))) == "")
  }

  test("nGramShingles: n-gram construction and short-input edge") {
    import graft.functions.TextFunctions
    def sh(text: String, n: Int): Seq[String] = {
      import spark.implicits._
      Seq(text).toDF("t")
        .select(TextFunctions.tokens(col("t")).as("_toks"))
        .select(TextFunctions.nGramShinglesFromTokens(col("_toks"), n).as("s"))
        .head.getSeq[String](0)
    }
    assert(sh("a b c d", 3) == Seq("a b c", "b c d"))
    assert(sh("a b c d", 2) == Seq("a b", "b c", "c d"))
    assert(sh("a b", 3) == Seq.empty)   // fewer tokens than n → empty, not error
    assert(sh("a", 5) == Seq.empty)
  }

  test("nGramShingles: NULL token array → empty array (HOF parity)") {
    // the HOF this kernel replaced mapped a NULL token array to the
    // EMPTY array (size(NULL) >= n is NULL → otherwise branch); the
    // kernel must never silently diverge on a nullable token column.
    import graft.functions.TextFunctions
    import spark.implicits._
    val rows = Seq((1, Seq("a", "b", "c")), (2, null))
      .toDF("id", "toks")
      .select(col("id"),
        TextFunctions.nGramShinglesFromTokens(col("toks"), 2).as("s"))
      .orderBy("id").collect()
    assert(rows(0).getSeq[String](1) == Seq("a b", "b c"))
    assert(!rows(1).isNullAt(1) && rows(1).getSeq[String](1).isEmpty)
  }

  test("rolling_hash kernel: HOF parity incl. empty and null") {
    import graft.functions.TextFunctions
    import spark.implicits._
    // reference = the exact HOF the kernel replaced
    def hofRoll(toks: org.apache.spark.sql.Column) =
      aggregate(transform(toks, t => TextFunctions.hash32(t)), lit(0L),
        (acc, x) => pmod(acc * lit(31L) + x, lit(4294967296L)))
    val df = Seq("a b c", "hello", "", "x y z w v u t s").toDF("t")
      .select(TextFunctions.tokens(col("t")).as("tk"))
      .select(TextFunctions.rollingHash(col("tk")).as("k"),
        hofRoll(col("tk")).as("h"))
    assert(df.collect().forall(r => r.get(0) == r.get(1)))
    // null array → null, like aggregate(null, ...)
    val nr = Seq((1, null: Seq[String])).toDF("id", "tk")
      .select(TextFunctions.rollingHash(col("tk"))).head
    assert(nr.isNullAt(0))
  }

  test("token_len_sum kernel: HOF parity incl. empty and null") {
    import graft.functions.TextFunctions
    import spark.implicits._
    val df = Seq(Seq("ab", "c", "défg"), Seq.empty[String], null)
      .toDF("tk")
      .select(TextFunctions.tokenLengthSum(col("tk")).as("k"),
        aggregate(transform(col("tk"), x => length(x)), lit(0),
          (acc, x) => acc + x).as("h"))
    assert(df.collect().forall(r => r.get(0) == r.get(1)))
  }

  /** Rows of `build()` computed twice: with the projection folded into
    * the local relation by the optimizer (interpreted `eval`), and with
    * that folding excluded, through whole-stage codegen. */
  private def interpretedAndCodegen(build: () => org.apache.spark.sql.DataFrame)
      : Seq[Seq[org.apache.spark.sql.Row]] = {
    val folded = build().collect().toSeq
    val generated = StreamHarness.withConfs("spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")(build().collect().toSeq)
    Seq(folded, generated)
  }

  /** Asserts kernel column `k` equals HOF column `h`, row by row, on both
    * evaluation paths, and returns the kernel values by `id`. */
  private def assertParity(build: () => org.apache.spark.sql.DataFrame): Map[Int, Any] = {
    val paths = interpretedAndCodegen(build)
    paths.foreach(_.foreach { r =>
      assert(r.getAs[Any]("k") == r.getAs[Any]("h"),
        s"id ${r.getAs[Int]("id")}: kernel ${r.getAs[Any]("k")} vs HOF ${r.getAs[Any]("h")}")
    })
    val byId = paths.map(_.map(r => r.getAs[Int]("id") -> r.getAs[Any]("k")).toMap)
    assert(byId(0) == byId(1), "interpreted and codegen paths disagree")
    byId(0)
  }

  test("quant_abs_err_sum kernel: HOF parity incl. empty, null scale, null, float") {
    // reference = the exact HOF the kernel replaced (v6)
    def hofQuant(v: org.apache.spark.sql.Column, sc: org.apache.spark.sql.Column) =
      aggregate(transform(v, x => abs(x.cast("double") - floor(x.cast("double") * sc) / sc)),
        lit(0.0), (acc, x) => acc + x)
    val data = spark.sql(
      """SELECT * FROM VALUES
        |  (1, array(0.5D, -1.25D, 3.0D, 0.0D), 42.333D),
        |  (2, CAST(array() AS ARRAY<DOUBLE>), 10.0D),
        |  (3, CAST(array() AS ARRAY<DOUBLE>), CAST(NULL AS DOUBLE)),
        |  (4, array(0.5D, NULL, 1.0D), 10.0D),
        |  (5, CAST(NULL AS ARRAY<DOUBLE>), 10.0D),
        |  (6, array(0.3D, 0.7D), CAST(NULL AS DOUBLE))
        |AS t(id, v, sc)""".stripMargin)
    Seq("array<double>", "array<float>").foreach { tpe =>
      val k = assertParity(() => data.select(col("id"), col("v").cast(tpe).as("v"), col("sc"))
        .select(col("id"),
          call_function("quant_abs_err_sum", col("v"), col("sc")).as("k"),
          hofQuant(col("v"), col("sc")).as("h")))
      assert(k(1) != null, tpe)
      // an empty array folds to the 0.0 init, even under a NULL scale
      assert(k(2) == 0.0 && k(3) == 0.0, tpe)
      // a null element, a null array, or a NULL scale over elements → NULL
      assert(k(4) == null && k(5) == null && k(6) == null, tpe)
    }
  }

  test("gauss_log_sum kernel: HOF parity incl. empty, null, dim out of range, float") {
    // reference = the same Σ over the stats array as an HOF fold
    def hofGauss(x: org.apache.spark.sql.Column, st: org.apache.spark.sql.Column) =
      aggregate(st, lit(0.0), (acc, s) => {
        val d = get(x, s.getField("dim")).cast("double") - s.getField("mu")
        acc + (ln(lit(2.0 * math.Pi) * s.getField("v")) + d * d / s.getField("v"))
      })
    def st(entries: String) = s"CAST(array($entries) AS ARRAY<STRUCT<dim: INT, mu: DOUBLE, v: DOUBLE>>)"
    val two = "named_struct('dim', 0, 'mu', 0.1D, 'v', 0.5D), " +
      "named_struct('dim', 2, 'mu', 1.0D, 'v', 2.0D)"
    val x = "array(0.5D, -1.0D, 2.25D)"
    val data = spark.sql(
      s"""SELECT * FROM VALUES
         |  (1, $x, ${st(two)}),
         |  (2, $x, ${st("")}),
         |  (3, CAST(NULL AS ARRAY<DOUBLE>), ${st("")}),
         |  (4, $x, ${st("named_struct('dim', 3, 'mu', 0.0D, 'v', 1.0D)")}),
         |  (5, $x, ${st("named_struct('dim', -1, 'mu', 0.0D, 'v', 1.0D)")}),
         |  (6, array(0.5D, -1.0D, NULL), ${st(two)}),
         |  (7, array(0.5D, NULL, 2.25D), ${st(two)}),
         |  (8, CAST(NULL AS ARRAY<DOUBLE>), ${st(two)}),
         |  (9, $x, CAST(NULL AS ARRAY<STRUCT<dim: INT, mu: DOUBLE, v: DOUBLE>>)),
         |  (10, $x, ${st(s"$two, NULL")}),
         |  (11, $x, ${st("named_struct('dim', 1, 'mu', 0.0D, 'v', 0.0D)")})
         |AS t(id, x, st)""".stripMargin)
    Seq("array<double>", "array<float>").foreach { tpe =>
      val k = assertParity(() => data.select(col("id"), col("x").cast(tpe).as("x"), col("st"))
        .select(col("id"),
          call_function("gauss_log_sum", col("x"), col("st")).as("k"),
          hofGauss(col("x"), col("st")).as("h")))
      assert(k(1) != null && k(7) != null, tpe) // a null element at an unused dim is fine
      // empty stats fold to the 0.0 init, even for a NULL vector
      assert(k(2) == 0.0 && k(3) == 0.0, tpe)
      // dim out of range either way, a null element at a used dim, a null
      // vector or stats array, a null entry, v = 0 (SQL ln is NULL) → NULL
      Seq(4, 5, 6, 8, 9, 10, 11).foreach(i => assert(k(i) == null, s"$tpe id $i"))
    }
  }

  test("SQL registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT is_alpha('abc') a, is_digit('12') d, split_index('x:y', ':', 1) s").head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getString(2) == "y")
  }

  test("INITCAP and CONVERT_TZ stragglers (no DuckDB oracle twin — value-pinned here)") {
    // the reference's INITCAP and CONVERT_TZ map onto Spark's initcap
    // and convert_timezone; DuckDB has neither, so the f-corpus cannot
    // oracle them — pin exact values instead (f15 covers the rest of
    // the straggler battery through the gate).
    val r = spark.sql(
      """SELECT initcap('hello spark WORLD') ic,
        |  CAST(convert_timezone('UTC', 'America/New_York',
        |       TIMESTAMP_NTZ'2024-01-15 12:00:00') AS STRING) tz,
        |  CAST(convert_timezone('UTC', 'Asia/Tokyo',
        |       TIMESTAMP_NTZ'2024-06-01 00:30:00') AS STRING) tz2""".stripMargin).head
    assert(r.getString(0) == "Hello Spark World")
    assert(r.getString(1) == "2024-01-15 07:00:00")   // EST = UTC-5 in January
    assert(r.getString(2) == "2024-06-01 09:30:00")   // JST = UTC+9
  }

  test("hash_code = Java String.hashCode; sha224/384/512 named spellings (r10)") {
    val spark = StreamHarness.spark
    val r = spark.sql(
      """SELECT hash_code('abc'), hash_code(''), hash_code('graft engine'),
        |  hash_code(CAST(NULL AS STRING)),
        |  sha224('abc'), sha384('abc'), sha512('abc'), sha2('abc', 224)"""
        .stripMargin).head
    assert(r.getInt(0) == "abc".hashCode)          // 96354
    assert(r.getInt(1) == 0)
    assert(r.getInt(2) == "graft engine".hashCode) // wraps through negatives
    assert(r.isNullAt(3))
    // the named spellings ARE sha2(x, n): equality + the standard
    // digest lengths (hex chars = bits / 4)
    assert(r.getString(4) == r.getString(7))
    assert(r.getString(4).length == 56 && r.getString(5).length == 96 &&
      r.getString(6).length == 128)
    // NIST test vector for SHA-224("abc")
    assert(r.getString(4) ==
      "23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7")
    // codegen path: the expression evaluates inside whole-stage codegen
    // over a column, not just constant-folded
    val col = spark.range(3).selectExpr("hash_code(CAST(id AS STRING)) AS h")
      .collect().map(_.getInt(0)).toSeq
    assert(col == Seq("0".hashCode, "1".hashCode, "2".hashCode))
    // KEYVALUE: first-match wins, value may contain the kv separator
    // (split at the FIRST occurrence), missing key / empty str → null
    val kv = spark.sql(
      """SELECT keyvalue('a=1;b=2;a=3', ';', '=', 'a'),
        |  keyvalue('k==v;x=y', ';', '=', 'k'),
        |  keyvalue('a=1;b=2', ';', '=', 'z'),
        |  keyvalue('', ';', '=', 'a')""".stripMargin).head
    assert(kv.getString(0) == "1")   // first match, not last
    assert(kv.getString(1) == "=v")  // split at first kvSep
    assert(kv.isNullAt(2) && kv.isNullAt(3))
    // TRUNCATE: toward zero, shortest-decimal semantics (0.29 stays
    // 0.29 — a binary-scaled floor would give 0.28), negative scale
    // zeroes integer digits, negatives truncate toward zero
    val tr = spark.sql(
      """SELECT truncate(0.29D, 2), truncate(12.345D, 2), truncate(12.999D),
        |  truncate(1234, -2), truncate(-12.345D, 2)""".stripMargin).head
    assert(tr.getDouble(0) == 0.29)
    assert(tr.getDouble(1) == 12.34)
    assert(tr.getDouble(2) == 12.0)
    assert(tr.getDouble(3) == 1200.0)
    assert(tr.getDouble(4) == -12.34)
    // MATCH_PROCTIME() names the proc-time attribute route — loud
    val e = intercept[RuntimeException] {
      graft.operators.MatchRecognize.compile(
        """MATCH_RECOGNIZE (PARTITION BY key ORDER BY ts
          |  MEASURES MATCH_PROCTIME() AS p ONE ROW PER MATCH
          |  PATTERN (A) WITHIN INTERVAL '1' HOUR
          |  DEFINE A AS kind = 'x')""".stripMargin)
    }
    assert(e.getMessage.contains("MATCH_PROCTIME"), e.getMessage)
  }
}
