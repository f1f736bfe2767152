package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** SQL-script shell — the reference's SQL Client in its script role
  * (`flink-sql-client/.../SqlClient.java`: statements in, results
  * rendered as the tableau view of `CliTableauResultView.java`; the
  * whole client is a thin REPL over `TableEnvironment.executeSql`).
  * This shell is the same thin layer over [[GraftSqlExecutor]]: split
  * a script into statements, execute each through the single door,
  * print each result as a bordered table.
  *
  * `runMain graft.SqlShell script.sql` — or no argument to read the
  * script from stdin. Errors abort the script at the failing
  * statement, naming it (the reference's client does the same in
  * script mode).
  */
object SqlShell {

  /** Statement split for a whole script: ';' outside string literals
    * and comments, with one structural exception — a
    * `[EXECUTE] [BEGIN] STATEMENT SET … END` block keeps its interior
    * ';'s (they separate the set's INSERTs, not script statements).
    * Comments are PRESERVED in the statement text (the lexer below
    * each statement door strips them); they only stop mattering for
    * the split itself. */
  def splitScript(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val sb = new StringBuilder
    var i = 0
    var inQuote = false
    var inLineComment = false
    var inBlockComment = false
    var inStatementSet = false
    def statementSoFar = sb.toString
    def atWordBoundary(word: String): Boolean = {
      // did the buffer just complete this word (case-insensitive)?
      val s = statementSoFar
      s.length >= word.length &&
        s.takeRight(word.length).equalsIgnoreCase(word) &&
        (s.length == word.length ||
          !Character.isLetterOrDigit(s.charAt(s.length - word.length - 1)))
    }
    while (i < script.length) {
      val c = script.charAt(i)
      val c2 = if (i + 1 < script.length) script.charAt(i + 1) else '\u0000'
      if (inLineComment) {
        sb += c
        if (c == '\n') inLineComment = false
      } else if (inBlockComment) {
        sb += c
        if (c == '*' && c2 == '/') { sb += c2; i += 1; inBlockComment = false }
      } else if (inQuote) {
        sb += c
        if (c == '\'') inQuote = false
      } else c match {
        case '\'' => inQuote = true; sb += c
        case '-' if c2 == '-' => inLineComment = true; sb += c; sb += c2; i += 1
        case '/' if c2 == '*' => inBlockComment = true; sb += c; sb += c2; i += 1
        case ';' =>
          if (inStatementSet) {
            sb += c
            if (atWordBoundary("END;")) {
              out += statementSoFar.trim
              sb.clear(); inStatementSet = false
            }
          } else {
            out += statementSoFar.trim
            sb.clear()
          }
        case _ =>
          sb += c
          if (!inStatementSet && c.isLetter && atWordBoundary("SET")) {
            // comment-tolerant head check: a leading comment must not
            // hide the STATEMENT SET opener from the splitter
            val s = statementSoFar
              .replaceAll("(?s)/\\*.*?\\*/", " ")
              .linesIterator.map(_.replaceAll("--.*$", "")).mkString(" ")
              .trim.toUpperCase.replaceAll("\\s+", " ")
            if (s == "STATEMENT SET" || s == "BEGIN STATEMENT SET" ||
                s == "EXECUTE STATEMENT SET")
              inStatementSet = true
          }
      }
      i += 1
    }
    require(!inStatementSet,
      "unterminated STATEMENT SET (missing END;) at end of script")
    if (sb.toString.trim.nonEmpty) out += sb.toString.trim
    out.result().filter(_.nonEmpty)
  }

  /** Bordered result rendering (CliTableauResultView's shape):
    * {{{
    * +----+-------+
    * | id | name  |
    * +----+-------+
    * |  1 | alice |
    * +----+-------+
    * 1 row in set
    * }}} */
  def renderTableau(df: DataFrame, maxRows: Int = 100): String = {
    val header = df.schema.fieldNames.toSeq
    val all = df.take(maxRows + 1)
    val truncated = all.length > maxRows
    val rows = all.take(maxRows).map(_.toSeq.map {
      case null => "NULL"
      case b: Array[Byte] => s"bytes(${b.length})"
      case v => v.toString
    })
    val widths = header.indices.map(c =>
      (header(c).length +: rows.map(_(c).length)).max)
    def border = widths.map(w => "-" * (w + 2)).mkString("+", "+", "+")
    def line(vs: Seq[String]) = vs.zip(widths)
      .map { case (v, w) => " " + v.padTo(w, ' ') + " " }
      .mkString("|", "|", "|")
    val body = rows.map(r => line(r.toSeq))
    val n = rows.length
    (Seq(border, line(header), border) ++ body ++ Seq(border,
      s"$n row${if (n == 1) "" else "s"} in set" +
        (if (truncated) s" (showing first $maxRows)" else ""))).mkString("\n")
  }

  /** Interactive CHANGELOG RESULT VIEW for a streaming SELECT — the
    * reference's `CliChangelogResultView.java` (the SQL client renders
    * a streaming query's result incrementally, one changelog row per
    * emitted change, in the `+I`/`-U`/`+U`/`-D` notation of its
    * changelog mode). The Spark analog drives the streaming frame
    * through `foreachBatch` and diffs each micro-batch against the
    * view's key→row state:
    *
    *  - a key seen for the first time renders `+I [values]`;
    *  - a key whose row changed renders `-U [old]` then `+U [new]`
    *    (update-before/update-after, the reference's retract pair);
    *  - under `complete = true` (a Complete-mode query re-emits the
    *    whole table each batch) a key that disappeared renders
    *    `-D [old]` — Update-mode sinks never see deletions, exactly
    *    like the reference's upsert changelog.
    *
    * The key→row state and the per-batch render are DRIVER-side by
    * design: this is the terminal view of an interactive client, and
    * its cardinality is the result table's (a keyed aggregate), not
    * the stream's — the same bounded-materialization trade the
    * reference's result view makes. `maxRowsPerBatch` caps a runaway
    * batch render loudly instead of flooding the terminal. */
  final class ChangelogResultView private[SqlShell] (
      df: DataFrame, keyCols: Seq[String], complete: Boolean,
      emit: String => Unit, maxRowsPerBatch: Int) {
    require(keyCols.nonEmpty, "changelog view needs the result's key columns")
    keyCols.foreach(k => require(df.columns.contains(k),
      s"key column '$k' not in result schema ${df.columns.mkString(", ")}"))
    private val state = scala.collection.mutable.LinkedHashMap
      .empty[Seq[Any], Seq[Any]]
    private def render(vs: Seq[Any]): String =
      vs.map { case null => "NULL"; case v => v.toString }
        .mkString("[", ", ", "]")

    private def onBatch(batch: DataFrame, @annotation.unused id: Long): Unit = {
      val keyIdx = keyCols.map(batch.columns.indexOf(_))
      val rows = batch.take(maxRowsPerBatch + 1)
      val overflow = rows.length > maxRowsPerBatch
      val seen = scala.collection.mutable.LinkedHashSet.empty[Seq[Any]]
      rows.take(maxRowsPerBatch).foreach { r: Row =>
        val vs = r.toSeq
        val k = keyIdx.map(vs(_))
        seen += k
        state.get(k) match {
          case None => emit(s"+I ${render(vs)}"); state(k) = vs
          case Some(old) if old != vs =>
            emit(s"-U ${render(old)}"); emit(s"+U ${render(vs)}")
            state(k) = vs
          case Some(_) => // unchanged re-emission (Complete mode): silent
        }
      }
      if (complete)
        state.keys.filterNot(seen).toSeq.foreach { k =>
          emit(s"-D ${render(state(k))}"); state.remove(k)
        }
      if (overflow)
        emit(s"!! batch truncated at $maxRowsPerBatch rows — narrow the query")
    }

    /** Started on construction; the caller pumps the source and calls
      * [[processAllAvailable]] / [[stop]] like any streaming query. */
    val query: org.apache.spark.sql.streaming.StreamingQuery =
      graft.streaming.StreamRunner.start(df.sparkSession, df.writeStream
        .outputMode(if (complete) "complete" else "update")
        .foreachBatch(onBatch _))
    def processAllAvailable(): Unit = query.processAllAvailable()
    def stop(): Unit = query.stop()
  }

  /** Open the changelog view over a streaming SELECT result. */
  def changelogView(df: DataFrame, keyCols: Seq[String],
                    complete: Boolean = false,
                    emit: String => Unit = println,
                    maxRowsPerBatch: Int = 1000): ChangelogResultView = {
    require(df.isStreaming, "changelog view is for STREAMING results — " +
      "batch results render through the tableau view")
    new ChangelogResultView(df, keyCols, complete, emit, maxRowsPerBatch)
  }

  /** The view's upsert key for a streaming result: the top-level
    * aggregate's grouping columns (an Update-mode result is keyed by
    * them — where the reference's planner reads the unique key for
    * its upsert changelog). A result with no aggregate is append-only:
    * full-row keys make every arrival render `+I`, which is exactly
    * its changelog. */
  private[graft] def inferKeyCols(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    df.queryExecution.analyzed.collectFirst {
      case a: Aggregate => a.groupingExpressions.collect {
        case n: org.apache.spark.sql.catalyst.expressions.NamedExpression =>
          n.name
      }
    }.filter(ks => ks.nonEmpty && ks.forall(df.columns.contains))
      .getOrElse(df.columns.toSeq)
  }

  private val sourceRe = """(?is)^\s*SOURCE\s+(\S+)\s*;?\s*$""".r
  private val quitRe = """(?is)^\s*(QUIT|EXIT)\s*;?\s*$""".r
  private val clearRe = """(?is)^\s*CLEAR\s*;?\s*$""".r
  private val helpRe = """(?is)^\s*HELP\s*;?\s*$""".r

  /** The client command summary (CliStrings.MESSAGE_HELP's role). */
  private val helpText = Seq(
    "QUIT/EXIT — stop the script here",
    "CLEAR — no-op in script mode (clears the screen in a terminal)",
    "HELP — this text",
    "SET [key=value] — list / set session properties",
    "RESET [key] — restore all / one client-set property",
    "SOURCE <file> — inline another script",
    "EXPLAIN [PLAN FOR | CHANGELOG_MODE | ESTIMATED_COST] <stmt>",
    "plus every SQL statement: CREATE/ALTER/DROP TABLE|VIEW|FUNCTION|" +
      "CATALOG|DATABASE, INSERT, STATEMENT SET, DESCRIBE, SHOW, USE, " +
      "SELECT ... [MATCH_RECOGNIZE]")

  /** Execute every statement of a script in order; returns
    * (statement, result) pairs. Fails at the first failing statement,
    * naming it. The client-level commands of SqlCommandParser.java:219
    * are handled here, as in the reference's CliClient (they never
    * reach the statement door): `SOURCE <file>` inlines another
    * script (depth-capped so self-sourcing is a loud error, not a
    * hang), `QUIT`/`EXIT` stops the script at that point, `CLEAR` is
    * a script-mode no-op, `HELP` prints the command summary. */
  def runScript(spark: SparkSession, script: String,
                depth: Int = 0): Seq[(String, DataFrame)] =
    runScript0(spark, script, depth)._1

  /** Returns (results, quit): QUIT anywhere — including inside a
    * SOURCE'd file — stops the WHOLE script, as the reference client
    * exits entirely. */
  private def runScript0(spark: SparkSession, script: String,
                         depth: Int): (Seq[(String, DataFrame)], Boolean) = {
    require(depth <= 16,
      "SOURCE nesting exceeds 16 levels — is a script sourcing itself?")
    import spark.implicits._
    val out = Seq.newBuilder[(String, DataFrame)]
    val stmts = splitScript(script).iterator
    var quit = false
    while (!quit && stmts.hasNext) {
      stmts.next() match {
        case stmt @ quitRe(_) =>
          out += ((stmt, Seq("bye").toDF("result")))
          quit = true
        case stmt @ clearRe() =>
          out += ((stmt, Seq.empty[String].toDF("result")))
        case stmt @ helpRe() =>
          out += ((stmt, helpText.toDF("command")))
        case stmt @ sourceRe(path) =>
          val sub =
            try new String(java.nio.file.Files.readAllBytes(
              java.nio.file.Paths.get(path)), "UTF-8")
            catch {
              case e: Exception => throw new RuntimeException(
                s"statement failed: ${stmt.take(80)}\n  ${e.getMessage}", e)
            }
          val (subOut, subQuit) = runScript0(spark, sub, depth + 1)
          out ++= subOut
          quit = subQuit
        case stmt =>
          val df =
            try GraftSqlExecutor.executeSql(spark, stmt)
            catch {
              case e: Exception =>
                throw new RuntimeException(
                  s"statement failed: ${stmt.linesIterator.next().take(80)}…\n  ${e.getMessage}",
                  e)
            }
          out += ((stmt, df))
      }
    }
    (out.result(), quit)
  }

  def main(args: Array[String]): Unit = {
    val script = args.headOption match {
      case Some(path) => new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      case None => scala.io.Source.stdin.mkString
    }
    val spark = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[${math.min(Runtime.getRuntime.availableProcessors, 32)}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try runScript(spark, script).foreach { case (stmt, df) =>
      println(s"> ${stmt.linesIterator.mkString(" ").take(100)}")
      if (df.isStreaming) {
        // streaming SELECT → changelog result view: drain whatever the
        // source has, render the changelog, move to the next statement
        val view = changelogView(df, inferKeyCols(df))
        try view.processAllAvailable() finally view.stop()
      } else println(renderTableau(df))
      println()
    } finally spark.stop()
  }
}
