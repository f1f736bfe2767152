package graft.sources

import graft.sources.{SqlText => S}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Statement-level MATCH_RECOGNIZE SQL (SURVEY.md §2.9 — the
  * reference parses the full clause in flink-sql-parser and plans it
  * at StreamExecMatch.scala:68; its ITCase corpus writes
  *
  * {{{
  * SELECT * FROM events MATCH_RECOGNIZE (
  *   PARTITION BY user_id ORDER BY ts
  *   MEASURES A.event_id AS a_id, LAST(B.value) AS b_value
  *   ONE ROW PER MATCH
  *   AFTER MATCH SKIP TO NEXT ROW
  *   PATTERN (A B+) WITHIN INTERVAL '2' HOUR
  *   DEFINE A AS event_type = 'signup', B AS event_type = 'click'
  * ) [AS T] [ORDER BY ...]
  * }}}
  *
  * The round-6 repo had the full capability — clause compilation,
  * batch NFA, true streaming operator — but only as the
  * `lib:MatchRecognize` facade taking a pre-canonicalized event
  * frame. This object closes the statement surface: it parses the
  * statement on the [[SqlText]] token model, canonicalizes the FROM
  * table's columns from the clause's own PARTITION BY / ORDER BY
  * (key ← partition column, tsMicros ← order column — exactly where
  * the reference's planner reads the partitioning and the rowtime
  * order of a MATCH), and routes: a batch view to
  * [[graft.operators.MatchRecognize.run]], a STREAMING view to
  * [[graft.streaming.StreamingMatchRecognize]] (a clause with MEASURES
  * to its `measures` door, ONE ROW PER MATCH as in the reference; one
  * without to the PMatch-shaped `apply`). The partition column
  * keeps its original name in the output, as the reference emits it.
  *
  * Requirements the canonicalization enforces loudly: the order
  * column must be a timestamp or epoch-micros long, and the table must
  * carry an `id`/`event_id` tiebreak column (the NFA's deterministic
  * within-timestamp order; the reference leaves equal-rowtime order
  * undefined — this engine pins it). PARTITION BY accepts any number
  * of columns of any type on batch views (general surrogate-key path —
  * see [[canonicalize]]); STREAMING views need one integral partition
  * column and no secondary ORDER BY columns (the incremental
  * operator's keyed-state shape).
  */
object MatchRecognizeSql {

  private final case class Parsed(selStar: Boolean, selCols: Seq[String],
                                  table: String, clause: String,
                                  partCols: Seq[String], orderCol: String,
                                  orderExtra: Seq[(String, Boolean)],
                                  orderBy: Seq[(String, Boolean)])

  private def parse(sql: String): Parsed = {
    val toks = S.lex(sql)
    def at(i: Int, kw: String) = i < toks.length && toks(i).is(kw)
    def isSym(i: Int, s: String) =
      i < toks.length && toks(i).kind == S.Sym && toks(i).text == s
    require(toks.nonEmpty && toks.head.is("SELECT"),
      s"MATCH_RECOGNIZE statement must start with SELECT: $sql")
    val fromIdx = toks.indexWhere(_.is("FROM"))
    require(fromIdx > 0, s"missing FROM: $sql")
    val selToks = toks.slice(1, fromIdx)
    val selStar = selToks.length == 1 && selToks.head.text == "*"
    val selCols =
      if (selStar) Seq.empty
      else S.splitTopLevel(toks, 1, fromIdx).map { case (a, b) =>
        require(b - a == 1 && (toks(a).kind == S.Ident || toks(a).kind == S.QIdent),
          "statement SELECT list supports * or bare output columns " +
            s"(project/alias inside MEASURES): ${S.textOf(sql, toks, a, b)}")
        toks(a).ident
      }
    require(fromIdx + 1 < toks.length &&
      (toks(fromIdx + 1).kind == S.Ident || toks(fromIdx + 1).kind == S.QIdent),
      s"FROM must name a table/view: $sql")
    val table = toks(fromIdx + 1).ident
    val mrIdx = fromIdx + 2
    require(at(mrIdx, "MATCH_RECOGNIZE") && isSym(mrIdx + 1, "("),
      s"expected MATCH_RECOGNIZE ( after FROM $table: $sql")
    val close = S.closeParen(toks, mrIdx + 1)
    val clause = sql.substring(toks(mrIdx).start, toks(close).end)
    // clause-level PARTITION BY <col>[, <col>...] ORDER BY
    // <timecol> [, <col> [ASC|DESC]]... (the reference accepts any
    // number of partition columns of any type — MatchRecognizeITCase
    // testCodeSplitsAreProperlyGenerated partitions by TWO STRING
    // columns — and secondary sort keys after the time attribute —
    // testEventsAreProperlyOrdered orders by rowtime, secondaryOrder
    // DESC, ternaryOrder ASC)
    val partCols = Seq.newBuilder[String]
    var orderCol: String = null
    val orderExtra = Seq.newBuilder[(String, Boolean)]
    var i = mrIdx + 2
    while (i < close) {
      if (at(i, "PARTITION") && at(i + 1, "BY")) {
        require(i + 2 < close, "PARTITION BY needs a column")
        partCols += toks(i + 2).ident
        i += 3
        while (i < close && isSym(i, ",")) {
          require(i + 1 < close, "PARTITION BY: trailing comma")
          partCols += toks(i + 1).ident
          i += 2
        }
      } else if (at(i, "ORDER") && at(i + 1, "BY") && orderCol == null) {
        require(i + 2 < close, "ORDER BY needs a column")
        orderCol = toks(i + 2).ident
        i += 3
        // the primary (time) column must sort ascending — the
        // reference rejects a DESC time attribute ("You must specify
        // either rowtime or proctime ... ascending")
        if (i < close && toks(i).is("ASC")) i += 1
        require(i >= close || !toks(i).is("DESC"),
          "the MATCH_RECOGNIZE ORDER BY time attribute must be ascending")
        while (i < close && isSym(i, ",")) {
          require(i + 1 < close, "ORDER BY: trailing comma")
          val c = toks(i + 1).ident
          i += 2
          var asc = true
          if (i < close && toks(i).is("DESC")) { asc = false; i += 1 }
          else if (i < close && toks(i).is("ASC")) i += 1
          orderExtra += ((c, asc))
        }
      } else i += 1
    }
    val pCols = partCols.result()
    require(pCols.nonEmpty, s"MATCH_RECOGNIZE requires PARTITION BY: $sql")
    require(pCols.distinct.size == pCols.size,
      s"duplicate PARTITION BY column: ${pCols.mkString(", ")}")
    require(orderCol != null, s"MATCH_RECOGNIZE requires ORDER BY: $sql")
    // optional [AS alias] then optional statement ORDER BY
    var j = close + 1
    if (at(j, "AS")) j += 1
    if (j < toks.length && (toks(j).kind == S.Ident || toks(j).kind == S.QIdent)
        && !toks(j).is("ORDER")) j += 1
    val orderBy = Seq.newBuilder[(String, Boolean)]
    if (at(j, "ORDER") && at(j + 1, "BY")) {
      S.splitTopLevel(toks, j + 2, toks.length).foreach { case (a, b) =>
        val col = toks(a).ident
        val asc = !(b - a > 1 && toks(b - 1).is("DESC"))
        orderBy += ((col, asc))
      }
      j = toks.length
    }
    require(j >= toks.length || (isSym(j, ";") && j == toks.length - 1),
      s"unsupported trailing text after MATCH_RECOGNIZE: " +
        S.textOf(sql, toks, j, toks.length))
    Parsed(selStar, selCols, table, clause, pCols, orderCol,
      orderExtra.result(), orderBy.result())
  }

  /** Canonicalized event frame plus, for the general (non-integral /
    * multi-column) PARTITION BY path, the surrogate-key → partition
    * tuple map the output joins back through. */
  private final case class Canon(events: DataFrame, keyMap: Option[DataFrame])

  /** Canonicalize the source columns for the NFA: key/tsMicros/id
    * derived from the clause's PARTITION BY / ORDER BY; every original
    * column (the partition columns included) stays visible to DEFINE
    * and MEASURES.
    *
    * PARTITION BY shapes:
    *  - ONE INTEGRAL column — the fast path: it casts straight into
    *    the NFA's long state key, zero extra work (and the only shape
    *    the incremental STREAMING operator accepts).
    *  - anything else (string keys, multiple columns — the reference
    *    allows both, e.g. MatchRecognizeITCase
    *    testCodeSplitsAreProperlyGenerated's PARTITION BY key1, key2
    *    over strings): BATCH-only general path. The state key is
    *    xxhash64 over the partition columns (deterministic, so
    *    re-evaluated plan branches agree); the door verifies
    *    injectivity on this input with one distinct-aggregate job
    *    over the DISTINCT partition tuples (count(distinct tuple) per
    *    hash > 1 → loud error, never a silent partition merge), and
    *    the output joins the surrogate back to the tuple columns.
    *    Scale shape: the distinct-agg's map-side partial absorbs the
    *    event volume; the join-back is an equi-join on the hash (AQE
    *    broadcasts the map when small). No global sort, no collect.
    *
    * Secondary ORDER BY columns (`ORDER BY ts, v DESC, u`): the
    * canonical sequence id becomes row_number() over (key; ts,
    * extras..., idCol) — the NFA's (ts, id) sort then equals the
    * declared total order, so strict adjacency follows the clause's
    * ordering on timestamp TIES exactly as the reference's
    * testEventsAreProperlyOrdered pins. Costs one extra hash shuffle
    * on the same key ahead of the NFA's own (narrow — the projected
    * canonical columns only), paid only when secondary columns are
    * declared. The original id column keeps riding as `event_id` for
    * MEASURES/DEFINE. Batch-only (a streaming row_number over the key
    * is unbounded state).
    */
  private def canonicalize(src: DataFrame, p: Parsed): Canon = {
    val fields = src.schema.fields.map(f => f.name -> f.dataType).toMap
    p.partCols.foreach(c => require(fields.contains(c),
      s"PARTITION BY column '$c' not in ${p.table}"))
    val integralFast = p.partCols.size == 1 &&
      Seq("tinyint", "smallint", "int", "bigint")
        .contains(fields(p.partCols.head).simpleString)
    if (src.isStreaming) {
      require(integralFast, "streaming MATCH_RECOGNIZE needs ONE integral " +
        s"PARTITION BY column (the incremental operator's state key); got " +
        s"${p.partCols.map(c => s"$c: ${fields(c).simpleString}").mkString(", ")}" +
        " — run on a batch view, or pre-map the key to an integral column")
      require(p.orderExtra.isEmpty, "streaming MATCH_RECOGNIZE orders by " +
        "(time attribute, id) only — secondary ORDER BY columns are batch-only")
    }
    val tsExpr = fields.getOrElse(p.orderCol,
      sys.error(s"ORDER BY column '${p.orderCol}' not in ${p.table}")) match {
      case TimestampType | TimestampNTZType => unix_micros(col(p.orderCol).cast("timestamp"))
      case LongType => col(p.orderCol)
      case other => sys.error(
        s"ORDER BY column must be a timestamp or epoch-micros long, " +
          s"got ${p.orderCol}: $other")
    }
    p.orderExtra.foreach { case (c, _) => require(fields.contains(c),
      s"ORDER BY column '$c' not in ${p.table}") }
    // with secondary ORDER BY columns the canonical `id` becomes the
    // row_number sequence — a source column named `id` would have its
    // DEFINE/MEASURES references silently repointed at the surrogate,
    // so that shape requires the unambiguous `event_id` spelling
    // (review r11)
    val idCol =
      (if (p.orderExtra.isEmpty) Seq("id", "event_id") else Seq("event_id"))
        .find(fields.contains).getOrElse(sys.error(
          if (p.orderExtra.isEmpty)
            s"${p.table} needs an id/event_id column (the deterministic " +
              "within-timestamp tiebreak)"
          else s"${p.table} needs an event_id column: secondary ORDER BY " +
            "columns re-derive the canonical sequence id, and a column " +
            "named `id` would be shadowed by it — rename the tiebreak " +
            "column to event_id"))
    // the shadow check must also fire when BOTH id and event_id exist:
    // idCol resolves to event_id, but a source `id` column would still
    // be silently repointed at the row_number surrogate by every
    // DEFINE/MEASURES reference (advisor r11) — reject it loudly
    if (p.orderExtra.nonEmpty) require(!fields.contains("id"),
      s"${p.table} has a column named `id`: with secondary ORDER BY " +
        "columns the canonical sequence id is re-derived and would " +
        "shadow it — rename the source column in a view first")
    // general-path partition columns may not collide with the
    // canonical frame's own names: the surrogate overwrites `key`, and
    // tsMicros/id/event_id are consumed by the canonicalization — a
    // DEFINE/MEASURES reference to the original would silently read
    // the canonical value instead
    if (!integralFast) {
      val clash = p.partCols.toSet
        .intersect(Set("key", "tsMicros", "id", "event_id"))
      require(clash.isEmpty, "multi-column/non-integral PARTITION BY " +
        s"columns may not be named ${clash.mkString(", ")} (canonical " +
        "frame names) — rename the column(s) in a view first")
    }
    // xxhash64 SKIPS null inputs, so without discrimination the
    // distinct tuples ('a', NULL) and (NULL, 'a') hash identically and
    // the injectivity gate hard-fails legitimate nullable keys
    // (advisor r11): append per-column isnull flags — non-null
    // booleans always participate, so only true 64-bit collisions
    // remain
    def partHash = xxhash64(
      (p.partCols.map(col) ++ p.partCols.map(c => isnull(col(c)))): _*)
    val keyExpr =
      if (integralFast) col(p.partCols.head).cast("long")
      else partHash
    // the id column moves into the canonical `id`, and a copy is ALSO
    // exposed as `event_id`: DEFINE-side references (a running
    // COUNT(B.event_id)) read it from the events frame, while a
    // MEASURES reference like FIRST(A.event_id) resolves to the
    // bindings frame's event_id after the join-back (run() drops the
    // events-side copy before joining, so the reference stays
    // unambiguous). With secondary order columns the canonical id is
    // the row_number sequence instead — the user id stays readable as
    // event_id.
    val idExpr =
      if (p.orderExtra.isEmpty) col(idCol).cast("long")
      else {
        import org.apache.spark.sql.expressions.Window
        val ord = (tsExpr.asc +: p.orderExtra.map { case (c, asc) =>
          if (asc) col(c).asc else col(c).desc }) :+ col(idCol).asc
        row_number().over(
          Window.partitionBy(keyExpr).orderBy(ord: _*)).cast("long")
      }
    val passThrough = src.columns.toSeq
      .filterNot(Set("key", "tsMicros", "id", "event_id", idCol).contains)
      .map(col)
    val events = src.select(Seq(keyExpr.as("key"),
      tsExpr.cast("long").as("tsMicros"), idExpr.as("id"),
      col(idCol).cast("long").as("event_id"))
      ++ passThrough: _*)
    val keyMap =
      if (integralFast) None
      else Some(src.select(p.partCols.map(col): _*).distinct()
        .withColumn("key", partHash))
    Canon(events, keyMap)
  }

  /** Execute the full statement. Batch views run the batch NFA +
    * measure aggregation; streaming views run the incremental
    * operator (the MEASURES columns, or the PMatch shape without). */
  def sql(spark: SparkSession, stmt: String): DataFrame = {
    val p = parse(stmt)
    val src = spark.table(p.table)
    val Canon(events, keyMap) = canonicalize(src, p)
    // general-path injectivity gate: two distinct partition tuples
    // sharing a surrogate would silently merge their sequences — check
    // over the DISTINCT tuples (one agg job, partials absorb the
    // event volume) and fail loudly instead
    keyMap.foreach { km =>
      val collided = km.groupBy(col("key")).count()
        .filter(col("count") > 1).limit(1).count() > 0
      require(!collided, "PARTITION BY surrogate-key collision across " +
        s"distinct (${p.partCols.mkString(", ")}) tuples — re-key the " +
        "partition columns (e.g. add a disambiguating column)")
    }
    // a PROCTIME() ORDER BY (StreamExecMatch.scala:197 isProctime —
    // the reference accepts proc-time MATCH_RECOGNIZE) is in-order by
    // construction (micro-batch evaluation time is monotone), so the
    // ordering needs no out-of-orderness allowance: zero watermark
    // delay makes the within-timer fire as soon as processing time
    // passes anchor+within, the reference's proc-time firing (r10).
    // Micro-batch granularity is the documented delta: events of ONE
    // batch share a proctime; strict row-pattern adjacency breaks the
    // tie by id, so same-batch steps chain in id order (the reference
    // stamps per-event arrival times; a micro-batch engine pins the
    // id tiebreak as its sub-batch arrival order)
    val isProctime = src.schema.fields.find(_.name == p.orderCol)
      .exists(_.metadata.contains(GraftDDL.proctimeKey))
    val delay = if (isProctime) "0 seconds" else "10 minutes"
    val out0 =
      if (!src.isStreaming) graft.operators.MatchRecognize.run(spark, events, p.clause)
      else if (graft.operators.MatchRecognize.compile(p.clause).measures.nonEmpty)
        graft.streaming.StreamingMatchRecognize.measures(spark, events, p.clause, delay)
      else graft.streaming.StreamingMatchRecognize(spark, events, p.clause, delay).toDF()
    // the partition columns keep their declared names in the output:
    // fast path renames the canonical key back; general path joins the
    // surrogate → tuple map and leads with the partition columns (the
    // reference's SELECT * order)
    val out = keyMap match {
      case None =>
        if (p.partCols.head == "key") out0
        else out0.withColumnRenamed("key", p.partCols.head)
      case Some(km) =>
        val joined = out0.join(km, "key").drop("key")
        val rest = out0.columns.toSeq.filterNot(_ == "key")
        joined.select((p.partCols ++ rest).map(col): _*)
    }
    val selected =
      if (p.selStar) out
      else out.select(p.selCols.map(col): _*)
    if (p.orderBy.isEmpty) selected
    else selected.orderBy(p.orderBy.map { case (c, asc) =>
      if (asc) col(c).asc else col(c).desc }: _*)
  }
}
