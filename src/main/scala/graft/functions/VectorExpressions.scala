package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Runtime kernel for [[DotProduct]]. One tight unboxed loop over the
  * two ArrayData columns; `null` on length mismatch or any null
  * element — exactly the value the previous HOF formulation produced
  * (`zip_with` pads the shorter side with null, a null product poisons
  * the running sum). Summation is the same left-to-right double fold,
  * so results are bit-identical. */
object GraftVectors {
  def dot(a: ArrayData, b: ArrayData,
          aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Runtime kernel for [[WordNGrams]]: all word n-grams of a token
  * array in one pass. Bit-identical to the HOF form
  * `transform(sequence(1, size−n+1), i => concat_ws(" ", t[i..i+n−1]))`
  * — UTF8String.concatWs IS concat_ws (null elements skipped), and
  * fewer than n tokens yields the empty array. */
object GraftText {
  private val SEP = org.apache.spark.unsafe.types.UTF8String.fromString(" ")
  /** The empty shingle array — also the NULL-input result, matching the
    * replaced HOF (`when(size(t) >= n, ...).otherwise(empty)`: size(NULL)
    * is NULL, so a NULL token array fell through to the empty branch). */
  def empty(): ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[Any](0))
  def ngrams(t: ArrayData, n: Int): ArrayData = {
    if (t == null) return empty()
    val sz = t.numElements()
    if (sz < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(
      new Array[Any](0))
    val out = new Array[Any](sz - n + 1)
    var i = 0
    while (i <= sz - n) {
      val parts = new Array[org.apache.spark.unsafe.types.UTF8String](n)
      var j = 0
      while (j < n) {
        parts(j) = if (t.isNullAt(i + j)) null else t.getUTF8String(i + j)
        j += 1
      }
      out(i) = org.apache.spark.unsafe.types.UTF8String.concatWs(SEP,
        parts.toIndexedSeq: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Runtime kernels for [[RollingHash]] and [[TokenLengthSum]] (r15 —
  * the same interpreted-HOF replacement as GraftVectors/GraftText). */
object GraftTokens {
  /** Rabin–Karp fold over md5-derived 32-bit token hashes —
    * bit-identical to `aggregate(transform(toks, t => hash32(t)), 0L,
    * (acc, x) => pmod(acc·31 + x, 2³²))`: hash32 is the first 4 bytes
    * of md5(utf8) as an unsigned int, the fold stays < 2³⁷ so plain
    * long arithmetic is exact, and a null token poisons the fold to
    * null exactly like the HOF's null-propagating lambda. */
  private val MD5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def rollingHash(toks: ArrayData): java.lang.Long = {
    val md = MD5.get()
    val n = toks.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      md.reset()
      val d = md.digest(toks.getUTF8String(i).getBytes)
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      acc = (acc * 31L + h) % 4294967296L
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Σ length(token) with Int overflow semantics — bit-identical to
    * `aggregate(transform(toks, x => length(x)), 0, (acc, x) => acc+x)`
    * (length = number of codepoints; null token → null). */
  def tokenLengthSum(toks: ArrayData): java.lang.Integer = {
    val n = toks.numElements()
    var acc = 0
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      acc += toks.getUTF8String(i).numChars()
      i += 1
    }
    java.lang.Integer.valueOf(acc)
  }
}

/** Runtime kernel for [[QuantAbsErrSum]]. */
object GraftQuant {
  /** Σ |x − floor(x·sc)/sc| over a float/double array, left-to-right —
    * bit-identical to `aggregate(transform(v, x => abs(cast(x as
    * double) − floor(cast(x as double)·sc)/sc)), 0.0, +)`: the HOF
    * folds an empty array to the 0.0 init even when sc is NULL, and a
    * null element poisons the fold to null. */
  def sum(v: ArrayData, vFloat: Boolean, sc: java.lang.Double): java.lang.Double = {
    val n = v.numElements()
    if (n == 0) return java.lang.Double.valueOf(0.0)
    if (sc == null) return null
    val s = sc.doubleValue()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (v.isNullAt(i)) return null
      val x = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
      acc += math.abs(x - math.floor(x * s) / s)
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Runtime kernel for [[GaussLogSum]]. */
object GraftGauss {
  /** Σ over stat entries (dim, mu, v), in array order, of
    * ln(2π·v) + (x[dim] − mu)²/v — the inner sum of a diagonal-Gaussian
    * log-pdf. The caller passes the stats array sorted by dim, so the
    * fold order is deterministic (the exploded-join form it replaces
    * summed in nondeterministic join-emission order and relied on the
    * 6-dp round to absorb it). Bit-identical to
    * `aggregate(st, 0.0, (acc, s) -> acc + (ln(2π·s.v) +
    * (get(x, s.dim) − s.mu)·(get(x, s.dim) − s.mu)/s.v))`: an empty
    * stats array folds to 0.0 even for a NULL vector, and a null entry,
    * a null element at a used dim, a dim out of range or a v ≤ 0 (where
    * SQL `ln` is NULL) poisons the fold to null. */
  def sum(x: ArrayData, xFloat: Boolean, st: ArrayData): java.lang.Double = {
    val n = st.numElements()
    if (n == 0) return java.lang.Double.valueOf(0.0)
    if (x == null) return null
    val xs = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (st.isNullAt(i)) return null
      val row = st.getStruct(i, 3)
      if (row.isNullAt(0) || row.isNullAt(1) || row.isNullAt(2)) return null
      val dim = row.getInt(0)
      if (dim < 0 || dim >= xs || x.isNullAt(dim)) return null
      val mu = row.getDouble(1)
      val v = row.getDouble(2)
      val twoPiV = 2.0 * math.Pi * v
      if (twoPiV <= 0.0) return null // SQL ln is NULL there, not -Inf/NaN
      val xv = if (xFloat) x.getFloat(dim).toDouble else x.getDouble(dim)
      acc += math.log(twoPiV) + (xv - mu) * (xv - mu) / v
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** Diagonal-Gaussian log-pdf inner sum as ONE codegen'd expression
  * (r15, VERDICT item 6 last entry): lets v8 score each vector in a
  * map-only pass against broadcast per-label stat arrays instead of
  * re-exploding every vector 64× and joining the stats back row by
  * row. */
case class GaussLogSum(left: Expression, right: Expression)
    extends BinaryExpression {
  private def elemFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _) | ArrayType(DoubleType, _),
          ArrayType(StructType(fs), _)) if fs.length == 3 &&
        fs(0).dataType == IntegerType && fs(1).dataType == DoubleType &&
        fs(2).dataType == DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"gauss_log_sum needs (array<float|double>, array<struct<int,double,double>>), " +
        s"got ${l.simpleString} / ${r.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  // custom eval: the empty-stats → 0.0 case must win over a NULL
  // vector, so the vector side cannot go through null-intercepting
  // nullSafeEval
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val st = right.eval(input)
    if (st == null) return null
    GraftGauss.sum(left.eval(input).asInstanceOf[ArrayData], elemFloat,
      st.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = l.code + r.code +
      code"""
        |boolean ${ev.isNull} = ${r.isNull};
        |double ${ev.value} = 0.0;
        |if (!${ev.isNull}) {
        |  java.lang.Double ${ev.value}_r = graft.functions.GraftGauss.sum(
        |    ${l.isNull} ? null : ${l.value}, $elemFloat, ${r.value});
        |  if (${ev.value}_r == null) { ${ev.isNull} = true; }
        |  else { ${ev.value} = ${ev.value}_r.doubleValue(); }
        |}
        |""".stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): GaussLogSum = copy(left = l, right = r)
}

/** int8-quantization absolute-error sum as ONE codegen'd expression
  * (r15, VERDICT item 6): replaces v6's interpreted
  * aggregate·transform fold (abs/floor per element under an
  * interpreted lambda). */
case class QuantAbsErrSum(left: Expression, right: Expression)
    extends BinaryExpression {
  private def elemFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _) | ArrayType(DoubleType, _), DoubleType) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"quant_abs_err_sum needs (array<float|double>, double), got " +
        s"${l.simpleString} / ${r.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  // custom eval: the empty-array → 0.0 case must win over a NULL scale,
  // so the scale side cannot go through null-intercepting nullSafeEval
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = left.eval(input)
    if (v == null) return null
    GraftQuant.sum(v.asInstanceOf[ArrayData], elemFloat,
      right.eval(input).asInstanceOf[java.lang.Double])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    ev.copy(code = l.code + r.code +
      code"""
        |boolean ${ev.isNull} = ${l.isNull};
        |double ${ev.value} = 0.0;
        |if (!${ev.isNull}) {
        |  java.lang.Double ${ev.value}_r = graft.functions.GraftQuant.sum(
        |    ${l.value}, $elemFloat,
        |    ${r.isNull} ? null : (java.lang.Double) ${r.value});
        |  if (${ev.value}_r == null) { ${ev.isNull} = true; }
        |  else { ${ev.value} = ${ev.value}_r.doubleValue(); }
        |}
        |""".stripMargin)
  }
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): QuantAbsErrSum = copy(left = l, right = r)
}

/** Rabin–Karp rolling fingerprint of a token array as ONE codegen'd
  * expression (r15, VERDICT item 6 — the interpreted-HOF tail): the HOF
  * form interpreted an md5+conv lambda per token under x12. */
case class RollingHash(child: Expression) extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"rolling_hash needs array<string> input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(t: Any): Any =
    GraftTokens.rollingHash(t.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""java.lang.Long ${ev.value}_r = graft.functions.GraftTokens.rollingHash($t);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.longValue(); }""".stripMargin)
  override protected def withNewChildInternal(c: Expression): RollingHash =
    copy(child = c)
}

/** Σ token lengths as ONE codegen'd expression (r15, VERDICT item 6):
  * replaces the interpreted `aggregate(transform(·, length), 0, +)`
  * under x3's mean token length. */
case class TokenLengthSum(child: Expression) extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_len_sum needs array<string> input, got ${other.simpleString}")
  }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override protected def nullSafeEval(t: Any): Any =
    GraftTokens.tokenLengthSum(t.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""java.lang.Integer ${ev.value}_r = graft.functions.GraftTokens.tokenLengthSum($t);
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.intValue(); }""".stripMargin)
  override protected def withNewChildInternal(c: Expression): TokenLengthSum =
    copy(child = c)
}

/** Word n-gram shingles of a token-array column as ONE codegen-
  * friendly expression (r14, same motivation as [[DotProduct]]): the
  * HOF form interpreted a concat_ws lambda per shingle and sat under
  * every shingle-based dedup operator (x6/x7/x10/x11/x21/x25/x31 —
  * the widest scans of the text family). `n` is a plan-time constant.
  * Output is bit-identical (oracle-gated across the x-family). */
case class WordNGrams(child: Expression, n: Int) extends
    org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 1, s"word_ngrams: n must be >= 1, got $n")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams needs array<string> input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // NULL tokens → empty shingle array, like the HOF this replaced
  // (r14 verdict flagged the null-preserving default as a latent
  // divergence) — so the expression itself never returns null.
  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    GraftText.ngrams(child.eval(input).asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(
      code = childGen.code +
        code"""
          |$javaType ${ev.value} = ${childGen.isNull}
          |  ? graft.functions.GraftText.empty()
          |  : graft.functions.GraftText.ngrams(${childGen.value}, $n);
          |""".stripMargin,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(c: Expression): WordNGrams =
    copy(child = c)
}

/** Σ aᵢ·bᵢ over two float/double array columns as ONE expression with
  * an unboxed loop (r14, guide/task §"expressions and codegen"): the
  * previous `aggregate(zip_with(a, b, (x, y) => x·y), 0.0, +)` form is
  * a Catalyst higher-order function — never whole-stage-codegen'd, it
  * interprets the lambda tree and boxes every element, and it sat in
  * the hottest loops of the similarity family (the candidate-pair
  * verification of v3/v7 evaluates it once per pair). Same fold order,
  * same float→double widening, same null/length semantics — outputs
  * are bit-identical (oracle-gated v1–v7). */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  private def elemFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product needs array<float|double> inputs, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftVectors.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      elemFloat(left), elemFloat(right))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""java.lang.Double ${ev.value}_r = graft.functions.GraftVectors.dot(
         |  $a, $b, ${elemFloat(left)}, ${elemFloat(right)});
         |if (${ev.value}_r == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = ${ev.value}_r.doubleValue(); }""".stripMargin
    })
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): DotProduct = copy(l, r)
}
