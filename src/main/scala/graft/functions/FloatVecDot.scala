package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `array<float>` / `array<double>` columns.
  *
  * Spark's higher-order functions (zip_with/aggregate) evaluate their
  * lambda interpreted, per element — the dominant cost of every cosine in
  * the engine. This expression generates a tight primitive loop inside
  * whole-stage codegen instead (~10x on the pairwise-cosine operators).
  *
  * Vectors are assumed null-element-free (embedding columns are); widths
  * are clamped to the shorter input.
  */
case class FloatVecDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fvec_dot expects array<float>/array<double> inputs, got ${left.dataType} / ${right.dataType}")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = isFloat(left); val rf = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "fvec_dot"
}

/** JVM kernels for composite vector ops (called from generated code). */
object VecKernels {

  /** Spark-identical round-half-up at 6dp (Catalyst Round semantics:
    * NaN and ±Inf pass through unchanged, where BigDecimal would throw).
    */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** `round(dot / (na * nb), 6)` exactly as Catalyst evaluates it under
    * ANSI mode: a zero divisor throws, as Spark's `Divide` does.
    */
  def cos6(dot: Double, na: Double, nb: Double): Double = {
    val den = na * nb
    if (den == 0.0) throw new ArithmeticException("[DIVIDE_BY_ZERO] Division by zero in a cosine score")
    round6(dot / den)
  }

  /** [[FloatVecDot]]'s fold over two float arrays (clamped to shorter). */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Single-pass cosine over two float arrays — same accumulation order
    * as FloatVecCos (dot and norms left-to-right in double).
    */
  def cosF(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Spark-identical round-half-up at 0dp (Catalyst Round semantics);
    * half-up on BigDecimal = away from zero, matching C/DuckDB round().
    */
  def round0(x: Double): Long =
    java.math.BigDecimal.valueOf(x).setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  private def maxAbs(v: Array[Float]): Double = {
    var m = 0.0
    var i = 0
    while (i < v.length) { val a = math.abs(v(i).toDouble); if (a > m) m = a; i += 1 }
    m
  }

  /** int8 quantization: q_i = round(v_i / max|v| * 127) as longs. */
  def quantize(v: Array[Float]): Array[Long] = {
    val scale = maxAbs(v)
    val out = new Array[Long](v.length)
    if (scale != 0.0) {
      var i = 0
      while (i < v.length) { out(i) = round0(v(i).toDouble / scale * 127.0); i += 1 }
    }
    out
  }

  def quantize(v: ArrayData): ArrayData = new GenericArrayData(quantize(v.toFloatArray()))

  /** [scale_micros, q_sum, q_norm2] of the int8 quantization, one pass. */
  def q8Stats(v: ArrayData): ArrayData = {
    val f = v.toFloatArray()
    val q = quantize(f)
    var s = 0L; var s2 = 0L
    q.foreach { x => s += x; s2 += x * x }
    new GenericArrayData(Array(round0(maxAbs(f) * 1000000.0), s, s2))
  }

  /** Integer dot product over two long arrays (clamped to shorter). */
  def lvecDot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  def lvecDot(a: Array[Long], b: Array[Long]): Long = {
    val n = math.min(a.length, b.length)
    var s = 0L
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Sign-bit signature: 32 dims per bigint word, MSB-first (dim 32w+j →
    * bit 31−j), bit set iff v > 0 — the binary-quantization code. 32-bit
    * words keep every value far from signed-overflow territory (the SQL
    * twin folds with `acc * 2 +`, which DuckDB would reject at 64 bits).
    */
  def signBits(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Long]((n + 31) / 32)
    var i = 0
    while (i < n) {
      if (v.getFloat(i) > 0f) out(i / 32) |= 1L << (31 - (i % 32))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** IVF assignment: id of the centroid maximizing (round6(cosine) desc,
    * cid asc) — one pass over a broadcast array<struct<cid,cvec>>; the
    * rounded-score tie-break matches the positional-SQL oracle exactly.
    */
  def ivfAssign(vec: ArrayData, cents: ArrayData): Long = {
    var bestCid = -1L; var bestScore = -2.0
    val m = cents.numElements()
    var i = 0
    while (i < m) {
      val c = cents.getStruct(i, 2)
      val cid = c.getLong(0)
      val s = round6(cosF(vec, c.getArray(1)))
      if (s > bestScore || (s == bestScore && cid < bestCid)) { bestScore = s; bestCid = cid }
      i += 1
    }
    bestCid
  }
}

/** Int8 scalar quantization as an `array<bigint>` (q_i = round-half-up of
  * v_i / max|v| * 127) — ONE kernel call per row; the HOF formulation
  * recomputes the max-abs aggregate per element after CollapseProject
  * inlines it into the lambda.
  */
case class FVecQuantize(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"fvec_quantize expects array<float>, got $t")
  }

  override protected def nullSafeEval(a: Any): Any =
    VecKernels.quantize(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecKernels.quantize($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fvec_quantize"
}

/** Quantization summary [scale_micros, q_sum, q_norm2] in one pass. */
case class FVecQ8Stats(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"fvec_q8_stats expects array<float>, got $t")
  }

  override protected def nullSafeEval(a: Any): Any =
    VecKernels.q8Stats(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecKernels.q8Stats($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fvec_q8_stats"
}

/** Sign-bit signature words for binary-quantization search — one kernel
  * call per row vs a 64-step interpreted HOF fold.
  */
case class FVecSignBits(child: Expression)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"fvec_signbits expects array<float>, got $t")
  }

  override protected def nullSafeEval(a: Any): Any =
    VecKernels.signBits(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecKernels.signBits($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "fvec_signbits"
}

/** Integer dot product of two `array<bigint>` (quantized search). */
case class LongVecDot(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"lvec_dot expects two array<bigint>, got $l / $r")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.lvecDot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecKernels.lvecDot($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "lvec_dot"
}

/** IVF centroid assignment as ONE projection: no per-vector fanout join,
  * no argmax aggregation shuffle — the centroid set rides along as a
  * broadcast single-row array and the kernel scans it per vector.
  */
case class IvfAssign(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.{LongType, StructType}

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(st: StructType, _))
      if st.length == 2 && st(0).dataType == LongType &&
        (st(1).dataType match { case ArrayType(FloatType, _) => true; case _ => false }) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"ivf_assign expects (array<float>, array<struct<bigint,array<float>>>), got $l / $r")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VecKernels.ivfAssign(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VecKernels.ivfAssign($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "ivf_assign"
}

/** Fused cosine similarity: dot product and both norms in ONE pass over
  * the vectors (the dot/norm/norm composition traverses each array three
  * times). Result is arithmetically identical: sum-of-products and
  * sums-of-squares accumulate left-to-right in double, then
  * dot / (sqrt(na) * sqrt(nb)).
  */
case class FloatVecCos(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"fvec_cos expects array<float>/array<double> inputs, got ${left.dataType} / ${right.dataType}")

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = isFloat(left); val rf = isFloat(right)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.$lGet($i);
         |  double $yv = (double) $b.$rGet($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "fvec_cos"
}
