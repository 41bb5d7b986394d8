package org.apache.spark.sql.graftext

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native vector math over `array<float>` embedding columns. The HOF
  * formulation (`aggregate(zip_with(...))`) allocates an intermediate array
  * and boxes every element; these expressions are a single fused loop over
  * the two ArrayData buffers, emitted inside whole-stage codegen via a
  * static call. Accumulation is double-precision in index order — exactly
  * the math of the HOF version and of DuckDB's list_cosine_similarity over
  * DOUBLE[], so oracle results are bit-identical.
  *
  * Arrays of different lengths: the two-array folds (vec_dot, vec_dot_d,
  * vec_sqdist_d) return NULL, the HOF's answer (zip_with pads the shorter
  * array with nulls, and the null poisons the sum). The two-array kernels
  * that return an array (vec_subsqdists_d, vec_sub_d, vec_submul_d) throw
  * and name both lengths. The `*Impl` folds themselves assume equal
  * lengths. */
object vectorExpressions {
  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def l2Norm(c: Column): Column =
    ExpressionUtils.column(L2NormExpr(ExpressionUtils.expression(c)))

  def dotImpl(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  def normImpl(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  // ---- array<double> variants (round 14) ----------------------------------
  // Derived vectors (cast embeddings, centroids, residuals, PRF-expanded
  // queries) are array<double>, so the float expressions above don't apply
  // and the hot paths fell back to `aggregate(zip_with(...))` — interpreted
  // HigherOrderFunction evaluation that allocates an intermediate array and
  // boxes every element, per PAIR in sample×corpus / n·k candidate passes.
  // Each impl below is the same index-ordered double fold as its HOF
  // spelling (and as the DuckDB list_reduce/lambda oracle replicas), so
  // results are bit-identical; only the evaluation engine changes.

  def dotProductD(a: Column, b: Column): Column =
    ExpressionUtils.column(DotProductDExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def l2NormD(c: Column): Column =
    ExpressionUtils.column(L2NormDExpr(ExpressionUtils.expression(c)))

  def sqDistD(a: Column, b: Column): Column =
    ExpressionUtils.column(SqDistDExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def subSqDistsD(a: Column, b: Column, m: Int, dsub: Int): Column =
    ExpressionUtils.column(SubSqDistsDExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), m, dsub))

  /** Σᵢ aᵢ·bᵢ in index order — `aggregate(zip_with(a, b, (x, y) -> x * y),
    * 0.0D, (p, q) -> p + q)` as one fused loop. */
  def dotDImpl(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    acc
  }

  /** sqrt(Σᵢ aᵢ²) in index order — `sqrt(aggregate(a, 0.0D,
    * (acc, x) -> acc + x * x))` as one fused loop. */
  def normDImpl(a: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val v = a.getDouble(i)
      acc += v * v
      i += 1
    }
    math.sqrt(acc)
  }

  /** Σᵢ (aᵢ−bᵢ)² in index order — the `fullL2` HOF spelling
    * `aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0.0D, +)`
    * as one fused loop. */
  def sqDistDImpl(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val t = a.getDouble(i) - b.getDouble(i)
      acc += t * t
      i += 1
    }
    acc
  }

  /** The PQ per-subspace squared L2 array — `transform(sequence(0, m-1),
    * j -> aggregate(zip_with(slice(a, j·dsub+1, dsub), slice(b, ...),
    * (x, y) -> (x-y)·(x-y)), 0.0D, +))` as one fused loop per subspace,
    * without materializing 2·m slice arrays per pair. */
  def subSqDistsDImpl(a: ArrayData, b: ArrayData, m: Int,
      dsub: Int): ArrayData = {
    val n = sameLength("vec_subsqdists_d", a, b)
    val out = new Array[Double](m)
    var j = 0
    while (j < m) {
      var acc = 0.0
      var i = j * dsub
      val end = math.min(i + dsub, n)
      while (i < end) {
        val t = a.getDouble(i) - b.getDouble(i)
        acc += t * t
        i += 1
      }
      out(j) = acc
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  def adcDistD(codes: Column, dt: Column, m: Int, ksub: Int): Column =
    ExpressionUtils.column(AdcDistDExpr(
      ExpressionUtils.expression(codes), ExpressionUtils.expression(dt),
      m, ksub))

  def subD(a: Column, b: Column): Column =
    ExpressionUtils.column(SubDExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  def subMulD(a: Column, b: Column, s: Column): Column =
    ExpressionUtils.column(SubMulDExpr(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b),
      ExpressionUtils.expression(s)))

  /** Elementwise aᵢ − bᵢ — `zip_with(a, b, (x, y) -> x - y)` as one fused
    * loop (round-15: the RVQ residual projection). */
  def subDImpl(a: ArrayData, b: ArrayData): ArrayData = {
    val n = sameLength("vec_sub_d", a, b)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = a.getDouble(i) - b.getDouble(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Elementwise aᵢ − s·bᵢ — `zip_with(a, b, (x, y) -> x - s * y)` as one
    * fused loop with the scalar bound ONCE per row (round-15: the top-PC
    * deflation in the abtt residual build). Beyond the per-element
    * interpreted/boxing cost of the HOF, binding `s` as an expression
    * CHILD removes the standing hazard of an outer alias referenced
    * inside a lambda body (the CollapseProject-inlining trap documented
    * at Dedup's CDC site — measured there as O(elements × alias-cost);
    * here it had NOT bitten at sf0.1, so local numbers are flat and the
    * claim is shape, not seconds). */
  def subMulDImpl(a: ArrayData, b: ArrayData, s: Double): ArrayData = {
    val n = sameLength("vec_submul_d", a, b)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = a.getDouble(i) - s * b.getDouble(i)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** The common length of `a` and `b`; throws naming both when they differ. */
  private def sameLength(fn: String, a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    if (b.numElements() != n)
      throw new IllegalArgumentException(
        s"$fn: array lengths differ ($n and ${b.numElements()})")
    n
  }

  def signBits(c: Column): Column =
    ExpressionUtils.column(SignBitsExpr(ExpressionUtils.expression(c)))

  /** The 64-bit sign signature (bit i set iff element i > 0) — the
    * `aggregate(sequence(0, size(a) - 1), 0L, (acc, i) ->
    * acc + CASE WHEN element_at(a, i + 1) > 0.0D
    * THEN shiftleft(1L, i) ELSE 0L END)` fold as one fused loop.
    * Addition of `1L << i` (Java shift wraps at 64 exactly like Spark's
    * shiftleft) mirrors the HOF bit-for-bit at any array length; a null
    * element contributes 0, as the HOF's CASE does. */
  def signBitsImpl(a: ArrayData): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && a.getFloat(i) > 0.0f) acc += 1L << i
      i += 1
    }
    acc
  }

  /** The PQ asymmetric distance — `aggregate(sequence(0, m-1), 0.0D,
    * (acc, j) -> acc + element_at(dt, j·ksub + codes[j] + 1))` as one
    * fused loop: m table lookups summed in index order. */
  def adcDistDImpl(codes: ArrayData, dt: ArrayData, m: Int,
      ksub: Int): Double = {
    var acc = 0.0
    var j = 0
    while (j < m) {
      acc += dt.getDouble(j * ksub + codes.getLong(j).toInt)
      j += 1
    }
    acc
  }
}

/** A fold over two arrays that is NULL when their lengths differ, as the
  * `aggregate(zip_with(...))` spelling is. `impl` names the fold in
  * vectorExpressions. */
sealed trait PairFold extends BinaryExpression with ExpectsInputTypes {
  protected def impl: String
  protected def fold(a: ArrayData, b: ArrayData): Double
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (x.numElements() != y.numElements()) null else fold(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else { ${ev.value} =
         |  org.apache.spark.sql.graftext.vectorExpressions.$impl($a, $b); }"""
        .stripMargin)
}

case class DotProductExpr(left: Expression, right: Expression) extends PairFold {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  protected def impl: String = "dotImpl"
  protected def fold(a: ArrayData, b: ArrayData): Double = vectorExpressions.dotImpl(a, b)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DotProductExpr = copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

case class L2NormExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    vectorExpressions.normImpl(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graftext.vectorExpressions.normImpl($a)")
  override protected def withNewChildInternal(c: Expression): L2NormExpr =
    copy(child = c)
  override def prettyName: String = "vec_l2norm"
}

case class DotProductDExpr(left: Expression, right: Expression) extends PairFold {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  protected def impl: String = "dotDImpl"
  protected def fold(a: ArrayData, b: ArrayData): Double = vectorExpressions.dotDImpl(a, b)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): DotProductDExpr = copy(left = l, right = r)
  override def prettyName: String = "vec_dot_d"
}

case class L2NormDExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any =
    vectorExpressions.normDImpl(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graftext.vectorExpressions.normDImpl($a)")
  override protected def withNewChildInternal(c: Expression): L2NormDExpr =
    copy(child = c)
  override def prettyName: String = "vec_l2norm_d"
}

case class SqDistDExpr(left: Expression, right: Expression) extends PairFold {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  protected def impl: String = "sqDistDImpl"
  protected def fold(a: ArrayData, b: ArrayData): Double = vectorExpressions.sqDistDImpl(a, b)
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SqDistDExpr = copy(left = l, right = r)
  override def prettyName: String = "vec_sqdist_d"
}

case class AdcDistDExpr(left: Expression, right: Expression,
    m: Int, ksub: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(LongType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    vectorExpressions.adcDistDImpl(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m, ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graftext.vectorExpressions.adcDistDImpl($a, $b, $m, $ksub)")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): AdcDistDExpr = copy(left = l, right = r)
  override def prettyName: String = "vec_adc_d"
}

case class SignBitsExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    vectorExpressions.signBitsImpl(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graftext.vectorExpressions.signBitsImpl($a)")
  override protected def withNewChildInternal(c: Expression): SignBitsExpr =
    copy(child = c)
  override def prettyName: String = "vec_signbits"
}

case class SubSqDistsDExpr(left: Expression, right: Expression,
    m: Int, dsub: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    vectorExpressions.subSqDistsDImpl(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], m, dsub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graftext.vectorExpressions.subSqDistsDImpl($a, $b, $m, $dsub)")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SubSqDistsDExpr = copy(left = l, right = r)
  override def prettyName: String = "vec_subsqdists_d"
}

case class SubDExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any): Any =
    vectorExpressions.subDImpl(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graftext.vectorExpressions.subDImpl($a, $b)")
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): SubDExpr = copy(left = l, right = r)
  override def prettyName: String = "vec_sub_d"
}

case class SubMulDExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType), DoubleType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(a: Any, b: Any, s: Any): Any =
    vectorExpressions.subMulDImpl(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], s.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, s) =>
      s"org.apache.spark.sql.graftext.vectorExpressions.subMulDImpl($a, $b, $s)")
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression): SubMulDExpr = copy(first = f, second = s, third = t)
  override def prettyName: String = "vec_submul_d"
}
