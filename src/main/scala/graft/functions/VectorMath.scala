package graft.functions

import org.apache.spark.sql.{graftshim, Column}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native codegen'd vector math for the ANN/near-dup operators — the
  * compiled replacements for the higher-order-function formulations in
  * `graft.ml.Vectors` (`aggregate(zip_with(...))` dots, and the
  * `transform(v, x => x / l2norm(v))` normalizer whose lambda inlines
  * the full `dot(v, v)` fold PER ELEMENT — O(dim²) interpreted tree
  * walks per row; ~2.5 s of the q47 bench wall before this file).
  *
  * BIT-IDENTICAL to the HOF forms they replace:
  *  - every accumulation is the same left-to-right fold over array
  *    order, in doubles (or exact longs), so IEEE results match;
  *  - cosine divides the dot by (sqrt(aa) * sqrt(bb)) in exactly the
  *    HOF's operation order;
  *  - the quantizer rounds half away from zero, matching Spark's
  *    `round()` (LshBucketsExpr.rnd, oracle-pinned by q47/q51);
  *  - null elements / length mismatches yield null, as zip_with +
  *    Add's null propagation did.
  * Two DELIBERATE divergences, where the HOF forms under Spark 4's
  * ANSI default throw:
  *  - a zero/empty-norm divisor follows IEEE (NaN/Inf) here, where the
  *    HOF throws DIVIDE_BY_ZERO — reachable only on zero-norm vectors,
  *    which no operator feeds (they normalize real embeddings);
  *  - the long dot (`dotL`) multiplies and adds in plain JVM longs, so
  *    it wraps on overflow, where the HOF throws ARITHMETIC_OVERFLOW —
  *    reachable only past 2^63, far above the ±1000-per-component
  *    quantized embeddings it serves.
  * VectorMathSpec asserts equality (exact bits) against the HOF forms
  * over the bench embeddings and every nonzero adversarial shape, and
  * pins both divergences: NaN on the zero shapes, and the wrapped
  * `[Long.MaxValue]·[2]` next to the HOF's overflow error.
  */
private[functions] trait VecBinaryBase extends BinaryExpression {
  protected def elemOk(t: DataType): Boolean
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(a, _), ArrayType(b, _)) if elemOk(a) && elemOk(b) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: unsupported input types ($l, $r)")
  }
}

/** Double dot product over float/double arrays (elements cast up). */
case class DotDoubleExpr(left: Expression, right: Expression)
    extends VecBinaryBase {
  protected def elemOk(t: DataType): Boolean =
    t == FloatType || t == DoubleType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  private def lf: Boolean = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rf: Boolean = right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.dotD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double ${ev.value}Box = graft.functions.VectorMath.dotD($a, $b, $lf, $rf);
         |if (${ev.value}Box == null) { ${ev.isNull} = true; } else { ${ev.value} = ${ev.value}Box.doubleValue(); }
         |""".stripMargin)
    res
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotDoubleExpr =
    copy(left = newLeft, right = newRight)
}

/** Exact long dot product over long arrays. */
case class DotLongExpr(left: Expression, right: Expression)
    extends VecBinaryBase {
  protected def elemOk(t: DataType): Boolean = t == LongType
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot_long"

  protected override def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.dotL(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Long ${ev.value}Box = graft.functions.VectorMath.dotL($a, $b);
         |if (${ev.value}Box == null) { ${ev.isNull} = true; } else { ${ev.value} = ${ev.value}Box.longValue(); }
         |""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotLongExpr =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity: dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))),
  * all three folds in one pass, operation order preserved. */
case class CosineExpr(left: Expression, right: Expression)
    extends VecBinaryBase {
  protected def elemOk(t: DataType): Boolean =
    t == FloatType || t == DoubleType
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_cosine"

  private def lf: Boolean = left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  private def rf: Boolean = right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(a: Any, b: Any): Any =
    VectorMath.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lf, rf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""java.lang.Double ${ev.value}Box = graft.functions.VectorMath.cosine($a, $b, $lf, $rf);
         |if (${ev.value}Box == null) { ${ev.isNull} = true; } else { ${ev.value} = ${ev.value}Box.doubleValue(); }
         |""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineExpr =
    copy(left = newLeft, right = newRight)
}

/** L2-normalize (array<double>), or normalize-and-quantize to
  * round(u*1000) longs when `quant` — one pass, norm computed once. */
case class UnitVecExpr(child: Expression, quant: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<float|double>, got $t")
  }
  override def dataType: DataType =
    ArrayType(if (quant) LongType else DoubleType, containsNull = true)
  override def prettyName: String = if (quant) "graft_unit_quant" else "graft_unit"

  private def isF: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected override def nullSafeEval(input: Any): Any =
    VectorMath.unit(input.asInstanceOf[ArrayData], isF, quant)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorMath.unit($c, $isF, $quant)")

  override protected def withNewChildInternal(newChild: Expression): UnitVecExpr =
    copy(child = newChild)
}

object VectorMath {

  @inline private def get(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** Half-away-from-zero rounding, matching Spark's round() on doubles
    * (same rule as LshBucketsExpr.rnd, oracle-pinned by q47/q51). */
  @inline private def rnd(x: Double): Long =
    if (x >= 0) Math.round(x) else -Math.round(-x)

  def dotD(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): java.lang.Double = {
    val n = a.numElements()
    // zip_with pads the shorter side with null, and a null term nulls
    // the whole fold — so any length mismatch or null element → null
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += get(a, i, af) * get(b, i, bf)
      i += 1
    }
    acc
  }

  def dotL(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  def cosine(a: ArrayData, b: ArrayData, af: Boolean, bf: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = get(a, i, af); val y = get(b, i, bf)
      ab += x * y; aa += x * x; bb += y * y
      i += 1
    }
    ab / (Math.sqrt(aa) * Math.sqrt(bb))
  }

  def unit(v: ArrayData, isFloat: Boolean, quant: Boolean): ArrayData = {
    val n = v.numElements()
    var i = 0
    var aa = 0.0
    var anyNull = false
    while (i < n) {
      if (v.isNullAt(i)) anyNull = true
      else { val x = get(v, i, isFloat); aa += x * x }
      i += 1
    }
    // a null element nulls the norm (dot fold), and x / null-norm is
    // null per element — the HOF then yields an all-null array
    val norm = Math.sqrt(aa)
    if (quant) {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        out(i) =
          if (anyNull || v.isNullAt(i)) null
          else rnd(get(v, i, isFloat) / norm * 1000)
        i += 1
      }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        out(i) =
          if (anyNull || v.isNullAt(i)) null
          else get(v, i, isFloat) / norm
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  def dot(a: Column, b: Column): Column =
    graftshim.toColumn(DotDoubleExpr(
      graftshim.toExpression(a), graftshim.toExpression(b)))
  def dotLong(a: Column, b: Column): Column =
    graftshim.toColumn(DotLongExpr(
      graftshim.toExpression(a), graftshim.toExpression(b)))
  def cosine(a: Column, b: Column): Column =
    graftshim.toColumn(CosineExpr(
      graftshim.toExpression(a), graftshim.toExpression(b)))
  def unit(v: Column): Column =
    graftshim.toColumn(UnitVecExpr(graftshim.toExpression(v), quant = false))
  def unitQuant(v: Column): Column =
    graftshim.toColumn(UnitVecExpr(graftshim.toExpression(v), quant = true))
}
