package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Codegen'd vector kernels for the similarity operators (SURVEY
  * extension list). The built-in route — `aggregate(zip_with(a, b, ...))`
  * — is evaluated per-element through interpreted lambda plumbing, which
  * dominates all-pairs similarity at scale; these expressions compile to
  * a tight primitive loop inside whole-stage codegen.
  *
  * Accumulation is strictly left-to-right in double precision — the same
  * fold order as the sequential oracle computation, so results are
  * bit-identical and partition-order independent.
  */
object VectorExprs {

  /** Element-wise dot product of two float/double array columns. */
  def vec_dot(a: Column, b: Column): Column =
    ColumnBridge.column(
      VecDotExpr(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** L2 norm. */
  def vec_norm(a: Column): Column =
    ColumnBridge.column(VecNormExpr(ColumnBridge.expression(a)))

  /** SimHash of a pre-hashed feature array: bit b of the result is set
    * iff more elements have bit b set than clear. `bits` ≤ 63. */
  def simhash(hashes: Column, bits: Int): Column =
    ColumnBridge.column(SimHashExpr(ColumnBridge.expression(hashes), bits))

  def dotFloat(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    acc
  }

  def dotDouble(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  def simhashEval(hs: ArrayData, bits: Int): Long = {
    val n = hs.numElements()
    val counts = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }
}

/** dot(a, b) → double; element type Float or Double (both sides alike). */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  private def elemIsFloat: Boolean = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot needs ARRAY<FLOAT|DOUBLE>, got " +
          s"${left.dataType}/${right.dataType}")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    if (elemIsFloat)
      VectorExprs.dotFloat(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
    else
      VectorExprs.dotDouble(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val fn =
      if (elemIsFloat) "graft.functions.VectorExprs.dotFloat"
      else "graft.functions.VectorExprs.dotDouble"
    defineCodeGen(ctx, ev, (a, b) => s"$fn($a, $b)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** sqrt(dot(a, a)) → double. */
case class VecNormExpr(child: Expression) extends UnaryExpression {
  private def elemIsFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = {
    val ad = a.asInstanceOf[ArrayData]
    math.sqrt(
      if (elemIsFloat) VectorExprs.dotFloat(ad, ad)
      else VectorExprs.dotDouble(ad, ad))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val fn =
      if (elemIsFloat) "graft.functions.VectorExprs.dotFloat"
      else "graft.functions.VectorExprs.dotDouble"
    defineCodeGen(ctx, ev, a => s"java.lang.Math.sqrt($fn($a, $a))")
  }
  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}

/** simhash(array<long>, bits) → long. */
case class SimHashExpr(child: Expression, bits: Int)
    extends UnaryExpression {
  require(bits > 0 && bits < 64)
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any): Any =
    VectorExprs.simhashEval(a.asInstanceOf[ArrayData], bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.VectorExprs.simhashEval($a, $bits)")
  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)
}
