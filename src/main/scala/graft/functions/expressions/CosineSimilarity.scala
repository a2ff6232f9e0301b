package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Fused single-pass kernels shared by interpreted eval and generated code.
  * One loop computes dot, |a|² and |b|² — versus the HOF composition
  * (VectorFunctions.cosineHof) which walks the arrays five times and allocates
  * an intermediate array per zip_with. Accumulation order (sequential,
  * double) is identical to the HOF form, so both produce bit-equal scores.
  */
object VectorKernels {
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Integer squared-L2 distance over array<long> — the k-means/IVF
    * assignment kernel (exact integer arithmetic, q128's fixed-point
    * discipline). One fused loop vs the HOF form's zip_with allocation
    * per (row × centroid). */
  def sqDistL2(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L; var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Native Catalyst `CosineSimilarity(array<float>, array<float>) -> double`
  * with whole-stage codegen — the M8 optimization from SURVEY.md §4 item 1:
  * at 100 TB the cosine kernel runs once per (row × query) and the fused
  * loop beats the allocating HOF chain by ~3-5×. Null-intolerant: null
  * input → null output (matches the reference's embedding-presence guard,
  * /root/reference/backend/ai_service.py:103,117).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.VectorKernels.cosineF($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** Native integer squared-L2 over array<long>, same shape (q128's final
  * assignment calls it once per centroid and q132 once per row, where the
  * fused eval replaces an interpreted zip_with+aggregate tree). */
case class SqDistL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sqDistL2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.VectorKernels.sqDistL2($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistL2 =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** Column-API entry point. */
  def cosine_native(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def sq_dist_l2(a: Column, b: Column): Column =
    GraftBridge.column(SqDistL2(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
