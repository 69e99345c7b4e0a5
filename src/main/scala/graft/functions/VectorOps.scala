package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.classic.GraftBridge

/**
 * Native Catalyst expressions for embedding math.
 *
 * Spark's higher-order functions (`zip_with` + `aggregate`) express a dot
 * product declaratively but are interpreted per row (no codegen) and allocate
 * an intermediate array — catastrophic inside an all-pairs similarity join.
 * Each expression here runs one fused primitive loop (dot, |a|, |b| in one
 * pass), written once as a kernel over `ArrayData` that returns a primitive:
 * `eval` calls it, and the generated code is a single static call to the same
 * method, so the children stay inside whole-stage codegen. This is the
 * custom-`Expression` escape hatch the build plan reserves for exactly this
 * case (SURVEY.md §7.3).
 *
 * Accepts `array<float>` or `array<double>`; math is carried out in double,
 * summing in element order (matches a sequential oracle implementation).
 */
object VectorOps {

  /** The one input check of the vector kernels: every input is `array<float|double>`. */
  private[functions] def checkRealArrays(name: String, inputs: Expression*): TypeCheckResult =
    if (inputs.forall(_.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires array<float|double> inputs, got ${inputs.map(_.dataType).mkString(", ")}")

  /** True for an `array<float>` input (the kernels read it as double). */
  private[functions] def isFloatArray(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** Element `i` of an `array<float|double>` as a double. */
  private[functions] def element(arr: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)

  /** Σ a_i b_i over the shorter length. */
  def dotProduct(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += element(a, i, aFloat) * element(b, i, bFloat); i += 1 }
    s
  }

  /** Σab / (√Σa² √Σb²) in one pass over the shorter length; 0.0 when a norm is zero. */
  def cosineSimilarity(a: ArrayData, aFloat: Boolean, b: ArrayData, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = element(a, i, aFloat); val y = element(b, i, bFloat)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  abstract class VectorBinary extends BinaryExpression {
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): TypeCheckResult = checkRealArrays(prettyName, left, right)
    @transient protected lazy val leftFloat: Boolean = isFloatArray(left)
    @transient protected lazy val rightFloat: Boolean = isFloatArray(right)
    /** The generated code: one call of the `VectorOps` kernel `eval` runs. */
    protected def callKernel(ctx: CodegenContext, ev: ExprCode, kernel: String): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = graft.functions.VectorOps.$kernel($a, $leftFloat, $b, $rightFloat);")
  }

  /** Σ a_i b_i — the [[dotProduct]] kernel. */
  case class DotProduct(left: Expression, right: Expression) extends VectorBinary {
    override def prettyName: String = "vector_dot"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      dotProduct(a.asInstanceOf[ArrayData], leftFloat, b.asInstanceOf[ArrayData], rightFloat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      callKernel(ctx, ev, "dotProduct")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** cos(a,b) — the [[cosineSimilarity]] kernel; 0.0 when a norm is zero. */
  case class CosineSimilarity(left: Expression, right: Expression) extends VectorBinary {
    override def prettyName: String = "vector_cosine"
    override protected def nullSafeEval(a: Any, b: Any): Any =
      cosineSimilarity(a.asInstanceOf[ArrayData], leftFloat, b.asInstanceOf[ArrayData], rightFloat)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      callKernel(ctx, ev, "cosineSimilarity")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def dot(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(GraftBridge.expression(a), GraftBridge.expression(b)))
  def cosine(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))
}
