package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.classic.GraftBridge

/**
 * Banded random-hyperplane LSH signatures as ONE fused pass.
 *
 * The declarative form (a `bits × dim` tree of `element_at · lit-sign`
 * multiply-adds per signature bit) is what [[graft.llm.Similarity.lshSignature]]
 * builds — fine at 6 bits, but a banded scheme at scale-adaptive widths needs
 * `bands × bitsPerBand × dim` terms (4 × 12 × 64 ≈ 3k multiply-adds), which
 * blows past Janino's method limits and falls out of whole-stage codegen.
 * This expression computes every band signature in a single primitive loop
 * over the vector (the [[bandSignatures]] kernel, which `eval` and the
 * generated code both call) with the sign matrix held as a reference object.
 *
 * Hyperplane indexing uses a FIXED stride of [[LshOps.BandStride]] hyperplanes
 * per band (`hyperplane(band, j) = band * 32 + j`), so growing `bitsPerBand`
 * EXTENDS a band's bit set without re-picking the bits it already had — a
 * corpus re-bucketed at a wider signature keeps its old bits as a prefix —
 * and band 0 at width w reproduces the legacy single-table `lshSignature(w)`
 * exactly (hyperplanes 0..w-1).
 *
 * Signs are deterministic (splitmix-style mix of the hyperplane/component
 * indexes — [[LshOps.hyperplaneSign]]), so an independent implementation
 * (the DuckDB oracle SQL) can reproduce the exact bucketing.
 */
object LshOps {

  /** Hyperplanes reserved per band: hyperplane(band, j) = band*BandStride + j. */
  val BandStride = 32

  /** Deterministic hyperplane component sign in {-1.0, +1.0} for
   * (hyperplane h, component i). Moved here from `Similarity` (which keeps a
   * delegating alias) so the fused expression and the declarative builder
   * share one definition. */
  def hyperplaneSign(h: Int, i: Int): Double = {
    var z = h.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L + 0x1234567L
    z = (z ^ (z >>> 30)) * 0x94D049BB133111EBL
    if (((z ^ (z >>> 27)) & 1L) == 0L) 1.0 else -1.0
  }

  /** Flat sign matrix: signs((b*r + j)*dim + i) = hyperplaneSign(b*32+j, i). */
  private def signMatrix(dim: Int, bands: Int, r: Int): Array[Double] = {
    val out = new Array[Double](bands * r * dim)
    var b = 0
    while (b < bands) {
      var j = 0
      while (j < r) {
        val h = b * BandStride + j
        var i = 0
        while (i < dim) {
          out((b * r + j) * dim + i) = hyperplaneSign(h, i)
          i += 1
        }
        j += 1
      }
      b += 1
    }
    out
  }

  /** Signature bit j of band b = sign of the projection of `v`'s first
   * `min(dim, |v|)` components onto row `b*bitsPerBand + j` of `signs` (1
   * when positive): the [[HyperplaneBands]] kernel. */
  def bandSignatures(v: ArrayData, isFloat: Boolean, signs: Array[Double],
                     dim: Int, bands: Int, bitsPerBand: Int): Array[Long] = {
    val n = math.min(dim, v.numElements())
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L
      var j = 0
      while (j < bitsPerBand) {
        val base = (b * bitsPerBand + j) * dim
        var p = 0.0
        var i = 0
        while (i < n) {
          p += VectorOps.element(v, i, isFloat) * signs(base + i)
          i += 1
        }
        if (p > 0.0) sig |= (1L << j)
        j += 1
      }
      out(b) = sig
      b += 1
    }
    out
  }

  /** array<long> of `bands` signatures; signature bit j of band b = sign of
   * the projection onto hyperplane b*32+j (1 when positive). */
  case class HyperplaneBands(child: Expression, dim: Int, bands: Int, bitsPerBand: Int)
      extends UnaryExpression {
    require(bands > 0 && bitsPerBand > 0 && bitsPerBand <= BandStride,
      s"bands=$bands bitsPerBand=$bitsPerBand (bits must be in 1..$BandStride)")
    override def prettyName: String = "lsh_hyperplane_bands"
    override def nullIntolerant: Boolean = true
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult =
      VectorOps.checkRealArrays(prettyName, child)
    @transient private lazy val isFloat = VectorOps.isFloatArray(child)
    @transient private lazy val signs: Array[Double] = signMatrix(dim, bands, bitsPerBand)

    override protected def nullSafeEval(input: Any): Any = new GenericArrayData(
      bandSignatures(input.asInstanceOf[ArrayData], isFloat, signs, dim, bands, bitsPerBand))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val signsRef = ctx.addReferenceObj("lshSigns", signs, "double[]")
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(" +
          s"graft.functions.LshOps.bandSignatures($v, $isFloat, $signsRef, $dim, $bands, $bitsPerBand));")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def hyperplaneBands(vec: Column, dim: Int, bands: Int, bitsPerBand: Int): Column =
    GraftBridge.column(HyperplaneBands(GraftBridge.expression(vec), dim, bands, bitsPerBand))
}
