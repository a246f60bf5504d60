package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Johnson–Lindenstrauss projection: the FULL `outDim`-wide
  * projection of a vector against a literal plane matrix in ONE pass,
  * per row, inside whole-stage codegen.
  *
  * Exists because the composed form — `array(planes.map(p => ndot(checked,
  * litArray(p)) / scale))` where `checked` is a when/size/raise_error
  * dim-guard tree — re-expands the guard and re-decodes the vector column
  * once per OUTPUT dimension, and Catalyst's filter/alias substitution
  * then duplicates the whole outDim-way tree again into every pushed
  * predicate and derived norm. At 10× that surfaced as e15's flagged
  * corpus-projection stage: 10 tasks × 4.1 s for 41M-FLOP math
  * (round-18 AFTER-sweep, SCALING.md). One fused expression = the vector
  * is decoded once, the dim check runs once, and a substituted copy costs
  * one call, not outDim subtrees.
  *
  * Bit-for-bit equal to the composed form: per plane j the dot is
  * [[VecKernel.matVec]]'s (the kernel's accumulation order) followed by a
  * single `/ sqrt(outDim)` — identical FP trajectory, so e13's hash-green
  * oracle parity is unchanged. Contracts preserved: NULL vector → NULL
  * projection (null-intolerant child); element nulls read as 0 (the
  * [[VecKernel]] dense-by-contract rule); a vector whose
  * length ≠ dim fails fast with the randomProject message (zip-truncation
  * would silently corrupt every downstream distance).
  *
  * Registered as `graft_project(vector, planes, outDim)` where `planes`
  * is a foldable ARRAY<DOUBLE> of outDim·dim row-major entries.
  */
case class RandomProjection(child: Expression, planes: Array[Double], outDim: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _)
          if outDim >= 1 && planes.length % outDim == 0 && planes.length > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_project requires (ARRAY<FLOAT>/ARRAY<DOUBLE>, planes of outDim*dim " +
            s"doubles, outDim >= 1), got ${other.catalogString}, " +
            s"planes.length=${planes.length}, outDim=$outDim")
    }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    RandomProjection.compute(v.asInstanceOf[ArrayData], planes, outDim, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.RandomProjection.compute($c, $ref, $outDim, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RandomProjection {
  /** Static helper the generated code calls. Accumulation order matches
    * the composed ndot-per-plane form exactly (see class doc). */
  def compute(v: ArrayData, planes: Array[Double], outDim: Int, isFloat: Boolean): ArrayData = {
    VecKernel.requireDim(v, planes.length / outDim, "randomProject")
    val scale = math.sqrt(outDim.toDouble)
    val out = VecKernel.matVec(v, isFloat, planes, outDim)
    var j = 0
    while (j < outDim) { out(j) /= scale; j += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Registry builder: graft_project(vector, planes, outDim) — planes must
    * be a foldable ARRAY<DOUBLE> (the seeded literal matrix), outDim an
    * INT literal dividing planes.length. */
  private[expressions] def fromChildren(children: Seq[Expression]): Expression = {
    require(children.size == 3, "graft_project(vector, planes, outDim) takes 3 arguments")
    val planesE = children(1)
    val flat = planesE.dataType match {
      case ArrayType(DoubleType, _) if planesE.foldable =>
        planesE.eval().asInstanceOf[ArrayData].toDoubleArray()
      case _ => throw new IllegalArgumentException(
        "graft_project: planes must be a foldable ARRAY<DOUBLE> literal")
    }
    RandomProjection(children(0),
      flat, MinHashSignature.intLit(children(2), "graft_project", "outDim"))
  }
}
