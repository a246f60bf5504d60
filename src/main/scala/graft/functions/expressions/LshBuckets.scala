package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Shared single-pass core of the native LSH signature/probe expressions:
  * all `bits` hyperplane dots of one vector come from ONE
  * [[VecKernel.matVec]] call, with the vector column decoded once and the
  * kernel's accumulation per plane (so results are bit-identical to the
  * composed `ndot(vec, litArray(p))`-per-plane form they replace).
  *
  * Why fused (round 19, VERDICT r18 #3): d4's banded-cosine tier was the
  * top sf1 CPU line (47 s wall / 1,021 executor-cpu-s) and its per-row
  * signature work was the composed form's fault, not the math's — per
  * (row, table) the bucket expression re-decoded the vector 2·bits times
  * (bits signature dots + bits margin dots, Catalyst CSE does not reach
  * across when/struct branches), and the Hamming-1/2 probe fan-out ran
  * through interpreted higher-order functions (transform/flatten/
  * sort_array are HigherOrderFunction — one closure call per element,
  * boxed structs, no whole-stage codegen).
  */
private[expressions] object LshCore {
  def baseSig(d: Array[Double]): Long = {
    var sig = 0L
    var i = 0
    while (i < d.length) { if (d(i) >= 0) sig |= (1L << i); i += 1 }
    sig
  }
}

/** Native B-bit random-hyperplane signature: `graft_lsh_sig(vec, planes,
  * bits)` where planes is the foldable row-major bits·dim literal matrix.
  * Bit-identical to the composed `when(ndot(vec, p_i) >= 0, 1L << i)`
  * OR-reduction (same dots, same `>= 0` sign rule — +0.0 sets the bit,
  * matching Spark's `>=` on doubles). Length mismatches use the common
  * prefix, the [[VecKernel]] rule the composed form inherited. */
case class LshSignature(child: Expression, planes: Array[Double], bits: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _)
          if bits >= 1 && planes.length % bits == 0 && planes.length > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_lsh_sig requires (ARRAY<FLOAT>/ARRAY<DOUBLE>, planes of bits*dim " +
            s"doubles, bits >= 1), got ${other.catalogString}, " +
            s"planes.length=${planes.length}, bits=$bits")
    }

  override def dataType: DataType = LongType

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    LshCore.baseSig(VecKernel.matVec(v.asInstanceOf[ArrayData], elemIsFloat, planes, bits))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.LshCore.baseSig(" +
        s"graft.functions.expressions.VecKernel.matVec($c, $elemIsFloat, $ref, $bits))")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshSignature {
  private[expressions] def fromChildren(children: Seq[Expression]): Expression = {
    require(children.size == 3, "graft_lsh_sig(vector, planes, bits) takes 3 arguments")
    LshSignature(children(0), LshProbeBuckets.planesLit(children(1), "graft_lsh_sig"),
      MinHashSignature.intLit(children(2), "graft_lsh_sig", "bits"))
  }
}

/** Native margin-ordered multi-probe bucket list: `graft_lsh_probes(vec,
  * planes, bits, probes, probes2)` → ARRAY<LONG> of [base] ++ up to
  * `probes` Hamming-1 buckets (bits flipped in ascending |margin| order,
  * ties by plane index) ++ up to `probes2` Hamming-2 buckets (2-subsets
  * of the max(probes, 2) lowest-margin bits, ordered by summed margin,
  * ties by bucket value). Bit-identical to the composed
  * sort_array/transform/flatten pipeline it replaces (same dot order,
  * same slice windows, same tie-breaks — Spark's struct sort is
  * lexicographic (m, i) / (mm, b), mirrored here), pinned by the
  * PipelineSpec parity test against a driver-side reference. */
case class LshProbeBuckets(child: Expression, planes: Array[Double], bits: Int,
    probes: Int, probes2: Int) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _)
          if bits >= 1 && planes.length % bits == 0 && planes.length > 0 =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_lsh_probes requires (ARRAY<FLOAT>/ARRAY<DOUBLE>, planes of bits*dim " +
            s"doubles, bits >= 1), got ${other.catalogString}, " +
            s"planes.length=${planes.length}, bits=$bits")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    LshProbeBuckets.compute(v.asInstanceOf[ArrayData], planes, bits, probes, probes2, elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.LshProbeBuckets.compute(" +
        s"$c, $ref, $bits, $probes, $probes2, $elemIsFloat)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshProbeBuckets {
  def compute(v: ArrayData, planes: Array[Double], bits: Int,
      probes: Int, probes2: Int, isFloat: Boolean): ArrayData = {
    val d = VecKernel.matVec(v, isFloat, planes, bits)
    val base = LshCore.baseSig(d)
    if (probes <= 0 && probes2 <= 0)
      return UnsafeArrayData.fromPrimitiveArray(Array(base))
    // margin order: plane indices by (|dot|, index) ascending — the
    // composed form's sort_array over struct(m, i)
    val idx = new Array[Integer](bits)
    var i = 0
    while (i < bits) { idx(i) = i; i += 1 }
    java.util.Arrays.sort(idx, (a: Integer, b: Integer) => {
      val c = java.lang.Double.compare(math.abs(d(a)), math.abs(d(b)))
      if (c != 0) c else Integer.compare(a, b)
    })
    val n1 = if (probes <= 0) 0 else math.min(probes, bits)
    val win = if (probes2 <= 0) 0 else math.min(math.max(probes, 2), bits)
    val nPairs = win * (win - 1) / 2
    val n2 = if (probes2 <= 0) 0 else math.min(probes2, nPairs)
    val out = new Array[Long](1 + n1 + n2)
    out(0) = base
    i = 0
    while (i < n1) { out(1 + i) = base ^ (1L << idx(i)); i += 1 }
    if (n2 > 0) {
      // every 2-subset of the window, ordered by (summed margin, bucket)
      // — the composed form's sort_array over struct(mm, b); summation
      // keeps the earlier-margin operand first for FP parity
      val mm = new Array[Double](nPairs)
      val bk = new Array[Long](nPairs)
      val ord = new Array[Integer](nPairs)
      var p = 0
      var a = 0
      while (a < win) {
        var b = a + 1
        while (b < win) {
          mm(p) = math.abs(d(idx(a))) + math.abs(d(idx(b)))
          bk(p) = base ^ (1L << idx(a)) ^ (1L << idx(b))
          ord(p) = p
          p += 1; b += 1
        }
        a += 1
      }
      java.util.Arrays.sort(ord, (x: Integer, y: Integer) => {
        val c = java.lang.Double.compare(mm(x), mm(y))
        if (c != 0) c else java.lang.Long.compare(bk(x), bk(y))
      })
      i = 0
      while (i < n2) { out(1 + n1 + i) = bk(ord(i)); i += 1 }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private[expressions] def planesLit(e: Expression, fn: String): Array[Double] =
    e.dataType match {
      case ArrayType(DoubleType, _) if e.foldable =>
        e.eval().asInstanceOf[ArrayData].toDoubleArray()
      case _ => throw new IllegalArgumentException(
        s"$fn: planes must be a foldable ARRAY<DOUBLE> literal")
    }

  private[expressions] def fromChildren(children: Seq[Expression]): Expression = {
    require(children.size == 5,
      "graft_lsh_probes(vector, planes, bits, probes, probes2) takes 5 arguments")
    LshProbeBuckets(children(0), planesLit(children(1), "graft_lsh_probes"),
      MinHashSignature.intLit(children(2), "graft_lsh_probes", "bits"),
      MinHashSignature.intLit(children(3), "graft_lsh_probes", "probes"),
      MinHashSignature.intLit(children(4), "graft_lsh_probes", "probes2"))
  }
}
