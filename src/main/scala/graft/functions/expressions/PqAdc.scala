package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused product-quantization encode / LUT / ADC expressions (round 19).
  *
  * The join formulation of ADC scoring — corpus exploded to
  * (id, sub, code) rows ⋈ a broadcast (query, sub, code, part) LUT table,
  * then a (query, id)-keyed SUM over nSub rows — moves
  * |queries|·|corpus|·nSub rows through a hash join and an aggregation
  * exchange for work that is nSub ARRAY LOOKUPS per (query, vector)
  * pair. At sf1 the two PQ gates were the 3rd/4th wall lines (e7 18.9 s,
  * e8 20.7 s), previously called "ADC CPU, intrinsic" — intrinsic to the
  * JOIN formulation, not to the math. These expressions keep the whole
  * per-pair score inside whole-stage codegen: codes as one array<int>
  * per vector, the per-query LUT as one array<double>, the ADC sum as a
  * gather loop.
  *
  * Codebook representation (driver-held model state, the hyperplanes
  * precedent — nSub·nCodes·subDim doubles, a few KB): the trained books
  * collected SORTED BY (sub, code) and flattened to `cents`
  * (row-major centroids) + `starts` (nSub+1 prefix offsets into the row
  * list — codebooks can be ragged: a codeword that loses every Lloyd
  * member drops out). Codes here are FLAT ROW INDICES, not code ids —
  * they never leave the fused pipeline (the public pqEncode and the
  * persisted-index format keep the (id, sub, code) row form untouched).
  *
  * Parity with the join formulation it replaces, pinned by the
  * PipelineSpec degenerate-exact identities:
  *  - encode: argmin over a sub's rows of c·c − 2·x·c, every dot by
  *    [[VecKernel]]'s rule, ties to the LOWER code id =
  *    lower row index under the (sub, code) sort — exactly
  *    pqAssign's min_by(code, struct(d, code));
  *  - lut: part = dot(sub-slice of query, centroid), ascending;
  *  - adc: Σ_sub lut[idx_sub] in ascending sub order (the join form
  *    summed in shuffle order — same values, nondeterministic order;
  *    ascending is the more deterministic of the two).
  */
object PqCore {
  /** All per-row dots of one vector's sub-slices against the flattened
    * codebook rows: out(r) = dot(v[sub(r)·subDim ..], cents[r·subDim ..]). */
  def lut(v: ArrayData, cents: Array[Double], starts: Array[Int],
      isFloat: Boolean): Array[Double] = {
    val nSub = starts.length - 1
    val nRows = starts(nSub)
    val subDim = cents.length / nRows
    VecKernel.requireDim(v, nSub * subDim, "PQ")
    val x = VecKernel.widen(v, isFloat)
    val out = new Array[Double](nRows)
    var sub = 0
    while (sub < nSub) {
      var r = starts(sub)
      while (r < starts(sub + 1)) {
        out(r) = VecKernel.dotAt(x, sub * subDim, null, cents, r * subDim, subDim)
        r += 1
      }
      sub += 1
    }
    out
  }

  /** Per-sub argmin row index of c·c − 2·x·c (ties → lower row). */
  def encode(v: ArrayData, cents: Array[Double], starts: Array[Int],
      cc: Array[Double], isFloat: Boolean): ArrayData = {
    val dots = lut(v, cents, starts, isFloat)
    val nSub = starts.length - 1
    val out = new Array[Int](nSub)
    var sub = 0
    while (sub < nSub) {
      var bestR = starts(sub)
      var bestD = cc(bestR) - 2.0 * dots(bestR)
      var r = starts(sub) + 1
      while (r < starts(sub + 1)) {
        val d = cc(r) - 2.0 * dots(r)
        if (d < bestD) { bestD = d; bestR = r } // strict <: ties keep the lower row
        r += 1
      }
      out(sub) = bestR
      sub += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** c·c per flattened codebook row, the [[VecKernel]] sum of squares. */
  def rowNorms(cents: Array[Double], nRows: Int): Array[Double] = {
    val subDim = cents.length / nRows
    Array.tabulate(nRows)(r => VecKernel.sumSq(null, cents, r * subDim, subDim))
  }

  /** Σ_sub lut[codes[sub]], ascending — [[AdcSum]]'s one body for both
    * evaluation paths. */
  def adc(codes: ArrayData, lut: ArrayData): Double = {
    val n = codes.numElements()
    val m = lut.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val c = codes.getInt(i)
      // UnsafeArrayData.getDouble does NO bounds check — a mismatched
      // codes/lut pair would silently read garbage off the row buffer
      if (c < 0 || c >= m) throw new IllegalArgumentException(
        s"graft_adc: code $c out of range for LUT of $m entries — " +
          "codes and lut disagree on the subspace/centroid geometry")
      s += lut.getDouble(c)
      i += 1
    }
    s
  }

  private[expressions] def params(centsE: Expression, startsE: Expression,
      fn: String): (Array[Double], Array[Int]) = {
    val cents = LshProbeBuckets.planesLit(centsE, fn)
    val starts = startsE.dataType match {
      case ArrayType(IntegerType, _) if startsE.foldable =>
        startsE.eval().asInstanceOf[ArrayData].toIntArray()
      case _ => throw new IllegalArgumentException(
        s"$fn: starts must be a foldable ARRAY<INT> literal")
    }
    require(starts.length >= 2 && starts(0) == 0 && starts.last > 0 &&
      cents.length % starts.last == 0,
      s"$fn: starts must be nSub+1 prefix offsets covering ${cents.length} cents")
    // prefix offsets must be monotonic non-decreasing — a malformed array
    // that passes the endpoint checks would silently skip subspaces or
    // produce negative loop bounds downstream
    require(starts.sliding(2).forall(p => p(0) <= p(1)),
      s"$fn: starts must be non-decreasing prefix offsets, got ${starts.mkString("[", ",", "]")}")
    (cents, starts)
  }
}

/** `graft_pq_encode(vec, cents, starts)` → ARRAY<INT> flat row indices. */
case class PqEncode(child: Expression, cents: Array[Double], starts: Array[Int])
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_encode requires an ARRAY<FLOAT>/ARRAY<DOUBLE> vector, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val cc: Array[Double] = PqCore.rowNorms(cents, starts.last)
  override def nullSafeEval(v: Any): Any =
    PqCore.encode(v.asInstanceOf[ArrayData], cents, starts, cc, elemIsFloat)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cR = ctx.addReferenceObj("cents", cents, "double[]")
    val sR = ctx.addReferenceObj("starts", starts, "int[]")
    val ccR = ctx.addReferenceObj("cc", cc, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.PqCore.encode($c, $cR, $sR, $ccR, $elemIsFloat)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqEncode {
  private[expressions] def fromChildren(children: Seq[Expression]): Expression = {
    require(children.size == 3, "graft_pq_encode(vector, cents, starts) takes 3 arguments")
    val (cents, starts) = PqCore.params(children(1), children(2), "graft_pq_encode")
    PqEncode(children(0), cents, starts)
  }
}

/** `graft_pq_lut(vec, cents, starts)` → ARRAY<DOUBLE> per-row dots. */
case class PqLut(child: Expression, cents: Array[Double], starts: Array[Int])
    extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_pq_lut requires an ARRAY<FLOAT>/ARRAY<DOUBLE> vector, got ${other.catalogString}")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      PqCore.lut(v.asInstanceOf[ArrayData], cents, starts, elemIsFloat))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cR = ctx.addReferenceObj("cents", cents, "double[]")
    val sR = ctx.addReferenceObj("starts", starts, "int[]")
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(" +
        s"graft.functions.expressions.PqCore.lut($c, $cR, $sR, $elemIsFloat))")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PqLut {
  private[expressions] def fromChildren(children: Seq[Expression]): Expression = {
    require(children.size == 3, "graft_pq_lut(vector, cents, starts) takes 3 arguments")
    val (cents, starts) = PqCore.params(children(1), children(2), "graft_pq_lut")
    PqLut(children(0), cents, starts)
  }
}

/** `graft_adc(codes, lut)` → DOUBLE: Σ_sub lut[codes[sub]], ascending. */
case class AdcSum(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_adc requires (ARRAY<INT> codes, ARRAY<DOUBLE> lut), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    PqCore.adc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.expressions.PqCore.adc($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
