package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The one vector-arithmetic rule that bit-identity between graft's tiers,
  * and against the DuckDB oracle, rests on:
  *  - common prefix: two vectors of different lengths are dotted over the
  *    shorter one's length (the `zip_with` rule the composed forms had);
  *  - ascending element index, one double accumulator (`s += x * y`);
  *  - FLOAT elements widened to double exactly before the multiply;
  *  - null elements read as 0 (embedding columns are dense by contract).
  *
  * Every native expression's `eval` calls these helpers, and so does its
  * generated code (as a static call), so the interpreted and the codegen
  * path cannot diverge; the driver-side callers (the packed corpus, the
  * assignment-width calibration) use the primitive-array overloads. The
  * left operand of each product is always the first argument. */
object VecKernel {

  @inline private def elem(v: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** `v` with its null slots reading 0 through `getFloat`/`getDouble`.
    * Unsafe arrays store 0 under a null and generic ones unbox null to 0;
    * a ColumnarArray from a vectorized Parquet scan keeps whatever an
    * earlier batch left under a null slot, so it is copied (a copy with
    * nulls is a generic array). */
  private def zeroNulls(v: ArrayData): ArrayData = v match {
    case _: UnsafeArrayData | _: GenericArrayData => v
    case _ => v.copy()
  }

  /** `a · b` over the common prefix. */
  def dot(a0: ArrayData, aFloat: Boolean, b0: ArrayData, bFloat: Boolean): Double = {
    val a = zeroNulls(a0); val b = zeroNulls(b0)
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += elem(a, i, aFloat) * elem(b, i, bFloat); i += 1 }
    s
  }

  /** `v · v`. */
  def sumSq(v0: ArrayData, isFloat: Boolean): Double = {
    val v = zeroNulls(v0)
    val n = v.numElements()
    var s = 0.0
    var i = 0
    while (i < n) { val x = elem(v, i, isFloat); s += x * x; i += 1 }
    s
  }

  /** All `rows` row dots of the row-major `rows × (m.length / rows)`
    * matrix `m` against `v`, over the common prefix. */
  def matVec(v0: ArrayData, isFloat: Boolean, m: Array[Double], rows: Int): Array[Double] = {
    val v = zeroNulls(v0)
    val dim = m.length / rows
    val n = math.min(v.numElements(), dim)
    val out = new Array[Double](rows)
    var r = 0
    while (r < rows) {
      val base = r * dim
      var s = 0.0
      var i = 0
      while (i < n) { s += elem(v, i, isFloat) * m(base + i); i += 1 }
      out(r) = s
      r += 1
    }
    out
  }

  /** The strict form for callers whose output is meaningless on a
    * truncated vector: `v` must have exactly `dim` elements. */
  def requireDim(v: ArrayData, dim: Int, what: String): Unit = {
    val n = v.numElements()
    if (n != dim) throw new IllegalArgumentException(
      s"graft $what: expected $dim-dimensional vectors, found $n")
  }

  /** `v`'s elements as doubles, read by the rule — for callers that dot
    * one vector many times (the packed scoring loop's probe, the PQ
    * sub-slices), so their inner loops read primitive arrays. */
  def widen(v0: ArrayData, isFloat: Boolean): Array[Double] = {
    val v = zeroNulls(v0)
    val out = new Array[Double](v.numElements())
    var i = 0
    while (i < out.length) { out(i) = elem(v, i, isFloat); i += 1 }
    out
  }

  // ---- primitive-array overloads: a packed operand is the non-null one of
  // `bf` (FLOAT, widened per element) and `bd` (DOUBLE) at [bOff, bOff+bLen)

  /** `a[aOff, aOff+len) · b[bOff, bOff+len)`. */
  def dotAt(a: Array[Double], aOff: Int, bf: Array[Float], bd: Array[Double],
      bOff: Int, len: Int): Double = {
    var s = 0.0
    var i = 0
    if (bf != null) while (i < len) { s += a(aOff + i) * bf(bOff + i); i += 1 }
    else while (i < len) { s += a(aOff + i) * bd(bOff + i); i += 1 }
    s
  }

  /** `a · b` over the common prefix of `a` and the packed row. */
  def dot(a: Array[Double], bf: Array[Float], bd: Array[Double], bOff: Int, bLen: Int): Double =
    dotAt(a, 0, bf, bd, bOff, math.min(a.length, bLen))

  def dot(a: Array[Double], b: Array[Double]): Double = dot(a, null, b, 0, b.length)

  /** The packed row's sum of squares. */
  def sumSq(bf: Array[Float], bd: Array[Double], off: Int, len: Int): Double = {
    var s = 0.0
    var i = 0
    if (bf != null) while (i < len) { val x = bf(off + i).toDouble; s += x * x; i += 1 }
    else while (i < len) { val x = bd(off + i); s += x * x; i += 1 }
    s
  }

  def sumSq(a: Array[Double]): Double = sumSq(null, a, 0, a.length)

  /** The packed row as doubles. */
  def widen(bf: Array[Float], bd: Array[Double], off: Int, len: Int): Array[Double] =
    if (bf == null) java.util.Arrays.copyOfRange(bd, off, off + len)
    else {
      val out = new Array[Double](len)
      var i = 0
      while (i < len) { out(i) = bf(off + i); i += 1 }
      out
    }
}
