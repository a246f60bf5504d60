package graft.functions.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One corpus packed for fused in-bucket scoring (round 22, VERDICT r21
  * #2): flat primitive arrays — ids widened to BIGINT, per-row offsets
  * (vectors may be ragged; [[VecKernel]]'s common-prefix rule needs
  * true lengths), the concatenated elements in the corpus' own width
  * (`floats` for ARRAY<FLOAT>, `doubles` for ARRAY<DOUBLE>; the other is
  * null, so a FLOAT corpus broadcasts 4 B per element, not 8), and
  * per-row norms `sqrt(VecKernel.sumSq)` — bit-identical to the `nnorm`
  * column it replaces.
  *
  * Shipped ONCE per query as an `sc.broadcast` (the same budget-gated
  * bytes a corpus-by-id broadcast relation would carry), and looked up
  * per candidate through a lazily built open-addressing id→index table
  * (one build per deserialized copy, i.e. once per executor). */
final class PackedVectors(
    val ids: Array[Long], val offs: Array[Int],
    val floats: Array[Float], val doubles: Array[Double],
    val norms: Array[Double]) extends Serializable {
  def n: Int = ids.length

  // open-addressing id→index map: power-of-two capacity ≥ 2n, linear
  // probing, splitmix64 finalizer — built lazily so only executors that
  // actually score pay the one-time pass (slot value -1 = empty)
  @transient private lazy val (tblKeys, tblVals, tblMask): (Array[Long], Array[Int], Int) = {
    var cap = 16
    while (cap < 2 * math.max(1, n)) cap <<= 1
    val ks = new Array[Long](cap)
    val vs = new Array[Int](cap)
    java.util.Arrays.fill(vs, -1)
    val mask = cap - 1
    var i = 0
    while (i < n) {
      var s = PackedVectors.mix(ids(i)) & mask
      while (vs(s) >= 0) s = (s + 1) & mask
      ks(s) = ids(i); vs(s) = i
      i += 1
    }
    (ks, vs, mask)
  }

  /** Index of `id`, or -1 when absent. */
  def indexOf(id: Long): Int = {
    val (ks, vs, mask) = (tblKeys, tblVals, tblMask)
    var s = PackedVectors.mix(id) & mask
    while (vs(s) >= 0) {
      if (ks(s) == id) return vs(s)
      s = (s + 1) & mask
    }
    -1
  }

  /** Row `i`'s offset and length in the packed elements. */
  def off(i: Int): Int = offs(i)
  def len(i: Int): Int = offs(i + 1) - offs(i)
}

object PackedVectors {
  private[expressions] def mix(x0: Long): Int = {
    // splitmix64 finalizer — well-spread slots for arbitrary id spaces
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    (x ^ (x >>> 31)).toInt
  }

  /** Element width in bytes of a packable vector column (4 for FLOAT, 8
    * for DOUBLE) — what the caller's broadcast budget is sized from. */
  def elemBytes(vecType: DataType): Long = vecType match {
    case ArrayType(DoubleType, _) => 8L
    case _ => 4L
  }

  /** Collect and pack `(idCol, vecCol)` — the fused tier's broadcast
    * build, run at plan-construction time under the caller's byte
    * budget (the same driver-side collect a BroadcastHashJoin build
    * would do at execution). Any integral id type packs (as BIGINT; the
    * caller casts emitted ids back) and FLOAT or DOUBLE elements pack in
    * their own width. Returns None when the packed lookup could not
    * reproduce a by-id join — non-integral or null ids, or duplicate
    * ids (a join matches every copy) — so the caller takes its
    * composite-key tier, which is correct for any input. */
  def pack(df: DataFrame, idCol: String, vecCol: String): Option[PackedVectors] = {
    val okShape = (df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }) && (df.schema(vecCol).dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (!okShape) return None
    val isFloat = elemBytes(df.schema(vecCol).dataType) == 4L
    val rows = df.select(col(idCol), col(vecCol)).collect()
    val n = rows.length
    val rawIds = new Array[Long](n)
    var i = 0
    while (i < n) {
      val id = rows(i).get(0)
      if (id == null) return None
      rawIds(i) = id.asInstanceOf[Number].longValue
      i += 1
    }
    val order = (0 until n).sortBy(rawIds(_)).toArray
    val ids = new Array[Long](n)
    val offs = new Array[Int](n + 1)
    var total = 0L
    i = 0
    while (i < n) {
      ids(i) = rawIds(order(i))
      if (i > 0 && ids(i) == ids(i - 1)) return None // duplicate ids → composite tier
      total += rows(order(i)).getSeq[Any](1).length
      i += 1
    }
    if (total > Int.MaxValue) return None
    val floats = if (isFloat) new Array[Float](total.toInt) else null
    val doubles = if (isFloat) null else new Array[Double](total.toInt)
    val norms = new Array[Double](n)
    i = 0
    var off = 0
    while (i < n) {
      offs(i) = off
      val v = rows(order(i)).getSeq[Any](1)
      val len = v.length
      var j = 0
      while (j < len) {
        // null elements read as 0 — the [[VecKernel]] rule (dense by
        // contract, but the packed corpus must not diverge from it)
        v(j) match {
          case null => // the arrays are zero-filled
          case f: java.lang.Float => floats(off + j) = f
          case d => doubles(off + j) = d.asInstanceOf[java.lang.Double]
        }
        j += 1
      }
      norms(i) = math.sqrt(VecKernel.sumSq(floats, doubles, off, len)) // = nnorm
      off += len
      i += 1
    }
    offs(n) = off
    Some(new PackedVectors(ids, offs, floats, doubles, norms))
  }
}

/** Fused in-bucket scoring (round 22, VERDICT r21 #2, guide §4 + the §8
  * worked-example rule): score one probe row against its bucket's whole
  * id block in ONE call and emit only the PASSING `(doc_b, cosine)`
  * pairs as `ARRAY<STRUCT<doc_b BIGINT, cosine DOUBLE>>` — the
  * candidate rows themselves (≈20 B per-row scorings at the d4 100×
  * probe point) never materialize as join output, and the by-id
  * vector-attach broadcast join disappears: vectors come from the
  * [[PackedVectors]] broadcast.
  *
  * Bit-identity contract (equality-pinned in PipelineSpec against the
  * per-table union tier): the dot is [[VecKernel]]'s (common prefix,
  * ascending index, double accumulator), `cosine = dot / (an *
  * bn)` with both norms packed as `sqrt(Σ x²)` (= the nnorm column), and
  * the threshold is the same IEEE `>=`. Candidate membership is the
  * bucket block itself — grouped from the identical signature
  * expressions.
  *
  * Modes: SelfProbed (children `(aId BIGINT, bids)`, probe vector looked
  * up in the packed corpus, emits `doc_b != aId` — both orientations,
  * the caller canonicalizes), SelfUnprobed (same children, emits only
  * `doc_b > aId` — the a<b contract with no canonicalize step), Cross
  * (children `(av, an, bids)` with `av` FLOAT or DOUBLE elements, emits
  * every passing block member — the decontamination shape, reference
  * packed). */
case class ScoreBucketBlock(children: Seq[Expression],
    packed: Broadcast[PackedVectors], threshold: Double, mode: Int)
    extends Expression {

  import ScoreBucketBlock._

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val idBlock = children.last.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val ok = idBlock && (mode match {
      case SelfProbed | SelfUnprobed =>
        children.size == 2 && children(0).dataType == LongType
      case Cross =>
        children.size == 3 && children(1).dataType == DoubleType &&
          (children(0).dataType match {
            case ArrayType(FloatType | DoubleType, _) => true
            case _ => false
          })
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_score_block mode $mode got ${children.map(_.dataType.catalogString)}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("doc_b", LongType, nullable = false),
      StructField("cosine", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = mode match {
    case Cross =>
      val av = children(0).eval(input)
      val an = children(1).eval(input)
      val bids = children(2).eval(input)
      if (av == null || an == null || bids == null) null
      else scoreCross(av.asInstanceOf[ArrayData], an.asInstanceOf[Double],
        bids.asInstanceOf[ArrayData])
    case _ =>
      val aId = children(0).eval(input)
      val bids = children(1).eval(input)
      if (aId == null || bids == null) null
      else scoreSelf(aId.asInstanceOf[Long], bids.asInstanceOf[ArrayData])
  }

  /** Self-join scoring: the probe vector is the packed corpus row of
    * `aId` (bit-identical elements/norm to the column values — packed
    * from the same relation). */
  def scoreSelf(aId: Long, bids: ArrayData): ArrayData = {
    val p = packed.value
    val ai = p.indexOf(aId)
    require(ai >= 0, s"graft_score_block: probe id $aId not in the packed corpus")
    scoreLoop(p, VecKernel.widen(p.floats, p.doubles, p.off(ai), p.len(ai)),
      p.norms(ai), aId, bids)
  }

  @transient private lazy val probeIsFloat = children(0).dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** Cross-corpus scoring: probe vector rides the row (the reference is
    * the packed side). Widens the probe once per call, so the inner loop
    * reads primitive arrays on both sides. */
  def scoreCross(av: ArrayData, an: Double, bids: ArrayData): ArrayData =
    scoreLoop(packed.value, VecKernel.widen(av, probeIsFloat), an, 0L, bids)

  /** The fused inner loop: for each block member, [[VecKernel.dot]],
    * `cosine = dot / (an * bn)`, emit when `cosine >= threshold`.
    * `aId` drives the mode's membership rule: SelfUnprobed keeps only
    * doc_b > aId (the a<b contract), SelfProbed skips doc_b == aId
    * (both orientations kept for the caller's canonicalize), Cross
    * keeps every member. */
  private def scoreLoop(p: PackedVectors, a: Array[Double], an: Double, aId: Long,
      bids: ArrayData): ArrayData = {
    val m = bids.numElements()
    var out: Array[Any] = null
    var k = 0
    var i = 0
    while (i < m) {
      val bId = bids.getLong(i)
      val keep =
        if (mode == SelfUnprobed) bId > aId
        else if (mode == SelfProbed) bId != aId
        else true
      if (keep) {
        val bi = p.indexOf(bId)
        require(bi >= 0, s"graft_score_block: block id $bId not in the packed corpus")
        val c = VecKernel.dot(a, p.floats, p.doubles, p.off(bi), p.len(bi)) /
          (an * p.norms(bi))
        if (c >= threshold) {
          if (out == null) out = new Array[Any](m)
          out(k) = new GenericInternalRow(Array[Any](bId, c))
          k += 1
        }
      }
      i += 1
    }
    if (out == null) ScoreBucketBlock.empty
    else new GenericArrayData(if (k == out.length) out else java.util.Arrays.copyOf(
      out.asInstanceOf[Array[AnyRef]], k).asInstanceOf[Array[Any]])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fusedScore", this, classOf[ScoreBucketBlock].getName)
    val gens = children.map(_.genCode(ctx))
    val call = mode match {
      case Cross => s"$ref.scoreCross(${gens(0).value}, ${gens(1).value}, ${gens(2).value})"
      case _ => s"$ref.scoreSelf(${gens(0).value}, ${gens(1).value})"
    }
    val nullChecks = gens.filter(_.isNull != FalseLiteral).map(g => s"${g.isNull}")
    val anyNull = if (nullChecks.isEmpty) "false" else nullChecks.mkString(" || ")
    ev.copy(code = code"""
      ${gens.map(_.code).mkString("\n")}
      boolean ${ev.isNull} = $anyNull;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) { ${ev.value} = $call; }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object ScoreBucketBlock {
  /** Probed self-join: emit both orientations of every passing pair
    * except the self pair (caller canonicalizes with least/greatest). */
  val SelfProbed = 1
  /** Unprobed self-join: emit only doc_b > doc_a (the a<b contract). */
  val SelfUnprobed = 2
  /** Cross-corpus: emit every passing block member. */
  val Cross = 0

  private val empty: ArrayData = new GenericArrayData(Array.empty[Any])
}
