package graft.functions.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One corpus packed for fused scoring: flat primitive arrays, rows
  * sorted by id — ids widened to BIGINT, per-row offsets (vectors may be
  * ragged; [[VecKernel]]'s common-prefix rule needs true lengths), the
  * concatenated elements in the corpus' own width (`floats` for
  * ARRAY<FLOAT>, `doubles` for ARRAY<DOUBLE>; the other is null, so a
  * FLOAT corpus broadcasts 4 B per element, not 8), and per-row norms
  * `sqrt(VecKernel.sumSq)` — bit-identical to the `l2Norm` column. Rows
  * are addressed by their packed index, so index order is id order. */
final class PackedVectors(
    val ids: Array[Long], val offs: Array[Int],
    val floats: Array[Float], val doubles: Array[Double],
    val norms: Array[Double]) extends Serializable {
  def n: Int = ids.length

  /** Row `i`'s offset and length in the packed elements. */
  def off(i: Int): Int = offs(i)
  def len(i: Int): Int = offs(i + 1) - offs(i)
}

object PackedVectors {
  /** Element width in bytes of a packable vector column (4 for FLOAT, 8
    * for DOUBLE) — what the caller's broadcast budget is sized from. */
  def elemBytes(vecType: DataType): Long = vecType match {
    case ArrayType(DoubleType, _) => 8L
    case _ => 4L
  }

  /** An id type that widens to BIGINT exactly. */
  def integral(idType: DataType): Boolean = idType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Integral ids and FLOAT or DOUBLE elements: the shapes that pack. */
  private[expressions] def packable(schema: StructType, idCol: String, vecCol: String): Boolean =
    integral(schema(idCol).dataType) && (schema(vecCol).dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })

  /** Pack collected rows whose fields 0 and 1 are an integral id and a
    * vector. Any integral id packs (as BIGINT; the caller casts emitted
    * ids back) and FLOAT or DOUBLE elements pack in their own width.
    * Returns the packed rows and, per packed row, the index of its source
    * row; or None for null or repeated ids, which the kernel's id-keyed
    * membership rules cannot tell apart (a join matches every copy and
    * dedups the pairs), so the caller takes its composite-key tier, which
    * is correct for any input. */
  private[expressions] def packRows(rows: Array[Row],
      isFloat: Boolean): Option[(PackedVectors, Array[Int])] = {
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
      norms(i) = math.sqrt(VecKernel.sumSq(floats, doubles, off, len)) // = l2Norm
      off += len
      i += 1
    }
    offs(n) = off
    Some((new PackedVectors(ids, offs, floats, doubles, norms), order))
  }
}

/** Rows grouped by bucket, per hash table: the block layout both fused
  * candidate cores broadcast ([[LshIndex]], [[MinHashIndex]]). Table
  * `t`'s kept bucket keys sit sorted in `keys[tblOff(t), tblOff(t + 1))`;
  * block `j`'s members are the row indices `members[memOff(j),
  * memOff(j + 1))`, ascending. Primitive arrays only, so a copy
  * deserializes fast and a lookup is one binary search. */
final class BucketBlocks private (keys: Array[Long], tblOff: Array[Int],
    memOff: Array[Int], members: Array[Int]) extends Serializable {
  /** Block index of `bucket` in table `t`, or -1 when it has none. */
  def block(t: Int, bucket: Long): Int = {
    val j = java.util.Arrays.binarySearch(keys, tblOff(t), tblOff(t + 1), bucket)
    if (j >= 0) j else -1
  }
  def blockStart(j: Int): Int = memOff(j)
  def blockEnd(j: Int): Int = memOff(j + 1)
  def member(r: Int): Int = members(r)
}

object BucketBlocks {
  /** `sigs(t)(i)` is table `t`'s bucket of row `i`. A bucket holding
    * more than `maxBlock` rows gets no block (its lookup reads -1). */
  def apply(sigs: Array[Array[Long]], maxBlock: Int = Int.MaxValue): BucketBlocks = {
    val n = if (sigs.isEmpty) 0 else sigs(0).length
    val keys = new Array[Long](sigs.length * n)
    val tblOff = new Array[Int](sigs.length + 1)
    val memOff = new Array[Int](sigs.length * n + 1)
    val members = new Array[Int](sigs.length * n)
    var nk = 0
    var at = 0
    for ((s, t) <- sigs.zipWithIndex) {
      tblOff(t) = nk
      val sorted = s.clone()
      java.util.Arrays.sort(sorted)
      val distinct = new Array[Long](n)
      var nd = 0
      for (b <- sorted) if (nd == 0 || distinct(nd - 1) != b) { distinct(nd) = b; nd += 1 }
      val slot = s.map(b => java.util.Arrays.binarySearch(distinct, 0, nd, b))
      val count = new Array[Int](nd)
      slot.foreach(j => count(j) += 1)
      // kept buckets take the next block indices; a dropped one maps to -1
      val blockOf = new Array[Int](nd)
      for (j <- 0 until nd) {
        if (count(j) <= maxBlock) {
          keys(nk) = distinct(j); memOff(nk) = at; at += count(j); blockOf(j) = nk; nk += 1
        } else blockOf(j) = -1
      }
      // counting sort of the rows into their blocks; rows go in ascending
      // index order, so every block is sorted
      val first = tblOff(t)
      val fill = java.util.Arrays.copyOfRange(memOff, first, nk)
      for (i <- 0 until n) {
        val j = blockOf(slot(i))
        if (j >= 0) { members(fill(j - first)) = i; fill(j - first) += 1 }
      }
    }
    tblOff(sigs.length) = nk
    memOff(nk) = at
    new BucketBlocks(java.util.Arrays.copyOf(keys, nk), tblOff,
      java.util.Arrays.copyOf(memOff, nk + 1), java.util.Arrays.copyOf(members, at))
  }
}

/** The fused LSH core's one broadcast: the build side's vectors
  * ([[PackedVectors]]) and, per hash table, its buckets as
  * [[BucketBlocks]] of packed-row indices. */
final class LshIndex private (val vectors: PackedVectors, val tables: Int,
    val blocks: BucketBlocks) extends Serializable

object LshIndex {
  /** `sigs(t)(i)` is table `t`'s bucket of packed row `i`. */
  def apply(vectors: PackedVectors, sigs: Array[Array[Long]]): LshIndex =
    new LshIndex(vectors, sigs.length, BucketBlocks(sigs))

  /** The build side's one collect: each `(idCol, vecCol)` row with its
    * per-table signatures `sigs` (an ARRAY<BIGINT> of `tables` buckets,
    * computed on the executors), packed and grouped on the driver. None
    * when the rows cannot pack ([[PackedVectors.packRows]]). */
  def collect(df: DataFrame, idCol: String, vecCol: String, sigs: Column,
      tables: Int): Option[LshIndex] =
    if (!PackedVectors.packable(df.schema, idCol, vecCol)) None
    else {
      val rows = df.select(col(idCol), col(vecCol), sigs).collect()
      PackedVectors.packRows(rows, PackedVectors.elemBytes(df.schema(vecCol).dataType) == 4L)
        .map { case (packed, order) =>
          LshIndex(packed, Array.tabulate(tables) { t =>
            order.map(r => rows(r).getSeq[Long](2)(t))
          })
        }
    }
}

/** The fused LSH kernel: one probe row against its candidate set, in
  * ONE call, emitting `ARRAY<STRUCT<doc_b BIGINT, cosine DOUBLE>>`.
  * Children `(aKey BIGINT, av, an, probes)`: the probe row's id (for the
  * membership rule), vector (FLOAT or DOUBLE elements) and norm, and its
  * per-table probe-bucket lists (`ARRAY<ARRAY<BIGINT>>`, one
  * `graft_lsh_probes` list per table). The kernel looks each bucket up in
  * the [[LshIndex]] broadcast, takes the distinct union of the blocks'
  * rows, and scores each candidate ONCE, however many tables and probes
  * it collides in — candidate work tracks distinct candidates, not the
  * per-table fan-out. Candidate rows never materialize.
  *
  * Bit-identity contract: the dot is [[VecKernel]]'s (common prefix,
  * ascending index, double accumulator, probe operand first), `cosine =
  * dot / (an * bn)` with the packed norm `sqrt(Σ x²)` (= the `l2Norm`
  * column), and the threshold is the same IEEE `>=` as a filter.
  *
  * Modes (the membership rule compares ids): SelfUnprobed emits `doc_b >
  * aKey` passing pairs (the a<b contract); SelfProbed emits `doc_b !=
  * aKey` passing pairs (both orientations, the caller canonicalizes);
  * Cross emits every passing candidate; TopK emits the `k` best `doc_b
  * != aKey` candidates with no threshold, best first: cosine descending
  * in Spark's double order (`SQLOrderingUtil.compareDoubles`: −0.0
  * equals 0.0, NaN is largest), ties to the smaller id — the order of a
  * `row_number()` window over `(cosine desc, neighbor_id)`. */
case class ScoreBucketBlock(children: Seq[Expression], index: Broadcast[LshIndex],
    threshold: Double, k: Int, mode: Int) extends Expression {

  import ScoreBucketBlock._

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = children.size == 4 && children(0).dataType == LongType &&
      (children(1).dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }) && children(2).dataType == DoubleType &&
      (children(3).dataType match {
        case ArrayType(ArrayType(LongType, _), _) => true
        case _ => false
      }) && (mode == Cross || mode == SelfProbed || mode == SelfUnprobed || mode == TopK && k >= 1)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_score_block mode $mode k $k got ${children.map(_.dataType.catalogString)}")
  }

  // the fields are never null; declared nullable so the emitted columns
  // keep the nullability a join of the id and cosine columns gives
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("doc_b", LongType), StructField("cosine", DoubleType))),
    containsNull = false)

  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.contains(null)) null
    else score(vs(0).asInstanceOf[Long], vs(1).asInstanceOf[ArrayData],
      vs(2).asInstanceOf[Double], vs(3).asInstanceOf[ArrayData])
  }

  @transient private lazy val probeIsFloat = children(1).dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // the candidate union's visited marks: this row's candidates carry the
  // current stamp. Per expression copy, so per task (each task
  // deserializes its own), never shared through the broadcast value
  @transient private lazy val seen = new Array[Int](index.value.vectors.n)
  @transient private var stamp = 0

  /** One probe row: the distinct union of its blocks, each candidate
    * scored once when first seen, then the mode's output. */
  def score(aKey: Long, av: ArrayData, an: Double, probes: ArrayData): ArrayData = {
    val ix = index.value
    val p = ix.vectors
    val bl = ix.blocks
    val a = VecKernel.widen(av, probeIsFloat)
    if (stamp == Int.MaxValue) { java.util.Arrays.fill(seen, 0); stamp = 0 }
    stamp += 1
    val cap = if (mode == TopK) math.min(k, p.n) else 16
    var outIdx = new Array[Int](cap)
    var outCos = new Array[Double](cap)
    var m = 0
    var t = 0
    while (t < math.min(probes.numElements(), ix.tables)) {
      val bs = if (probes.isNullAt(t)) null else probes.getArray(t)
      var q = 0
      while (bs != null && q < bs.numElements()) {
        val j = if (bs.isNullAt(q)) -1 else bl.block(t, bs.getLong(q))
        var r = if (j < 0) 0 else bl.blockStart(j)
        val end = if (j < 0) 0 else bl.blockEnd(j)
        while (r < end) {
          val i = bl.member(r)
          val id = p.ids(i)
          if (seen(i) != stamp && (mode match {
              case SelfUnprobed => id > aKey
              case Cross => true
              case _ => id != aKey
            })) {
            val c = VecKernel.dot(a, p.floats, p.doubles, p.off(i), p.len(i)) / (an * p.norms(i))
            if (mode == TopK) {
              // sorted insertion into the k best so far
              var at =
                if (m < cap) { m += 1; m - 1 }
                else if (better(c, i, outCos(cap - 1), outIdx(cap - 1))) cap - 1
                else -1
              while (at > 0 && better(c, i, outCos(at - 1), outIdx(at - 1))) {
                outCos(at) = outCos(at - 1); outIdx(at) = outIdx(at - 1); at -= 1
              }
              if (at >= 0) { outCos(at) = c; outIdx(at) = i }
            } else if (c >= threshold) {
              if (m == outIdx.length) {
                outIdx = java.util.Arrays.copyOf(outIdx, 2 * m)
                outCos = java.util.Arrays.copyOf(outCos, 2 * m)
              }
              outIdx(m) = i; outCos(m) = c; m += 1
            }
          }
          seen(i) = stamp
          r += 1
        }
        q += 1
      }
      t += 1
    }
    if (m == 0) empty
    else new GenericArrayData(Array.tabulate[Any](m)(x =>
      new GenericInternalRow(Array[Any](p.ids(outIdx(x)), outCos(x)))))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fusedScore", this, classOf[ScoreBucketBlock].getName)
    val gens = children.map(_.genCode(ctx))
    val nullChecks = gens.filter(_.isNull != FalseLiteral).map(g => s"${g.isNull}")
    val anyNull = if (nullChecks.isEmpty) "false" else nullChecks.mkString(" || ")
    ev.copy(code = code"""
      ${gens.map(_.code).mkString("\n")}
      boolean ${ev.isNull} = $anyNull;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.score(${gens.map(_.value).mkString(", ")});
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object ScoreBucketBlock {
  /** Cross-corpus: emit every passing candidate. */
  val Cross = 0
  /** Probed self-join: emit both orientations of every passing pair
    * except the self pair (the caller canonicalizes with least/greatest). */
  val SelfProbed = 1
  /** Unprobed self-join: emit only doc_b > doc_a (the a<b contract). */
  val SelfUnprobed = 2
  /** Top-k: emit the k best candidates other than the probe's own id,
    * best first, with no threshold. */
  val TopK = 3

  /** (c1, row i1) ranks before (c2, row i2): larger cosine in Spark's
    * double order, then the smaller packed row, i.e. the smaller id. */
  private def better(c1: Double, i1: Int, c2: Double, i2: Int): Boolean = {
    val cmp = SQLOrderingUtil.compareDoubles(c1, c2)
    cmp > 0 || cmp == 0 && i1 < i2
  }

  private val empty: ArrayData = new GenericArrayData(Array.empty[Any])
}
