package graft.functions.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.types._

/** The fused MinHash core's one broadcast: per document, in id order
  * (ids widened to BIGINT, distinct), its `graft_minhash` signature, its
  * sorted `graft_shingle_hashes` and, per band, the [[BucketBlocks]] block
  * its band bucket falls in (-1 when that bucket holds more than
  * `maxBucketSize` documents). Rows are addressed by their position, so
  * position order is id order. */
final class MinHashIndex private (val ids: Array[Long], val numHashes: Int,
    sigs: Array[Long], val bands: Int, rowBlock: Array[Int], val blocks: BucketBlocks,
    shOff: Array[Int], sh: Array[Long]) extends Serializable {
  def n: Int = ids.length

  /** Row `i`'s block in band `b`, or -1. */
  def block(i: Int, b: Int): Int = rowBlock(i * bands + b)

  /** Signature slots rows `i` and `j` agree on. */
  def equalSlots(i: Int, j: Int): Int = {
    var s = 0
    var m = 0
    while (s < numHashes) {
      if (sigs(i * numHashes + s) == sigs(j * numHashes + s)) m += 1
      s += 1
    }
    m
  }

  def shingles(i: Int): Int = shOff(i + 1) - shOff(i)

  /** Distinct hashes common to rows `i` and `j`: one merge walk over the
    * two sorted arrays, a run of equal hashes counting once on both
    * sides (what `size(array_intersect(a, b))` counts). */
  def commonShingles(i: Int, j: Int): Int = {
    var x = shOff(i)
    val xe = shOff(i + 1)
    var y = shOff(j)
    val ye = shOff(j + 1)
    var m = 0
    while (x < xe && y < ye) {
      val a = sh(x)
      val b = sh(y)
      if (a < b) x += 1
      else if (a > b) y += 1
      else {
        m += 1
        while (x < xe && sh(x) == a) x += 1
        while (y < ye && sh(y) == a) y += 1
      }
    }
    m
  }
}

object MinHashIndex {
  /** Rows in ascending distinct id order: `sigs(i)` holds `numHashes`
    * slots, `buckets(i)` one bucket per band, `shingles(i)` the sorted
    * shingle hashes. */
  def apply(ids: Array[Long], numHashes: Int, sigs: Array[Array[Long]],
      buckets: Array[Array[Long]], shingles: Array[Array[Long]], bands: Int,
      maxBucketSize: Int): MinHashIndex = {
    val n = ids.length
    val blocks = BucketBlocks(Array.tabulate(bands)(b => buckets.map(_(b))), maxBucketSize)
    val rowBlock = new Array[Int](n * bands)
    for (i <- 0 until n; b <- 0 until bands) rowBlock(i * bands + b) = blocks.block(b, buckets(i)(b))
    val shOff = shingles.scanLeft(0)(_ + _.length)
    new MinHashIndex(ids, numHashes, sigs.flatten, bands, rowBlock, blocks, shOff, shingles.flatten)
  }

  /** The one collect: `df` is `(id, sig, buckets, sh)`, every column
    * computed on the executors, with integral ids. ONE job packs each
    * partition into primitive arrays and sizes it exactly
    * ([[rowBytes]]); the driver sums the sizes, so nothing is collected
    * past `budget`. A partition larger than its share of the budget ships
    * its size only; when the total fits after all, a second pass ships
    * the rows. Left(Some(bytes)) when the rows outgrow `budget`,
    * Left(None) when the ids are not integral, or one is null or repeats
    * (the kernel's a<b rule compares ids). */
  def collect(df: DataFrame, numHashes: Int, bands: Int, maxBucketSize: Int,
      budget: Long): Either[Option[Long], MinHashIndex] = {
    val idType = df.schema.head.dataType
    if (!PackedVectors.integral(idType)) return Left(None)
    val rows = df.queryExecution.toRdd
    val first = pack(rows, idType, numHashes, bands, budget,
      share = budget / math.max(1, rows.getNumPartitions))
    val bytes = first.map(_.bytes).sum
    if (bytes > budget) return Left(Some(bytes))
    val parts = if (first.forall(_.shipped)) first
      else pack(rows, idType, numHashes, bands, budget, share = budget)
    if (parts.exists(_.nullId)) return Left(None)
    val at = parts.flatMap(p => p.ids.indices.map(k => (p, k)))
    val order = at.indices.sortBy(g => at(g)._1.ids(at(g)._2)).toArray
    val ids = order.map(g => at(g)._1.ids(at(g)._2))
    if (ids.indices.drop(1).exists(i => ids(i) == ids(i - 1))) return Left(None)
    def rowsOf(f: (Part, Int) => Array[Long]) = order.map(g => f(at(g)._1, at(g)._2))
    Right(MinHashIndex(ids, numHashes,
      rowsOf((p, k) => java.util.Arrays.copyOfRange(p.sigs, k * numHashes, (k + 1) * numHashes)),
      rowsOf((p, k) => java.util.Arrays.copyOfRange(p.buckets, k * bands, (k + 1) * bands)),
      rowsOf((p, k) => java.util.Arrays.copyOfRange(p.sh, p.shOff(k), p.shOff(k + 1))),
      bands, maxBucketSize))
  }

  /** What one document costs the driver: its id, signature, buckets and
    * shingle hashes, its slots in the blocks, and array headers. */
  private def rowBytes(numHashes: Int, bands: Int, shingles: Int): Long =
    8L * (1 + numHashes + bands + shingles) + 20L * bands + 64L

  /** One partition's documents as flat primitive arrays, or only their
    * size (`shipped` false) when they outgrew the partition's share. */
  private final class Part(val bytes: Long, val shipped: Boolean, val nullId: Boolean,
      val ids: Array[Long], val sigs: Array[Long], val buckets: Array[Long],
      val shOff: Array[Int], val sh: Array[Long]) extends Serializable

  private def pack(rows: org.apache.spark.rdd.RDD[InternalRow], idType: DataType,
      numHashes: Int, bands: Int, budget: Long, share: Long): Array[Part] =
    rows.mapPartitions { it =>
      val ids = Array.newBuilder[Long]
      val sigs = Array.newBuilder[Long]
      val buckets = Array.newBuilder[Long]
      val shOff = Array.newBuilder[Int]
      val sh = Array.newBuilder[Long]
      shOff += 0
      var bytes = 0L
      var shipped = true
      var nullId = false
      var off = 0
      // past the whole budget the call falls back: stop reading
      while (it.hasNext && bytes <= budget) {
        val r = it.next()
        val s = r.getArray(3)
        bytes += rowBytes(numHashes, bands, s.numElements())
        if (shipped && bytes > share) {
          shipped = false
          Seq(ids, sigs, buckets, sh).foreach(_.clear())
          shOff.clear()
        }
        if (shipped) {
          if (r.isNullAt(0)) nullId = true
          else ids += (idType match {
            case ByteType => r.getByte(0).toLong
            case ShortType => r.getShort(0).toLong
            case IntegerType => r.getInt(0).toLong
            case _ => r.getLong(0)
          })
          sigs ++= r.getArray(1).toLongArray()
          buckets ++= r.getArray(2).toLongArray()
          sh ++= s.toLongArray()
          off += s.numElements()
          shOff += off
        }
      }
      Iterator(new Part(bytes, shipped, nullId, ids.result(), sigs.result(), buckets.result(),
        shOff.result(), sh.result()))
    }.collect()
}

/** The fused MinHash kernel: one document of the [[MinHashIndex]]
  * broadcast against its candidates, in ONE call. The child is the
  * document's row position (BIGINT; a position outside the index emits
  * no pair). The kernel takes the distinct union of the row's band
  * blocks, keeps the candidates with a larger id (the a<b rule, so no
  * pair is found twice and none needs a dedup) and scores each ONCE,
  * however many bands it shares:
  *
  *  - estimate: equal signature slots / numHashes `>= estFloor`;
  *  - verify: `inter` = distinct hashes common to both shingle arrays,
  *    `jaccard = inter / (size_a + size_b − inter)` as a double, kept
  *    when `>= threshold`.
  *
  * Bit-identity contract with the relational funnel in
  * `Dedup.minHashDuplicates`: the same int counts, the same double
  * divisions, and Spark's double order for both `>=`
  * (`SQLOrderingUtil.compareDoubles`). A zero denominator (two empty
  * shingle arrays, which `graft_shingle_hashes` never yields) emits
  * nothing, as Spark's division yields null there. Emits
  * `ARRAY<STRUCT<doc_a BIGINT, doc_b BIGINT, jaccard DOUBLE>>`. */
case class VerifyBandBlock(child: Expression, index: Broadcast[MinHashIndex],
    estFloor: Double, threshold: Double) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_verify_band_block takes a BIGINT row position, got ${child.dataType.catalogString}")

  // no field is ever null; jaccard is declared nullable so the emitted
  // columns keep the relational tier's schema (its division is nullable)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("doc_a", LongType, nullable = false), StructField("doc_b", LongType, nullable = false),
    StructField("jaccard", DoubleType))), containsNull = false)

  override def nullSafeEval(pos: Any): Any = pairs(pos.asInstanceOf[Long])

  // the candidate union's visited marks, per expression copy (per task)
  @transient private lazy val seen = new Array[Int](index.value.n)
  @transient private var stamp = 0

  /** Row `pos`' verified pairs. */
  def pairs(pos: Long): ArrayData = {
    val ix = index.value
    if (pos < 0 || pos >= ix.n) return VerifyBandBlock.empty
    val i = pos.toInt
    if (stamp == Int.MaxValue) { java.util.Arrays.fill(seen, 0); stamp = 0 }
    stamp += 1
    val bl = ix.blocks
    val out = Array.newBuilder[Any]
    var b = 0
    while (b < ix.bands) {
      val j = ix.block(i, b)
      var r = if (j < 0) 0 else bl.blockStart(j)
      val end = if (j < 0) 0 else bl.blockEnd(j)
      while (r < end) {
        val c = bl.member(r)
        if (c > i && seen(c) != stamp) {
          seen(c) = stamp
          val est = ix.equalSlots(i, c).toDouble / ix.numHashes.toDouble
          if (SQLOrderingUtil.compareDoubles(est, estFloor) >= 0) {
            val inter = ix.commonShingles(i, c)
            val denom = ix.shingles(i) + ix.shingles(c) - inter
            if (denom != 0) {
              val jaccard = inter.toDouble / denom.toDouble
              if (SQLOrderingUtil.compareDoubles(jaccard, threshold) >= 0)
                out += new GenericInternalRow(Array[Any](ix.ids(i), ix.ids(c), jaccard))
            }
          }
        }
        r += 1
      }
      b += 1
    }
    val rows = out.result()
    if (rows.isEmpty) VerifyBandBlock.empty else new GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("fusedVerify", this, classOf[VerifyBandBlock].getName)
    val g = child.genCode(ctx)
    val isNull = if (g.isNull == FalseLiteral) "false" else s"${g.isNull}"
    ev.copy(code = code"""
      ${g.code}
      boolean ${ev.isNull} = $isNull;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = $ref.pairs(${g.value});
      }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VerifyBandBlock {
  private val empty: ArrayData = new GenericArrayData(Array.empty[Any])
}
