package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused MMR greedy (round 22, VERDICT r21 #3): the whole k-round
  * Maximal-Marginal-Relevance selection for ONE query, evaluated in one
  * codegen'd call over the query's collected candidate shortlist — the
  * k−1 greedy rounds are sequential per query, but the shortlist is tiny,
  * so [[graft.functions.Similarity.mmrTopK]] runs no per-round jobs (a
  * join-shaped round pays a join, an aggregation, an argmax and a
  * localCheckpoint, ~0.3 s of driver floor each at sf0.1: SCALING.md
  * "Round 22: e14 fused MMR greedy").
  *
  * Child: `ARRAY<STRUCT<id BIGINT, rel DOUBLE, v ARRAY<FLOAT|DOUBLE>, n
  * DOUBLE>>` — rel is bruteForceTopK's cosine, n is the vector's
  * `Similarity.l2Norm` (`sqrt(graft_dot(v, v))`). Emits `ARRAY<STRUCT<id BIGINT, mmr_rank
  * BIGINT, mmr_score DOUBLE>>`, ranks 1..min(k, |shortlist|).
  *
  * Operation order (equality-pinned in PipelineSpec against a driver-side
  * brute-force reference):
  *  - round 1 score = `lambda * rel`;
  *  - pairwise sim = [[VecKernel.dot]] / (n_cand * n_sel);
  *  - penalty = max sim over the selected set, kept as a running max
  *    (max is a selection: order-independent for the finite sims the
  *    usable() contract guarantees);
  *  - round i score = `lambda * rel - (1.0 - lambda) * penalty`;
  *  - every argmax breaks ties to the smaller id, and 0.0 ties -0.0
  *    (IEEE ==).
  * Result is independent of shortlist order: all comparisons are
  * selections with total deterministic tie-breaks. */
case class MmrGreedy(child: Expression, k: Int, lambda: Double)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(
        StructField(_, LongType, _, _), StructField(_, DoubleType, _, _),
        StructField(_, ArrayType(FloatType | DoubleType, _), _, _),
        StructField(_, DoubleType, _, _))), _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_mmr_greedy requires ARRAY<STRUCT<BIGINT, DOUBLE, ARRAY<FLOAT|DOUBLE>, DOUBLE>>, " +
            s"got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("mmr_rank", LongType, nullable = false),
      StructField("mmr_score", DoubleType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any =
    greedy(input.asInstanceOf[ArrayData])

  @transient private lazy val isFloat = child.dataType match {
    case ArrayType(StructType(fs), _) => fs(2).dataType.asInstanceOf[ArrayType].elementType == FloatType
    case _ => false
  }

  def greedy(shortlist: ArrayData): ArrayData = {
    val m = shortlist.numElements()
    if (m == 0) return new GenericArrayData(Array.empty[Any])
    val ids = new Array[Long](m)
    val rels = new Array[Double](m)
    val norms = new Array[Double](m)
    val vecs = new Array[ArrayData](m)
    var i = 0
    while (i < m) {
      val r = shortlist.getStruct(i, 4)
      ids(i) = r.getLong(0)
      rels(i) = r.getDouble(1)
      vecs(i) = r.getArray(2)
      norms(i) = r.getDouble(3)
      i += 1
    }
    val rounds = math.min(k, m)
    val out = new Array[Any](rounds)
    val taken = new Array[Boolean](m)
    // pen(i) = max sim(i, s) over selected s — running max, updated once
    // per pick
    val pen = new Array[Double](m)
    java.util.Arrays.fill(pen, Double.NegativeInfinity)
    // round 1: pure relevance argmax, ties to the smaller id
    var best = -1
    i = 0
    while (i < m) {
      if (best < 0 || rels(i) > rels(best) ||
        (rels(i) == rels(best) && ids(i) < ids(best))) best = i
      i += 1
    }
    taken(best) = true
    out(0) = new GenericInternalRow(Array[Any](ids(best), 1L, lambda * rels(best)))
    var round = 2
    while (round <= rounds) {
      // fold the last pick into each remaining candidate's penalty:
      // sim = dot(v_i, v_s) / (n_i * n_s)
      val sv = vecs(best)
      val sn = norms(best)
      i = 0
      while (i < m) {
        if (!taken(i)) {
          val sim = VecKernel.dot(vecs(i), isFloat, sv, isFloat) / (norms(i) * sn)
          if (sim > pen(i)) pen(i) = sim
        }
        i += 1
      }
      // argmax of lambda*rel - (1-lambda)*penalty, ties to the smaller id
      best = -1
      var bestScore = 0.0
      i = 0
      while (i < m) {
        if (!taken(i)) {
          val score = lambda * rels(i) - (1.0 - lambda) * pen(i)
          if (best < 0 || score > bestScore ||
            (score == bestScore && ids(i) < ids(best))) {
            best = i; bestScore = score
          }
        }
        i += 1
      }
      taken(best) = true
      out(round - 1) = new GenericInternalRow(Array[Any](ids(best), round.toLong, bestScore))
      round += 1
    }
    new GenericArrayData(out)
  }

  override def nullable: Boolean = child.nullable

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mmrGreedy", this, classOf[MmrGreedy].getName)
    val c = child.genCode(ctx)
    val isNull = if (c.isNull == FalseLiteral) "false" else s"${c.isNull}"
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = $isNull;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${ev.isNull}) { ${ev.value} = $ref.greedy(${c.value}); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
