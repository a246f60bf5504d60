package graft.functions.expressions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.SparkSessionExtensions

/** Native dot product over two ARRAY<FLOAT> / ARRAY<DOUBLE> columns.
  *
  * The lambda form `aggregate(zip_with(a, b, _*_), 0d, _+_)` is a
  * HigherOrderFunction — Spark evaluates it interpretively (one closure call
  * per element, boxed accumulators), and it blocks whole-stage codegen for
  * the surrounding projection. This expression generates a tight primitive
  * loop instead, keeping ANN scoring (|q|·|corpus|·dim multiplies) inside
  * codegen. Registered as SQL function `graft_dot` via [[GraftFunctions.init]]
  * or the [[GraftExtensions]] SparkSessionExtensions entry point
  * (`spark.sql.extensions=graft.functions.expressions.GraftExtensions`).
  *
  * The arithmetic is [[VecKernel]]'s rule (common prefix, ascending
  * index, double accumulator, null elements read as 0); both evaluation
  * paths call it.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires ARRAY<FLOAT>/ARRAY<DOUBLE> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  override def dataType: DataType = DoubleType

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any, b: Any): Any =
    VecKernel.dot(a.asInstanceOf[ArrayData], elemIsFloat(left),
      b.asInstanceOf[ArrayData], elemIsFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => "graft.functions.expressions.VecKernel.dot(" +
      s"$a, ${elemIsFloat(left)}, $b, ${elemIsFloat(right)})")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Boolean "this vector has a usable direction" predicate — ONE fused
  * pass over the array: sum of squares s, true iff 0 < s < +Inf. Exists
  * as a native expression (not `nnorm(v) > 0 && nnorm(v) < Inf`) because
  * a composed predicate on a norm ALIAS gets pushed below the projection
  * with the alias SUBSTITUTED — duplicating the whole norm subtree per
  * comparison. Where the vector is itself a derived expression (e.g.
  * [[graft.functions.Similarity.projectedTopK]]'s projection array) that
  * duplication blew whole-stage codegen past janino's 64 KB method limit
  * and the stage fell back to interpreted execution. One call = one copy.
  *
  * Semantics (the dirty-vector contract): NaN/±Inf elements make s
  * NaN/Inf (both fail `s < Inf` — in JAVA NaN comparisons are false),
  * the zero vector fails `s > 0`, a NULL array returns NULL (dropped by
  * any filter), and null ELEMENTS read as 0 — the [[VecKernel]] rule. */
case class FiniteNorm(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"graft_finite_norm requires an ARRAY<FLOAT>/ARRAY<DOUBLE> argument, " +
            s"got ${other.catalogString}")
    }

  override def dataType: DataType = BooleanType

  private def elemIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(a: Any): Any =
    FiniteNorm.hasDirection(VecKernel.sumSq(a.asInstanceOf[ArrayData], elemIsFloat))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => "graft.functions.expressions.FiniteNorm.hasDirection(" +
      s"graft.functions.expressions.VecKernel.sumSq($a, $elemIsFloat))")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object FiniteNorm {
  def hasDirection(sumSq: Double): Boolean = sumSq > 0.0 && sumSq < Double.PositiveInfinity
}

object GraftFunctions {
  /** The single registry both entry points ([[init]] and
    * [[GraftExtensions]]) iterate: (function name, ExpressionInfo class
    * name, builder). One list, no per-site duplication to drift. */
  private val fns: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", classOf[DotProduct].getCanonicalName,
      children => DotProduct(children(0), children(1))),
    ("graft_finite_norm", classOf[FiniteNorm].getCanonicalName,
      children => {
        require(children.size == 1, "graft_finite_norm(vector) takes 1 argument")
        FiniteNorm(children(0))
      }),
    ("graft_minhash", classOf[MinHashSignature].getCanonicalName,
      children => MinHashSignature.fromChildren(children)),
    ("graft_shingle_hashes", classOf[ShingleHashes].getCanonicalName,
      children => ShingleHashes.fromChildren(children)),
    ("graft_minhash_longs", classOf[MinHashFromLongs].getCanonicalName,
      children => MinHashFromLongs.fromChildren(children)),
    ("graft_inter_sorted", classOf[InterSortedGe].getCanonicalName,
      children => InterSortedGe.fromChildren(children)),
    ("graft_inter_sorted_int", classOf[InterSortedGeInt].getCanonicalName,
      children => InterSortedGeInt.fromChildren(children)),
    ("graft_pairs_of", classOf[PairsOfSorted].getCanonicalName,
      children => PairsOfSorted.fromChildren(children)),
    ("graft_ngram_hashes", classOf[NgramHashes].getCanonicalName,
      children => NgramHashes.fromChildren(children)),
    ("graft_nfc", classOf[NfcNormalize].getCanonicalName,
      children => NfcNormalize.fromChildren(children)),
    ("graft_simhash", classOf[SimHash64].getCanonicalName,
      children => SimHash64.fromChildren(children)),
    ("graft_project", classOf[RandomProjection].getCanonicalName,
      children => RandomProjection.fromChildren(children)),
    ("graft_lsh_sig", classOf[LshSignature].getCanonicalName,
      children => LshSignature.fromChildren(children)),
    ("graft_lsh_probes", classOf[LshProbeBuckets].getCanonicalName,
      children => LshProbeBuckets.fromChildren(children)),
    ("graft_pq_encode", classOf[PqEncode].getCanonicalName,
      children => PqEncode.fromChildren(children)),
    ("graft_pq_lut", classOf[PqLut].getCanonicalName,
      children => PqLut.fromChildren(children)),
    ("graft_adc", classOf[AdcSum].getCanonicalName,
      children => {
        require(children.size == 2, "graft_adc(codes, lut) takes 2 arguments")
        AdcSum(children(0), children(1))
      }),
    ("graft_top_gram_fracs", classOf[TopGramFracs].getCanonicalName,
      children => TopGramFracs.fromChildren(children)),
    // Spark's OWN runtime-filter predicate (the expression InjectRuntimeFilter
    // pairs with BloomFilterAggregate), surfaced as a callable function:
    // graft_bloom_contains(value BIGINT, bloom BINARY-constant). Codegen'd,
    // deserializes the sketch once per task (its lazy bloomFilter val) — the
    // scan-stage prefilter for Dedup.exactDedupAgainstBloom.
    ("graft_bloom_contains",
      "org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain",
      children => {
        require(children.size == 2, "graft_bloom_contains(value, bloom) takes 2 arguments")
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children(1), children(0))
      }))

  /** Idempotently register graft's native SQL functions on a session. */
  def init(spark: SparkSession): Unit = fns.foreach { case (name, cls, builder) =>
    val id = FunctionIdentifier(name)
    if (!spark.sessionState.functionRegistry.functionExists(id)) {
      spark.sessionState.functionRegistry.registerFunction(
        id, new ExpressionInfo(cls, name), builder)
    }
  }

  private[expressions] def all: Seq[(String, String, Seq[Expression] => Expression)] = fns
}

/** Cluster entry point: `--conf spark.sql.extensions=graft.functions.expressions.GraftExtensions`.
  * Iterates the same registry as [[GraftFunctions.init]] — the two
  * registration paths cannot diverge. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, cls, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name), new ExpressionInfo(cls, name), builder))
    }
}
