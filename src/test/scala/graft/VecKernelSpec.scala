package graft

import graft.functions.expressions._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, InterpretedUnsafeProjection, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Prop.propBoolean
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Every native expression with generated code gives the same result,
  * bit for bit (`doubleToLongBits`), on Spark's interpreted path
  * (`expr.eval`) and on its generated path (an `UnsafeProjection`
  * compiled under `spark.sql.codegen.factoryMode=CODEGEN_ONLY`), on dirty
  * inputs, each both as generic and as unsafe rows. Vector expressions
  * get null arrays, null elements, NaN, ±Inf, −0.0, ragged and empty
  * arrays, FLOAT and DOUBLE elements; text expressions get null, empty,
  * whitespace-only and non-ASCII text (a lowercasing that changes the
  * length, a combining mark, a surrogate pair); id-array expressions get
  * null arrays, null elements, empty, unsorted and repeated ids; the
  * MinHash kernel gets empty shingle arrays, repeated hashes, ids at
  * Long.MinValue and Long.MaxValue and positions outside its index. Where an
  * expression throws, both paths must throw the same exception. A
  * plain-Scala fold pins [[VecKernel]]'s rule itself. */
class VecKernelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A generated vector: FLOAT or DOUBLE elements, None = null element,
    * a null `elems` = null array. */
  private case class Vec(isFloat: Boolean, elems: Seq[Option[Double]]) {
    def dt: DataType = ArrayType(if (isFloat) FloatType else DoubleType)
    def data: ArrayData = if (elems == null) null else new GenericArrayData(elems.map {
      case None => null
      case Some(d) => if (isFloat) java.lang.Float.valueOf(d.toFloat) else java.lang.Double.valueOf(d)
    }.toArray[Any])
    /** The element as the rule reads it: null → 0, FLOAT widened exactly. */
    def read(i: Int): Double = elems(i).fold(0.0)(d => if (isFloat) d.toFloat.toDouble else d)
  }

  private val special = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    -0.0, 0.0, Double.MinPositiveValue, 1e300, -1e-300, 3.4e38)
  private val genDouble: Gen[Double] =
    Gen.frequency(2 -> Gen.oneOf(special), 9 -> Gen.choose(-4.0, 4.0))
  private val genElem: Gen[Option[Double]] =
    Gen.frequency(1 -> Gen.const(None), 11 -> genDouble.map(Some(_)))
  private val genLen: Gen[Int] = Gen.frequency(1 -> Gen.const(0), 8 -> Gen.choose(1, 9))
  private def genVec(len: Gen[Int] = genLen, isFloat: Gen[Boolean] = Gen.oneOf(true, false),
      nullable: Boolean = true): Gen[Vec] = for {
    f <- isFloat
    isNull <- Gen.frequency(1 -> nullable, 9 -> false)
    n <- len
    es <- Gen.listOfN(n, genElem)
  } yield Vec(f, if (isNull) null else es)
  /** Length `dim` half the time (the strict callers' happy path). */
  private def genLenAround(dim: Int): Gen[Int] = Gen.oneOf(Gen.const(dim), Gen.choose(0, 10))
  private def genMatrix(n: Int): Gen[Array[Double]] = Gen.listOfN(n,
    Gen.frequency(1 -> Gen.oneOf(special), 9 -> Gen.choose(-1.0, 1.0))).map(_.toArray)

  /** One expression over bound inputs, and the input values. */
  private case class Case(expr: Expression, types: Seq[DataType], values: Seq[Any])
  private def caseOf(vs: Seq[(DataType, Any)])(build: Seq[Expression] => Expression): Case =
    Case(build(vs.map(_._1).zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }),
      vs.map(_._1), vs.map(_._2))
  private def caseOf1(v: Vec)(build: Expression => Expression): Case =
    caseOf(Seq(v.dt -> v.data))(c => build(c.head))

  private def canon(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (d: Double, DoubleType) => java.lang.Double.doubleToLongBits(d)
    case (u: UTF8String, StringType) => u.toString
    case (a: ArrayData, ArrayType(et, _)) =>
      (0 until a.numElements()).map(i => if (a.isNullAt(i)) null else canon(a.get(i, et), et))
    case (r: InternalRow, st: StructType) => st.fields.indices.map(i =>
      if (r.isNullAt(i)) null else canon(r.get(i, st(i).dataType), st(i).dataType))
    case (x, _) => x
  }
  private def outcome(dt: DataType)(f: => Any): Either[(Class[_], String), Any] =
    try Right(canon(f, dt)) catch { case e: Exception => Left((e.getClass, e.getMessage)) }

  private def parity(c: Case): Prop = {
    val dt = c.expr.dataType
    val proj = UnsafeProjection.create(Seq(c.expr))
    val generic = new GenericInternalRow(c.values.toArray)
    val unsafe = UnsafeProjection.create(c.types.toArray).apply(generic).copy()
    val generatedProj = (!proj.isInstanceOf[InterpretedUnsafeProjection]) :| "projection must be generated"
    Prop.all(generatedProj +: Seq(generic, unsafe).map { row =>
        val interpreted = outcome(dt)(c.expr.eval(row))
        val generated = outcome(dt) { val o = proj(row); if (o.isNullAt(0)) null else o.get(0, dt) }
        (interpreted == generated) :|
          s"${c.expr.prettyName} on ${row.getClass.getSimpleName}: interpreted $interpreted, generated $generated"
      }: _*)
  }

  private def check(name: String, p: Prop): Unit = {
    SparkSession.setActiveSession(spark)
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    // fixed seed, as in PropertySpec: new coverage is a deliberate change
    try {
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(150)
        .withInitialSeed(org.scalacheck.rng.Seed(0x7ec7e57L)), p)
      assert(res.passed, s"$name: $res")
    } finally spark.conf.unset("spark.sql.codegen.factoryMode")
  }

  private val genMmrShortlist: Gen[(DataType, Any)] = for {
    isFloat <- Gen.oneOf(true, false)
    isNull <- Gen.frequency(1 -> true, 9 -> false)
    m <- Gen.choose(0, 6)
    rows <- Gen.listOfN(m, for {
      id <- Gen.choose(0L, 5L)
      rel <- genDouble
      v <- genVec(Gen.choose(0, 5), Gen.const(isFloat), nullable = false)
      n <- Gen.frequency(1 -> Gen.oneOf(special), 9 -> Gen.choose(0.1, 3.0))
    } yield new GenericInternalRow(Array[Any](id, rel, v.data, n)))
  } yield (ArrayType(StructType(Seq(StructField("id", LongType), StructField("rel", DoubleType),
      StructField("v", ArrayType(if (isFloat) FloatType else DoubleType)),
      StructField("n", DoubleType)))),
    if (isNull) null else new GenericArrayData(rows.toArray[Any]))

  private val pqBooks: Gen[(Array[Double], Array[Int], Int)] = for {
    nSub <- Gen.choose(1, 3)
    perSub <- Gen.listOfN(nSub, Gen.choose(1, 3))
    subDim <- Gen.choose(1, 3)
    cents <- genMatrix(perSub.sum * subDim)
  } yield (cents, perSub.scanLeft(0)(_ + _).toArray, nSub * subDim)

  /** A packed corpus of distinct ids, 1–3 tables of buckets over it:
    * what the fused LSH core broadcasts (vectors may carry null elements
    * and be ragged or empty, so norms may be 0). */
  private val genIndex: Gen[LshIndex] = for {
    isFloat <- Gen.oneOf(true, false)
    n <- Gen.choose(0, 6)
    ids <- Gen.pick(n, 0L to 9L).map(_.toSeq.sorted)
    vecs <- Gen.listOfN(n, genVec(Gen.choose(0, 5), Gen.const(isFloat), nullable = false))
    tables <- Gen.choose(1, 3)
    sigs <- Gen.listOfN(tables, Gen.listOfN(n, Gen.choose(0L, 3L)))
  } yield {
    val lens = vecs.map(_.elems.size)
    val offs = lens.scanLeft(0)(_ + _).toArray
    val flat = vecs.flatMap(v => v.elems.indices.map(v.read))
    val floats = if (isFloat) flat.map(_.toFloat).toArray else null
    val doubles = if (isFloat) null else flat.toArray
    val norms = Array.tabulate(n)(i =>
      math.sqrt(VecKernel.sumSq(floats, doubles, offs(i), lens(i))))
    LshIndex(new PackedVectors(ids.toArray, offs, floats, doubles, norms),
      sigs.map(_.toArray).toArray)
  }
  /** Per-table probe-bucket lists, with null lists and null buckets. */
  private val genBuckets: Gen[Any] = Gen.choose(0, 4).flatMap(Gen.listOfN(_,
      Gen.frequency(1 -> Gen.const(null), 9 -> Gen.choose(-1L, 4L).map(Long.box))))
    .map(bs => new GenericArrayData(bs.toArray[Any]))
  private val genProbes: Gen[Any] = for {
    isNull <- Gen.frequency(1 -> true, 9 -> false)
    lists <- Gen.choose(0, 4).flatMap(Gen.listOfN(_,
      Gen.frequency(1 -> Gen.const(null), 6 -> genBuckets)))
  } yield if (isNull) null else new GenericArrayData(lists.toArray[Any])

  /** What the fused MinHash core broadcasts: distinct sorted ids that
    * reach Long.MinValue and Long.MaxValue, small-range signature slots
    * and band buckets (so slots agree and blocks hold several rows),
    * sorted shingle arrays that may be empty or repeat a hash, and a
    * block cap that drops some blocks. */
  private val genMinHashIndex: Gen[MinHashIndex] = for {
    n <- Gen.choose(0, 6)
    ids <- Gen.pick(n, Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 3L, Long.MaxValue - 1,
      Long.MaxValue)).map(_.toSeq.sorted)
    h <- Gen.choose(1, 4)
    bands <- Gen.choose(1, 3)
    sigs <- Gen.listOfN(n, Gen.listOfN(h, Gen.choose(0L, 2L)))
    buckets <- Gen.listOfN(n, Gen.listOfN(bands, Gen.choose(0L, 2L)))
    shingles <- Gen.listOfN(n, Gen.choose(0, 5).flatMap(Gen.listOfN(_, Gen.choose(-2L, 3L))))
    cap <- Gen.choose(1, 7)
  } yield MinHashIndex(ids.toArray, h, sigs.map(_.toArray).toArray, buckets.map(_.toArray).toArray,
    shingles.map(_.sorted.toArray).toArray, bands, cap)

  private val genText: Gen[Any] = Gen.frequency(1 -> Gen.const(null),
    9 -> Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.oneOf("a", "B", "z", "ab", " ", "  ",
      "\t", "\n", "\u0130", "e\u0301", "\u00df", "\ud83d\ude00", "Foo bar")))
      .map(cs => UTF8String.fromString(cs.mkString)))
  /** An id array: null, null elements, empty, or ids from a small range
    * (so two arrays overlap), half the time sorted and distinct. */
  private def genIds(t: DataType): Gen[(DataType, Any)] = for {
    isNull <- Gen.frequency(1 -> true, 9 -> false)
    n <- Gen.frequency(1 -> Gen.const(0), 6 -> Gen.choose(1, 8))
    ids <- Gen.listOfN(n, Gen.frequency(1 -> Gen.const(None),
      12 -> Gen.oneOf(Gen.choose(-3L, 6L), Gen.oneOf(Long.MinValue, Long.MaxValue)).map(Some(_))))
    sorted <- Gen.oneOf(true, false)
  } yield {
    val kept = if (sorted) ids.flatten.distinct.sorted.map(Some(_)) else ids
    val boxed = kept.map(_.map(l => if (t == IntegerType) Int.box(l.toInt) else Long.box(l)).orNull)
    (ArrayType(t), if (isNull) null else new GenericArrayData(boxed.toArray[Any]))
  }

  private val cases: Seq[(String, Gen[Case])] = Seq(
    "DotProduct" -> (for { a <- genVec(); b <- genVec() } yield
      caseOf(Seq(a.dt -> a.data, b.dt -> b.data))(c => DotProduct(c(0), c(1)))),
    "FiniteNorm" -> genVec().map(v => caseOf1(v)(FiniteNorm(_))),
    "LshSignature" -> (for {
      dim <- Gen.choose(1, 8); bits <- Gen.choose(1, 6)
      planes <- genMatrix(bits * dim); v <- genVec(genLenAround(dim))
    } yield caseOf1(v)(LshSignature(_, planes, bits))),
    "LshProbeBuckets" -> (for {
      dim <- Gen.choose(1, 8); bits <- Gen.choose(1, 6)
      probes <- Gen.choose(0, 3); probes2 <- Gen.choose(0, 3)
      planes <- genMatrix(bits * dim); v <- genVec(genLenAround(dim))
    } yield caseOf1(v)(LshProbeBuckets(_, planes, bits, probes, probes2))),
    "RandomProjection" -> (for {
      dim <- Gen.choose(1, 6); outDim <- Gen.choose(1, 4)
      planes <- genMatrix(outDim * dim); v <- genVec(genLenAround(dim))
    } yield caseOf1(v)(RandomProjection(_, planes, outDim))),
    "PqEncode" -> (for { (cents, starts, dim) <- pqBooks; v <- genVec(genLenAround(dim)) } yield
      caseOf1(v)(PqEncode(_, cents, starts))),
    "PqLut" -> (for { (cents, starts, dim) <- pqBooks; v <- genVec(genLenAround(dim)) } yield
      caseOf1(v)(PqLut(_, cents, starts))),
    "AdcSum" -> (for {
      codesNull <- Gen.frequency(1 -> true, 9 -> false)
      codes <- Gen.choose(0, 5).flatMap(Gen.listOfN(_,
        Gen.frequency(1 -> Gen.const(null), 9 -> Gen.choose(-1, 9).map(Int.box))))
      lut <- genVec(isFloat = Gen.const(false))
    } yield caseOf(Seq(ArrayType(IntegerType) ->
        (if (codesNull) null else new GenericArrayData(codes.toArray[Any])),
      lut.dt -> lut.data))(c => AdcSum(c(0), c(1)))),
    "ScoreBucketBlock" -> (for {
      index <- genIndex
      mode <- Gen.oneOf(ScoreBucketBlock.Cross, ScoreBucketBlock.SelfProbed,
        ScoreBucketBlock.SelfUnprobed, ScoreBucketBlock.TopK)
      k <- Gen.choose(1, 4)
      threshold <- Gen.oneOf(-1.0, 0.0, 0.5, Double.NaN)
      aKey <- Gen.frequency(1 -> Gen.const(null), 9 -> Gen.choose(0L, 9L).map(Long.box))
      av <- genVec(Gen.choose(0, 5))
      an <- Gen.frequency(1 -> Gen.const(null), 9 -> genDouble.map(Double.box))
      probes <- genProbes
    } yield caseOf(Seq(LongType -> aKey, av.dt -> av.data, DoubleType -> an,
        ArrayType(ArrayType(LongType)) -> probes))(c =>
      ScoreBucketBlock(c, spark.sparkContext.broadcast(index), threshold, k, mode))),
    "VerifyBandBlock" -> (for {
      index <- genMinHashIndex
      pos <- Gen.frequency(1 -> Gen.const(null),
        6 -> Gen.choose(0L, math.max(0, index.n - 1).toLong).map(Long.box),
        2 -> Gen.oneOf(-1L, index.n.toLong, Long.MinValue, Long.MaxValue).map(Long.box))
      estFloor <- Gen.oneOf(-1.0, 0.0, 0.25, 0.5, 1.0, Double.NaN)
      threshold <- Gen.oneOf(-1.0, 0.0, 0.25, 0.5, 1.0, Double.NaN)
    } yield caseOf(Seq(LongType -> pos))(c =>
      VerifyBandBlock(c.head, spark.sparkContext.broadcast(index), estFloor, threshold))),
    "MmrGreedy" -> (for {
      short <- genMmrShortlist; k <- Gen.choose(1, 4); lambda <- Gen.oneOf(0.0, 0.3, 0.7, 1.0)
    } yield caseOf(Seq(short))(c => MmrGreedy(c.head, k, lambda))),
    "MinHashSignature" -> (for {
      t <- genText; k <- Gen.choose(1, 4); h <- Gen.choose(1, 4)
    } yield caseOf(Seq(StringType -> t))(c => MinHashSignature(c.head, k, h))),
    "ShingleHashes" -> (for { t <- genText; k <- Gen.choose(1, 4) } yield
      caseOf(Seq(StringType -> t))(c => ShingleHashes(c.head, k))),
    "NgramHashes" -> (for { t <- genText; n <- Gen.choose(1, 3) } yield
      caseOf(Seq(StringType -> t))(c => NgramHashes(c.head, n))),
    "MinHashFromLongs" -> (for { ids <- genIds(LongType); h <- Gen.choose(1, 4) } yield
      caseOf(Seq(ids))(c => MinHashFromLongs(c.head, h))),
    "InterSortedGe" -> (for {
      a <- genIds(LongType); b <- genIds(LongType); t <- Gen.oneOf(0.0, 0.3, 0.5, 1.0)
    } yield caseOf(Seq(a, b))(c => InterSortedGe(c(0), c(1), t))),
    "InterSortedGeInt" -> (for {
      a <- genIds(IntegerType); b <- genIds(IntegerType); t <- Gen.oneOf(0.0, 0.3, 0.5, 1.0)
    } yield caseOf(Seq(a, b))(c => InterSortedGeInt(c(0), c(1), t))),
    "PairsOfSorted" -> genIds(LongType).map(ids => caseOf(Seq(ids))(c => PairsOfSorted(c.head))),
    "SimHash64" -> genText.map(t => caseOf(Seq(StringType -> t))(c => SimHash64(c.head))),
    "TopGramFracs" -> genText.map(t => caseOf(Seq(StringType -> t))(c => TopGramFracs(c.head))),
    "NfcNormalize" -> genText.map(t => caseOf(Seq(StringType -> t))(c => NfcNormalize(c.head))))

  for ((name, gen) <- cases)
    test(s"$name: interpreted eval ≡ generated code, bit for bit") {
      check(name, Prop.forAll(gen)(parity))
    }

  test("VecKernel rule: DotProduct and FiniteNorm ≡ a plain-Scala fold") {
    check("rule", Prop.forAll(genVec(), genVec()) { (a, b) =>
      val dot = caseOf(Seq(a.dt -> a.data, b.dt -> b.data))(c => DotProduct(c(0), c(1)))
      val norm = caseOf1(a)(FiniteNorm(_))
      val row = new GenericInternalRow(Array[Any](a.data, b.data))
      val wantDot = if (a.elems == null || b.elems == null) null else {
        var s = 0.0
        for (i <- 0 until math.min(a.elems.size, b.elems.size)) s += a.read(i) * b.read(i)
        java.lang.Double.doubleToLongBits(s)
      }
      val wantNorm = if (a.elems == null) null else {
        val ss = a.elems.indices.foldLeft(0.0)((acc, i) => acc + a.read(i) * a.read(i))
        ss > 0.0 && ss < Double.PositiveInfinity
      }
      (canon(dot.expr.eval(row), DoubleType) == wantDot) :| "dot" &&
        (norm.expr.eval(row) == wantNorm) :| "finite norm"
    })
  }
}
