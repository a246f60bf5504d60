package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dirty-vector contract (the embedding-side twin of [[graft.functions.Dedup]]'s
  * null-text policy): a vector with no defined direction — NULL, a
  * NaN/±Infinity element, or zero norm — is never trained on, never emitted
  * as a neighbor or duplicate, and never matches as a query.
  *
  * Why this needs a standing guard and not good intentions: Spark SQL
  * orders NaN ABOVE every double and `NaN >= threshold` is TRUE. Without
  * the score-level filter, ONE zero-norm corpus vector (cosine 0/0 = NaN)
  * takes rank 1 of EVERY query's top-k, and the threshold tiers emit it as
  * a "duplicate" of its entire candidate bucket. The trainers need their
  * own guard: Spark's max() also treats NaN as largest, so one NaN element
  * made sq8Bounds' per-dimension scales NaN — every corpus CODE became NaN
  * and the whole quantized tier collapsed, clean rows included; a dirty
  * seed or Lloyd member likewise poisons a k-means/PQ centroid. At 100 TB
  * a failed encoder emitting zeros or NaNs is a certainty, not an edge
  * case — the engine must degrade by ignoring those rows, deterministically.
  *
  * NULL ELEMENTS are deliberately NOT dirty: `graft_dot` reads them as 0
  * (its documented dense-by-contract rule), so a null-padded vector behaves
  * exactly like its zero-filled twin everywhere — pinned below.
  */
class DirtyVectorSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import graft.functions.Similarity

  // 8 clean vectors (three tight pairs 1~2, 3~4, 5~6 at cosine > 0.99 and
  // two loners) + the dirty rows: 100 zero-norm, 101 NaN element,
  // 102 null vector, 104 +Infinity element.
  private lazy val df: DataFrame = spark.sql(
    """select * from values
      |  (1L,   array(cast(1.0 as float), cast(0.02 as float), cast(0.0 as float), cast(0.0 as float))),
      |  (2L,   array(cast(1.0 as float), cast(0.03 as float), cast(0.01 as float), cast(0.0 as float))),
      |  (3L,   array(cast(0.0 as float), cast(1.0 as float), cast(0.02 as float), cast(0.0 as float))),
      |  (4L,   array(cast(0.0 as float), cast(1.0 as float), cast(0.03 as float), cast(0.01 as float))),
      |  (5L,   array(cast(0.0 as float), cast(0.0 as float), cast(1.0 as float), cast(0.02 as float))),
      |  (6L,   array(cast(0.01 as float), cast(0.0 as float), cast(1.0 as float), cast(0.03 as float))),
      |  (7L,   array(cast(0.5 as float), cast(0.5 as float), cast(0.5 as float), cast(0.5 as float))),
      |  (8L,   array(cast(-1.0 as float), cast(0.2 as float), cast(0.1 as float), cast(0.0 as float))),
      |  (100L, array(cast(0.0 as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float))),
      |  (101L, array(cast('NaN' as float), cast(1.0 as float), cast(0.0 as float), cast(0.0 as float))),
      |  (102L, cast(null as array<float>)),
      |  (104L, array(cast('Infinity' as float), cast(1.0 as float), cast(0.0 as float), cast(0.0 as float)))
      |as t(vec_id, embedding)""".stripMargin).localCheckpoint(true)

  private lazy val clean = df.filter(col("vec_id") < 100L)
  private lazy val dirtyIds = Set(100L, 101L, 102L, 104L)

  /** Collect and assert the (query_id|doc_a, neighbor_id|doc_b, cosine)
    * shape is free of dirty ids and non-finite scores. */
  private def assertCleanPairs(res: DataFrame, aCol: String, bCol: String,
      expectNonEmpty: Boolean = true): Seq[(Long, Long)] = {
    val rows = res.select(col(aCol).cast("long"), col(bCol).cast("long"),
      col("cosine").cast("double")).collect()
    if (expectNonEmpty) assert(rows.nonEmpty, s"$aCol/$bCol result is empty")
    rows.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1), s"null id in $r")
      assert(!dirtyIds.contains(r.getLong(0)), s"dirty id as $aCol: $r")
      assert(!dirtyIds.contains(r.getLong(1)), s"dirty id as $bCol: $r")
      assert(!r.isNullAt(2) && !r.getDouble(2).isNaN && !r.getDouble(2).isInfinite,
        s"non-finite cosine in $r")
    }
    rows.map(r => (r.getLong(0), r.getLong(1)))
  }

  test("bruteForceTopK: dirty corpus vectors never reach any top-k; dirty queries match nothing") {
    val res = Similarity.bruteForceTopK(clean, df, k = 3)
    assertCleanPairs(res, "query_id", "neighbor_id")
    // a clean pair still ranks first for its twin
    val top1 = res.filter(col("query_id") === 1L && col("rank") === 1)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSeq
    assert(top1 == Seq(2L), s"expected 2 at rank 1 for query 1, got $top1")
    val dq = Similarity.bruteForceTopK(df.filter(col("vec_id") >= 100L), clean, k = 3)
    assert(dq.count() == 0, "a dirty query vector matched something")
  }

  test("cosineDuplicates exhaustive: dirty vectors are never duplicates, clean pairs survive") {
    val pairs = assertCleanPairs(
      Similarity.cosineDuplicates(df, threshold = 0.9, dim = 4, exhaustive = true),
      "doc_a", "doc_b")
    assert(Set((1L, 2L), (3L, 4L), (5L, 6L)).subsetOf(pairs.toSet),
      s"clean near-pairs missing from $pairs")
  }

  test("cosineDuplicates banded (auto defaults): dirty vectors are never duplicates") {
    val pairs = assertCleanPairs(
      Similarity.cosineDuplicates(df, threshold = 0.9, dim = 4),
      "doc_a", "doc_b")
    assert(Set((1L, 2L), (3L, 4L), (5L, 6L)).subsetOf(pairs.toSet),
      s"clean near-pairs missing from $pairs")
  }

  test("semanticDedup: dirty vectors are never duplicates, training tolerates them") {
    val pairs = assertCleanPairs(
      Similarity.semanticDedup(df, threshold = 0.9, nClusters = 2),
      "doc_a", "doc_b")
    assert(pairs.nonEmpty)
  }

  test("semanticDecontam: dirty rows flag nothing on either side") {
    assertCleanPairs(
      Similarity.semanticDecontam(df, df, threshold = 0.9, dim = 4),
      "doc_id", "ref_id")
  }

  test("lshTopK: dirty corpus vectors never reach the top-k") {
    assertCleanPairs(
      Similarity.lshTopK(clean, df, k = 2, dim = 4, bits = 2, tables = 2),
      "query_id", "neighbor_id")
  }

  test("ivfTopK: dirty vectors train no centroid and reach no top-k") {
    assertCleanPairs(
      Similarity.ivfTopK(clean, df, k = 2, nCentroids = 2, nProbe = 2),
      "query_id", "neighbor_id")
  }

  test("sq8TopK: a NaN element must not poison the quantizer bounds (clean rows keep exact order)") {
    val res = Similarity.sq8TopK(clean, df, k = 2)
    assertCleanPairs(res, "query_id", "neighbor_id")
    val top1 = res.filter(col("query_id") === 1L && col("rank") === 1)
      .select(col("neighbor_id")).collect().map(_.getLong(0)).toSeq
    assert(top1 == Seq(2L), s"expected 2 at rank 1 for query 1, got $top1")
  }

  test("pqTopK with rerank: dirty vectors train no codebook and reach no shortlist") {
    assertCleanPairs(
      Similarity.pqTopK(clean, df, k = 2, nSub = 2, nCodes = 4, rerank = 3),
      "query_id", "neighbor_id")
  }

  test("residual PQ trains on zero residuals: an all-duplicates corpus must not empty the train set") {
    // exact duplicates sit ON their home centroid, so every home residual
    // is the zero vector — a legitimate L2 point the codebook trainer must
    // keep (the cosine-tier zero-norm rule does NOT apply to residuals)
    val dup = spark.sql(
      """select id as vec_id,
        |  array(cast(1.0 + (id % 2) as float), cast(0.5 as float),
        |        cast(0.25 as float), cast(0.0 as float)) as embedding
        |from range(0, 64) t(id)""".stripMargin)
    val res = Similarity.ivfPqTopK(dup, dup, k = 2, nCentroids = 2,
      nProbe = 2, nSub = 2, nCodes = 4, residual = true, rerank = 2)
    assert(res.count() > 0)
    assert(res.select(col("cosine")).collect()
      .forall(r => !r.isNullAt(0) && !r.getDouble(0).isNaN))
  }

  test("pqEncode: NULL vector no longer kills the job; NaN/Inf rows are not encoded; zero rows are") {
    val books = Similarity.pqCodebooks(clean, nSub = 2, nCodes = 4,
      lloydIters = 1)
    val codes = Similarity.pqEncode(df, books)
    val ids = codes.select(col("id").cast("long")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(!ids.contains(101L) && !ids.contains(102L) && !ids.contains(104L),
      s"NaN/null/Inf rows were encoded: $ids")
    assert(ids.contains(100L), "zero vector is a legitimate L2 encode")
    assert(ids.contains(1L))
  }

  test("persisted IVF index: dirty rows are not indexed, dirty appends don't wedge, legacy dirty norms are skipped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dirty_ivf").toString
    try {
      Similarity.saveIvfIndex(df, dir, nCentroids = 2)
      // the index holds only usable rows
      val stored = spark.read.parquet(s"$dir/corpus")
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
      assert(stored.intersect(dirtyIds).isEmpty, s"dirty rows indexed: $stored")
      // an appended batch carrying dirty rows must not fail (the stream
      // replays the same batch forever on error) and must skip them
      val batch = spark.sql(
        """select * from values
          |  (50L,  array(cast(0.9 as float), cast(0.1 as float), cast(0.0 as float), cast(0.0 as float))),
          |  (200L, array(cast('NaN' as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float))),
          |  (201L, array(cast(0.0 as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float)))
          |as t(vec_id, embedding)""".stripMargin)
      Similarity.appendToIvfIndex(batch, dir, batchId = 1L,
        idCol = "vec_id", vecCol = "embedding")
      val after = spark.read.parquet(s"$dir/corpus")
        .select(col("vec_id").cast("long")).collect().map(_.getLong(0)).toSet
      assert(after.contains(50L) && !after.contains(200L) && !after.contains(201L))
      // legacy-index guard: hand-plant a dirty stored row (norm = 0, the
      // pre-contract on-disk shape) under a REAL centroid so probes see it
      val cid0 = spark.read.parquet(s"$dir/centroids")
        .agg(org.apache.spark.sql.functions.min(col("cid"))).collect().head.getLong(0)
      spark.sql(
        s"""select cast(999 as long) as vec_id,
           |  array(cast(0.0 as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float)) as embedding,
           |  cast(0.0 as double) as norm, cast($cid0 as long) as centroid_id
           |from range(1)""".stripMargin)
        .write.mode("append").partitionBy("centroid_id").parquet(s"$dir/corpus")
      val res = Similarity.ivfTopKIndexed(clean, dir, k = 3, nProbe = 2)
      assertCleanPairs(res, "query_id", "neighbor_id")
      assert(!res.select(col("neighbor_id")).collect().map(_.getLong(0)).contains(999L))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("index format version lifecycle: fresh stamp round-trips, foreign version names the error, unstamped legacy opens") {
    // round 18 (VERDICT r17 #5): format drift is detected DECLARATIVELY —
    // _format_version written at save, required at open — instead of
    // relying on per-hazard runtime guards.
    val dir = java.nio.file.Files.createTempDirectory("graft_fmt_ivf").toString
    try {
      Similarity.saveIvfIndex(df, dir, nCentroids = 2)
      assert(graft.util.MetaFiles.readLong(spark, s"$dir/_format_version").contains(2L),
        "saveIvfIndex did not stamp _format_version = 2")
      assert(Similarity.ivfTopKIndexed(clean, dir, k = 3, nProbe = 2).count() > 0)
      // a dir written by a DIFFERENT library version fails fast with the
      // version number and the rebuild instruction — on query AND append
      graft.util.MetaFiles.writeLong(spark, s"$dir/_format_version", 99L)
      val e = intercept[IllegalStateException](
        Similarity.ivfTopKIndexed(clean, dir, k = 3, nProbe = 2).count())
      assert(e.getMessage.contains("_format_version 99") &&
        e.getMessage.contains("Rebuild"), s"unhelpful error: ${e.getMessage}")
      val ea = intercept[IllegalStateException](
        Similarity.appendToIvfIndex(clean.limit(1), dir, batchId = 7L,
          idCol = "vec_id", vecCol = "embedding"))
      assert(ea.getMessage.contains("_format_version 99"))
      // a PRESENT-but-corrupt stamp fails fast too (ADVICE r18): it must
      // NOT collapse to the legacy-compatible path — absent means legacy,
      // unreadable means unknown layout
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/_format_version"),
        "not-a-long\n".getBytes)
      val ec = intercept[IllegalStateException](
        Similarity.ivfTopKIndexed(clean, dir, k = 3, nProbe = 2).count())
      assert(ec.getMessage.contains("unreadable _format_version") &&
        ec.getMessage.contains("Rebuild"), s"unhelpful corrupt-stamp error: ${ec.getMessage}")
      // an UNSTAMPED (pre-round-18) dir still opens — the legacy
      // compatibility contract this spec's previous test pins semantically
      assert(new java.io.File(s"$dir/_format_version").delete())
      assert(Similarity.ivfTopKIndexed(clean, dir, k = 3, nProbe = 2).count() > 0)
      // re-saving restores the stamp
      Similarity.saveIvfIndex(df, dir, nCentroids = 2)
      assert(graft.util.MetaFiles.readLong(spark, s"$dir/_format_version").contains(2L))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    // the PQ index family carries the same stamp and the same gate
    val pqDir = java.nio.file.Files.createTempDirectory("graft_fmt_pq").toString
    try {
      Similarity.saveIvfPqIndex(df, pqDir, nCentroids = 2, nSub = 2, nCodes = 4)
      assert(graft.util.MetaFiles.readLong(spark, s"$pqDir/_format_version").contains(2L))
      assert(Similarity.ivfPqTopKIndexed(clean, pqDir, k = 3, nProbe = 2).count() > 0)
      graft.util.MetaFiles.writeLong(spark, s"$pqDir/_format_version", 1L)
      val ep = intercept[IllegalStateException](
        Similarity.ivfPqTopKIndexed(clean, pqDir, k = 3, nProbe = 2).count())
      assert(ep.getMessage.contains("_format_version 1"))
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(pqDir))
  }

  test("null media payloads degrade per row (stub/no-decode), never NPE the task") {
    import graft.functions.Multimodal
    import graft.functions.Multimodal.MediaRow
    implicit val enc = org.apache.spark.sql.Encoders.product[MediaRow]
    val rows = spark.createDataset(Seq(
      MediaRow(1L, "hello media payload".getBytes, "fake/raw", 0, 0, 0),
      MediaRow(2L, null, "fake/raw", 0, 0, 0),
      MediaRow(3L, Array.empty[Byte], "fake/raw", 0, 0, 0)))
    val feats = Multimodal.extractFeatures(rows).collect()
    assert(feats.length == 3)
    assert(feats.find(_.media_id == 2L).exists(f => f.source == "stub" && f.n_bytes == 0))
    val audio = Multimodal.decodeAudio(rows).collect()
    assert(audio.length == 3 && audio.forall(a => a.media_id == 1L || !a.decode_ok))
    val prints = Multimodal.audioFingerprint(rows).collect()
    assert(prints.length == 3)
    assert(Multimodal.sampleFrames(rows, frameBytes = 4, stride = 1)
      .collect().forall(_.media_id != 2L))
    assert(Multimodal.perceptualHash(rows).collect().length == 3)
  }

  test("contract property: op(clean ++ dirty) == op(clean), row for row") {
    // The strongest form of the contract: dirty rows are INVISIBLE — the
    // output over the polluted corpus equals the output over its clean
    // subset exactly. Pinned on the ops whose results are per-row exact
    // or trained through order-independent aggregations (min/max bounds,
    // full-probe IVF, single-cluster dedup), so FP summation order —
    // which the extra rows CAN shift via partition boundaries — cannot
    // move any value.
    for (seed <- 1 to 2) {
      val cleanN = spark.sql(
        s"""select id as vec_id, transform(sequence(0, 7),
           |  i -> cast(sin(id * 7 + i * 13 + $seed) as float)) as embedding
           |from range(0, 120) t(id)""".stripMargin).localCheckpoint(true)
      val dirtyN = spark.sql(
        """select * from values
          |  (9000001L, array(cast(0.0 as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float))),
          |  (9000002L, array(cast('NaN' as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float))),
          |  (9000003L, cast(null as array<float>)),
          |  (9000004L, array(cast('Infinity' as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float), cast(1.0 as float)))
          |as t(vec_id, embedding)""".stripMargin)
      val polluted = cleanN.unionByName(dirtyN)
      def rowSet(res: DataFrame): Set[String] =
        res.collect().map(_.mkString("|")).toSet
      def same(name: String, f: DataFrame => DataFrame): Unit = {
        val a = rowSet(f(cleanN)); val b = rowSet(f(polluted))
        assert(a == b, s"$name seed $seed: clean-subset equality broken " +
          s"(only-clean ${(a diff b).take(3)}, only-polluted ${(b diff a).take(3)})")
        assert(a.nonEmpty, s"$name seed $seed: vacuous (empty output)")
      }
      same("bruteForceTopK", c => Similarity.bruteForceTopK(cleanN, c, k = 3))
      same("cosineDuplicates(exhaustive)",
        c => Similarity.cosineDuplicates(c, threshold = 0.8, dim = 8, exhaustive = true))
      same("lshTopK", c => Similarity.lshTopK(cleanN, c, k = 2, dim = 8, bits = 3, tables = 2))
      same("sq8TopK", c => Similarity.sq8TopK(cleanN, c, k = 2))
      same("ivfTopK(full probe)",
        c => Similarity.ivfTopK(cleanN, c, k = 2, nCentroids = 4, nProbe = 4))
      same("semanticDedup(k=1)",
        c => Similarity.semanticDedup(c, threshold = 0.8, nClusters = 1))
      same("semanticDecontam(exhaustive)",
        c => Similarity.semanticDecontam(c, c, threshold = 0.8, dim = 8, exhaustive = true))
    }
  }

  test("null elements read as 0: a null-padded vector behaves as its zero-filled twin") {
    val twin = spark.sql(
      """select * from values
        |  (11L, array(cast(1.0 as float), cast(null as float), cast(0.0 as float), cast(0.0 as float))),
        |  (12L, array(cast(1.0 as float), cast(0.0 as float), cast(0.0 as float), cast(0.0 as float)))
        |as t(vec_id, embedding)""".stripMargin)
    val res = Similarity.bruteForceTopK(twin, twin, k = 1)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 9).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(res == Set((11L, 12L, 1.0), (12L, 11L, 1.0)), s"got $res")
  }

  test("null elements read as 0 on a vectorized Parquet scan, past its first batch") {
    // The vectorized reader leaves a null element's slot holding whatever
    // an earlier batch wrote there (4,096 rows per batch): dense rows
    // first, then null-holed rows, in one file, so the holes land on
    // stale values unless the kernel zeroes them.
    import spark.implicits._
    graft.functions.expressions.GraftFunctions.init(spark)
    val dir = java.nio.file.Files.createTempDirectory("graft_null_elems").resolve("t").toString
    val rows = (0 until 10000).map(i => (i.toLong,
      if (i < 5000) Seq[java.lang.Float](1f, 2f, 3f) else Seq[java.lang.Float](null, null, 3f)))
    rows.toDF("vec_id", "embedding").coalesce(1).write.parquet(dir)
    val read = spark.read.parquet(dir)
    assert(read.queryExecution.executedPlan.toString.contains("Batched: true"),
      "the scan must be the vectorized reader")
    val bad = read.filter(col("vec_id") >= 5000)
      .select(call_function("graft_dot", col("embedding"), col("embedding")).as("d"),
        call_function("graft_project", col("embedding"),
          array(Seq(1.0, 1.0, 0.0).map(lit): _*), lit(1)).getItem(0).as("p"))
      .filter(col("d") =!= 9.0 || col("p") =!= 0.0)
    assert(bad.count() === 0L, s"null elements read as stale values: ${bad.limit(3).collect().mkString}")
  }
}
