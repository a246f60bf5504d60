package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Document deduplication for large-scale training-data pipelines.
  * Every variant is expressed with codegen'd `functions._` / lambda
  * expressions (no Scala UDFs) so the hot path stays inside whole-stage
  * codegen, and every candidate-generation step is a hash-partitioned
  * groupBy/join — the shapes that scale to 10^9 documents:
  *
  *  - exact: one shuffle on md5(text);
  *  - MinHash+LSH: shingle → H minhashes → b bands; candidates only join
  *    within equal band buckets (no all-pairs);
  *  - SimHash: 64-bit signature, banded into 4×16-bit chunks for candidate
  *    generation, verified by hamming distance;
  *  - n-gram Jaccard: exact verification (or standalone for small corpora)
  *    via gram-postings self-join;
  *  - embedding cosine: see [[Similarity]] — near-dup = cosine ≥ τ.
  */
object Dedup {

  // ---- exact ---------------------------------------------------------------

  /** Exact dedup: groups identical texts, keeps the smallest id.
    * Returns (text_hash, keeper, n_copies). One shuffle.
    *
    * Null-text policy (pipeline-wide contract): null text ⇒ never a dedup
    * candidate. Without the filter, SQL GROUP BY semantics collect every
    * null doc into one text_hash=NULL group — all null docs read as exact
    * copies of each other. */
  def exact(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .groupBy(md5(col(textCol).cast("binary")).as("text_hash"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_copies"))

  /** Rows to drop under exact dedup (doc_id of every non-keeper copy).
    * Null-text docs are neither keepers nor drops (see [[exact]]). */
  def exactDuplicates(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(md5(col(textCol).cast("binary"))).orderBy(col(idCol))
    docs.filter(col(textCol).isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") > 1)
      .select(col(idCol), col("rn"))
  }

  /** EXACT decontamination of a huge batch against a bounded reference set
    * via a broadcast Bloom sketch — "drop every crawled page whose exact
    * text already sits in the eval/benchmark suite (or a previous crawl's
    * keeper set)". Returns the flagged rows' (idCol): documents of `docs`
    * whose text appears verbatim in `reference`; `docs.join(result, idCol,
    * "left_anti")` is the decontaminated batch. Output is EXACT — the Bloom
    * filter admits false positives but never false negatives, and every
    * positive is re-verified by a real equi-join on the text itself (which
    * also closes the 64-bit xxhash64 collision window), so the result is
    * bit-identical to the naive `docs SEMI JOIN reference ON text` at any
    * fpp. The d16 gate hash-checks exactly that equivalence.
    *
    * Scale shape — and when to use which exact-decontam plan:
    *  - THIS op: |reference| bounded (benchmark suites, denylists, a prior
    *    batch's keepers — 10^4..10^8 texts), |docs| huge. One bounded
    *    aggregation builds the sketch (`stat.bloomFilter` tree-aggregates
    *    fixed-size partials — the driver holds one sketch of
    *    ceil(-n·ln fpp/ln²2) bits ≈ 1.2 MB per 10^6 items at fpp 1%, never
    *    the texts), then the 100 TB side is filtered IN THE SCAN STAGE by
    *    the codegen'd `graft_bloom_contains` predicate (Spark's own
    *    BloomFilterMightContain, plan-embedded constant, deserialized once
    *    per task) — the big corpus is never shuffled. Only the positive
    *    sliver (true dups + fpp·|docs| rows) reaches the verify join.
    *  - corpus-vs-corpus at comparable scale: the sketch no longer fits a
    *    plan constant (10^9 items ≈ 1.2 GB) — use the hash-partitioned
    *    semi-join ([[exact]] keys both sides) and let AQE size it; or raise
    *    fpp (0.5 ⇒ ~0.6 GB per 10^9) and accept a fatter verify sliver.
    * The fpp knob trades sketch size against verify-join volume; the
    * default 1% keeps the sliver within 1% of |docs| rows.
    *
    * `expectedRefItems` = 0 counts the reference once for sizing (one
    * bounded action — the standard Bloom sizing step); pass the known
    * cardinality to skip it. `verify` = false exposes the sketch-only tier
    * (fpp-bounded overcount, zero joins) for "estimate the contamination
    * rate" probes — flagged rows may then include false positives by
    * construction. */
  def exactDedupAgainstBloom(
      docs: DataFrame,
      reference: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      fpp: Double = 0.01,
      expectedRefItems: Long = 0L,
      verify: Boolean = true): DataFrame = {
    require(fpp > 0 && fpp < 1, s"exactDedupAgainstBloom: fpp in (0,1), got $fpp")
    // one reference scan total: the distinct text set is materialized
    // once and reused by the emptiness check, the sizing count, the
    // sketch aggregation, and the verify join (without the checkpoint the
    // reference lineage would be re-scanned up to four times)
    val refTexts = reference.filter(col(textCol).isNotNull)
      .select(col(textCol).as("__ref_text")).distinct().localCheckpoint(true)
    // Spark's stat.bloomFilter NPEs on an empty input (null aggregate
    // buffer) — and an empty reference flags nothing by definition. With
    // a caller-supplied cardinality the sizing count is skipped as
    // documented and the emptiness guard degrades to the O(1-partition)
    // isEmpty probe (round 13 — previously count() ran unconditionally,
    // silently voiding the parameter's documented saving).
    val nRef = if (expectedRefItems > 0) expectedRefItems else refTexts.count()
    val refEmpty = if (expectedRefItems > 0) refTexts.isEmpty else nRef == 0
    if (refEmpty) return docs.filter(lit(false)).select(col(idCol))
    val bloom = refTexts.stat.bloomFilter(xxhash64(col("__ref_text")), nRef, fpp)
    val bytes = { val bos = new java.io.ByteArrayOutputStream()
                  bloom.writeTo(bos); bos.toByteArray }
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    val positives = docs.filter(col(textCol).isNotNull)
      .filter(call_function("graft_bloom_contains", xxhash64(col(textCol)), lit(bytes)))
    if (!verify) positives.select(col(idCol))
    else positives.join(refTexts, col(textCol) === col("__ref_text"), "left_semi")
      .select(col(idCol))
  }

  // ---- shingling / signatures (shared plumbing) ---------------------------

  /** Distinct character k-shingles of lowercased text as an array column —
    * pure lambda expressions, fully codegen'd. Null text ⇒ null (matching
    * the native expressions' nullSafeEval); without the guard,
    * `greatest(length(NULL)-k, 0)` = 0 (Spark's greatest skips nulls) and
    * a null text yields ONE null shingle — a shared sentinel that every
    * downstream consumer would have to re-filter. */
  def charShingles(text: Column, k: Int): Column =
    when(text.isNotNull, array_distinct(transform(
      sequence(lit(0), greatest(length(text) - k, lit(0))),
      i => lower(text).substr(i + 1, lit(k)))))

  /** Distinct word n-grams (n consecutive lowercased tokens joined by
    * \\x01 — an unambiguous separator). Documents with fewer than n tokens
    * yield NO gram, not a truncated one — the SQL-replicable definition
    * the d3 oracle mirrors. */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = split(lower(text), "\\s+")
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws("\u0001", slice(toks, i + 1, lit(n))))))
  }

  /** MinHash signature: for seed s, min over shingles of xxhash64(shingle,s).
    * One array column of H longs.
    *
    * NOTE: as a single expression this repeats the shingle computation H
    * times if `shingles` is itself an expression (Catalyst collapses the
    * projections and re-evaluates per seed). Fine for ad-hoc use on a
    * materialized array column; the bulk path is [[minHashSignatures]]. */
  def minHashSignature(shingles: Column, numHashes: Int): Column =
    array((0 until numHashes).map(s =>
      array_min(transform(shingles, sh => xxhash64(sh, lit(s))))): _*)

  /** Bulk signatures: (id, sig ARRAY<LONG>[numHashes]). Explodes shingles to
    * (id, shingle) rows, hashes each shingle string ONCE, then derives the H
    * family members by hashing the fixed-width base (xxhash64 of an 8-byte
    * long + seed — cheaper and ANSI-safe vs a wrapping multiply), and
    * reduces with H map-side-combining `min` aggregates in ONE shuffle on
    * id. This is the 10^9-document shape: no expression blowup, partial
    * aggregation shrinks the exploded rows back to |docs| before the
    * exchange.
    *
    * Null-text policy (shared with [[minHashSignaturesNative]], parity-
    * pinned): null text ⇒ no signature ⇒ never a dedup candidate. Without
    * the explicit filter, `charShingles` on NULL yields ONE null shingle
    * (`greatest(length(NULL)-k, 0)` = 0 — Spark's greatest skips nulls), so
    * every null doc would get the same seed-hash signature and all null
    * docs would read as mutual near-duplicates. */
  def minHashSignatures(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 5,
      numHashes: Int = 64): DataFrame = {
    val sh = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        explode(charShingles(col(textCol), shingleK)).as("sh"))
      .select(col("id"), xxhash64(col("sh")).as("h0"))
    val mins = (0 until numHashes).map(s => min(xxhash64(col("h0"), lit(s))).as(s"h$s"))
    sh.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(s => col(s"h$s")): _*).as("sig"))
  }

  /** Bulk signatures via the native codegen'd
    * [[graft.functions.expressions.MinHashSignature]] expression —
    * bit-identical output to [[minHashSignatures]] (parity-pinned) with NO
    * explode and NO shuffle: the relational form exchanges
    * |docs|·|shingles| rows on id for its H-column min aggregate; this is
    * one narrow projection (the whole signature computed per row inside
    * whole-stage codegen). Used by [[minHashDuplicates]]; the relational
    * form remains as the executable specification. */
  def minHashSignaturesNative(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 5,
      numHashes: Int = 64): DataFrame = {
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    // null-text docs are dropped, matching the relational form's explicit
    // filter (null text ⇒ no signature ⇒ never a dedup candidate) — without
    // this the native form emitted (id, null) rows that poisoned the
    // streaming signature store, and the relational form's single null
    // shingle hashed all null docs into one shared LSH bucket per band
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        call_function("graft_minhash", col(textCol), lit(shingleK), lit(numHashes)).as("sig"))
  }

  // ---- MinHash + LSH -------------------------------------------------------

  /** Candidate near-duplicate pairs via banded MinHash LSH.
    *
    * numHashes = bands * rowsPerBand. Two docs land in the same bucket when
    * one band of their signatures agrees exactly; P(candidate) ≈
    * 1-(1-j^r)^b for Jaccard j. Returns (doc_a, doc_b, n_shared_bands)
    * with doc_a < doc_b.
    *
    * Scale shape: explode to (band, bandHash, id) — numHashes*|docs| rows —
    * then a groupBy-band-bucket self-pairing. Skewed mega-buckets (boiler-
    * plate text) are capped by maxBucketSize to bound the quadratic step.
    */
  def minHashCandidates(
      docs: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 1000): DataFrame =
    candidatesFromSigs(minHashSignatures(docs, textCol, idCol, shingleK, bands * rowsPerBand),
      bands, rowsPerBand, maxBucketSize)
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared_bands"))

  /** (id, band, bucket) band-bucket rows of a (id, sig) signature table. */
  private def bandBuckets(sigs: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sigs.select(col("id"), posexplode(
        array((0 until bands).map(b =>
          xxhash64(concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)), lit(b))): _*)))
      .toDF("id", "band", "bucket")

  // ---- banded signature index (streaming store acceleration) --------------
  // The stream's per-batch corpus read must be O(touched), not O(|store|):
  //  - the BANDED INDEX holds (id, band, bucket) rows partitioned by
  //    __p = pmod(bucket, P): a batch's buckets prune to ≤ |batch|·bands
  //    partition dirs via partition filters. Index rows carry NO
  //    signatures (the pre-v2 layout duplicated each sig bands× —
  //    ~8 KB/doc of side index at H=64/b=16; a v2 row is ~24 B, so the
  //    index is now ~20× slimmer than the flat store's sig column
  //    instead of 16× fatter). The banding config + P are STAMPED INTO
  //    THE DIR NAME (with a v2 layout tag): any drift — or a legacy fat
  //    index — lands the reader on a fresh dir that the coverage gate
  //    rebuilds from the flat store. The index is derived state, never
  //    the source of truth.
  //  - the FLAT STORE (id, sig) is partitioned by __sp = pmod(id, P):
  //    verdict-signature fetches and the append anti-join prune to the
  //    partitions of the ids they touch. The store's physical modulus is
  //    recorded in `<sigDir>/_layout` (readers must prune with the
  //    modulus the dirs were WRITTEN with, never their own parameter).
  //    Stores written before the partitioned layout have data files at
  //    the dir root (no __sp column): detected and read/appended in that
  //    flat layout (full-scan fallback, identical semantics) until
  //    [[compactSignatureStore]] migrates them.
  //  - COVERAGE GATE: `<sigDir>/_count` (store row count, maintained by
  //    every writer in this object) vs `<idxDir>/_coverage` (the store
  //    count at the last verified index coverage). Steady state reads
  //    two tiny files — no dir listing, no parquet footer counts (the
  //    previous gate's idx.count() read every footer under P=1024
  //    partition dirs every micro-batch). Any mismatch, or a missing
  //    file, drops to the precise (id, band)-granular repair, which
  //    re-syncs both watermarks. The value is a coverage VERSION stamp,
  //    not gospel row count: a crash between a store append and its
  //    stamp leaves both files equally stale (still consistent — the
  //    appends themselves were index-then-store ordered), and the next
  //    repair recounts exactly. Contract: raw out-of-band appends to the
  //    store dir bypass `_count` and are NOT detected — append through
  //    [[seedSignatureStore]], or delete `_count` to force a re-verify.

  private def sigStoreSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))

  private def sigIndexSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("__p", org.apache.spark.sql.types.IntegerType)))

  private def sigIndexDir(sigDir: String, bands: Int, rowsPerBand: Int, p: Int): String =
    s"${sigDir.stripSuffix("/")}_idx_v2_b${bands}x${rowsPerBand}_p$p"

  private def storeCountPath(sigDir: String) = s"${sigDir.stripSuffix("/")}/_count"
  private def storeLayoutPath(sigDir: String) = s"${sigDir.stripSuffix("/")}/_layout"
  private def coveragePath(idxDir: String) = s"${idxDir.stripSuffix("/")}/_coverage"
  private def compactingMarkerPath(sigDir: String) = s"${sigDir.stripSuffix("/")}.compacting"

  private def hadoopFs(spark: org.apache.spark.sql.SparkSession, path: org.apache.hadoop.fs.Path) =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  /** Read a single-long marker file (watermarks, layout modulus). Corrupt
    * content reads as absent — every caller's absent-path is the safe
    * re-verify path. */
  private def readLongFile(spark: org.apache.spark.sql.SparkSession, path: String): Option[Long] =
    graft.util.MetaFiles.readLong(spark, path)

  private def writeLongFile(spark: org.apache.spark.sql.SparkSession, path: String, v: Long): Unit =
    graft.util.MetaFiles.writeLong(spark, path, v)

  /** Readers/writers fail fast while a compaction owns the store — the
    * flat rewrite is materialize-then-overwrite, so a read spanning the
    * swap would see a half-written store. A marker left by a CRASHED
    * compaction keeps failing loud on purpose: verify the store, then
    * delete the marker. */
  private def failIfCompacting(spark: org.apache.spark.sql.SparkSession,
      sigDir: String, what: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(compactingMarkerPath(sigDir))
    if (hadoopFs(spark, p).exists(p))
      throw new IllegalStateException(
        s"$what: $p exists — compactSignatureStore is running against this store (or " +
          s"crashed mid-swap; verify the store, then delete the marker)")
  }

  /** The flat store as read state: `df` always carries (id, sig, __sp) —
    * a physical partition column when the store is id-partitioned, a
    * computed pmod(id, storeP) on a legacy flat layout (filter-correct;
    * prunes no I/O). `partitioned` decides the append layout. */
  private case class SigStore(df: DataFrame, partitioned: Boolean, storeP: Int)

  private def readSigStore(spark: org.apache.spark.sql.SparkSession,
      sigDir: String, defaultP: Int): SigStore = {
    val raw = graft.util.ParquetIO.readOrEmpty(spark, sigDir, sigStoreSchema)
    if (raw.columns.contains("__sp")) {
      val p = readLongFile(spark, storeLayoutPath(sigDir)).map(_.toInt).getOrElse {
        throw new IllegalStateException(
          s"signature store $sigDir is id-partitioned but _layout is missing — pruned " +
            s"reads need the modulus the dirs were written with. Restore _layout (a " +
            s"single integer) or run compactSignatureStore to rewrite the layout.")
      }
      SigStore(raw, partitioned = true, storeP = p)
    } else if (raw.isEmpty) // fresh store: created id-partitioned on first append
      SigStore(raw.withColumn("__sp", pmod(col("id"), lit(defaultP)).cast("int")),
        partitioned = true, storeP = defaultP)
    else // legacy flat layout: computed __sp, appended flat until compacted
      SigStore(raw.withColumn("__sp", pmod(col("id"), lit(defaultP)).cast("int")),
        partitioned = false, storeP = defaultP)
  }

  /** Prune the store read to the id-partitions of `ids` (≤ min(|ids|,
    * storeP) dirs — the driver-side isin list is BOUNDED BY storeP, the
    * param-guard class, never O(data)), then cut to exactly `ids`. On a
    * legacy flat store the same filters apply semantically over a full
    * scan. */
  private def storeRowsForIds(st: SigStore, ids: DataFrame): DataFrame = {
    val sps = ids.select(pmod(col("id"), lit(st.storeP)).cast("int").as("__sp"))
      .distinct().collect().map(_.getInt(0)).toSeq
    (if (sps.isEmpty) st.df.filter(lit(false)) else st.df.filter(col("__sp").isin(sps: _*)))
      .join(ids.select("id"), Seq("id"), "left_semi")
  }

  /** Append (id, sig) rows to the flat store in its own layout. The caller
    * has already anti-joined down to genuinely-new ids and is responsible
    * for the watermark stamps. Returns the appended row count. */
  private def appendSigStore(st: SigStore, rows: DataFrame, sigDir: String): Long = {
    val spark = rows.sparkSession
    val n = rows.count()
    if (n > 0) {
      if (st.partitioned) {
        // _layout BEFORE the first partitioned data: a crash in between
        // replays as fresh-store (no data ⇒ no __sp column ⇒ this branch
        // rewrites _layout with the same modulus)
        writeLongFile(spark, storeLayoutPath(sigDir), st.storeP.toLong)
        rows.select(col("id"), col("sig"))
          .withColumn("__sp", pmod(col("id"), lit(st.storeP)).cast("int"))
          .repartition(col("__sp")) // one file per touched partition, not per task×key
          .write.mode("append").partitionBy("__sp").parquet(sigDir)
      } else rows.select("id", "sig").write.mode("append").parquet(sigDir)
    }
    n
  }

  /** Append band rows for `sigs` to the index, skipping ids already
    * indexed — the caller passes `existingIds` from reads it already paid
    * for. Id-level skipping is the RE-INGEST guard (an id live in the
    * store keeps its existing banding — see [[minHashDedupStream]]);
    * `existingBands`, when given, additionally skips at (id, band)
    * granularity — the CRASH-REPLAY guard, which must complete a
    * half-committed append (same granularity as the
    * [[ensureSigIndexCoverage]] repair) instead of seeing the id as
    * present and leaving its missing bands candidate-blind forever. */
  private def appendSigIndex(sigs: DataFrame, existingIds: DataFrame,
      idxDir: String, bands: Int, rowsPerBand: Int, p: Int,
      existingBands: Option[DataFrame] = None): Unit = {
    val base = bandBuckets(sigs, bands, rowsPerBand)
      .join(existingIds.select("id"), Seq("id"), "left_anti")
    val rows = existingBands.fold(base)(eb =>
        base.join(eb.select("id", "band"), Seq("id", "band"), "left_anti"))
      .withColumn("__p", pmod(col("bucket"), lit(p)).cast("int"))
    if (!rows.isEmpty)
      rows.repartition(col("__p")).write.mode("append").partitionBy("__p").parquet(idxDir)
  }

  /** The coverage gate: make sure the banded index covers the flat store,
    * and return the store row count the watermarks now reflect (the base
    * the caller's own append stamps build on). Steady state is two
    * tiny-file reads and NOTHING else — no store/index listing, no footer
    * reads. On mismatch (fresh store, fresh config dir, out-of-band seed,
    * crash between append and stamp) the repair is (id, band)-granular:
    * it appends exactly the band rows missing from the index, so an id
    * whose index append was half-committed by a crash is completed rather
    * than skipped forever (an id-level anti-join would see it as present
    * and leave its missing band buckets silently candidate-blind). */
  private[graft] def ensureSigIndexCoverage(spark: org.apache.spark.sql.SparkSession,
      sigDir: String, idxDir: String, bands: Int, rowsPerBand: Int, p: Int,
      defaultStoreP: Int): Long = {
    val cnt = readLongFile(spark, storeCountPath(sigDir))
    val cov = readLongFile(spark, coveragePath(idxDir))
    if (cnt.isDefined && cnt == cov) return cnt.get // steady state: zero listings
    val st = readSigStore(spark, sigDir, defaultStoreP)
    val idx = graft.util.ParquetIO.readOrEmpty(spark, idxDir, sigIndexSchema)
    val live = st.df.filter(col("sig").isNotNull).dropDuplicates("id")
    val missing = bandBuckets(live, bands, rowsPerBand)
      .join(idx.select("id", "band"), Seq("id", "band"), "left_anti")
      .withColumn("__p", pmod(col("bucket"), lit(p)).cast("int"))
    if (!missing.isEmpty)
      missing.repartition(col("__p")).write.mode("append").partitionBy("__p").parquet(idxDir)
    val n = st.df.count()
    writeLongFile(spark, coveragePath(idxDir), n)
    writeLongFile(spark, storeCountPath(sigDir), n)
    n
  }

  /** Banded-LSH pair generation from a (id, sig) signature table: one
    * (doc_a, doc_b) row per shared band bucket (callers dedupe). */
  private[graft] def candidatesFromSigs(sigs: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int): DataFrame = {
    graft.functions.expressions.GraftFunctions.init(sigs.sparkSession)
    val banded = bandBuckets(sigs, bands, rowsPerBand)
    val bucketed = banded.groupBy("band", "bucket")
      .agg(collect_list(col("id")).as("ids"))
      .filter(size(col("ids")) between (2, maxBucketSize))
    // pair generation inside each bucket (ids sorted → a < b)
    bucketed.select(explode(pairsOf(sort_array(col("ids")))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"))
  }

  /** All ordered pairs (a<b) of a sorted array — the fused
    * [[graft.functions.expressions.PairsOfSorted]] expression (round 20):
    * the lambda chain (`flatten(transform(ids, (a, i) =>
    * transform(slice(ids, i + 2, n), …)))`) re-evaluated interpreted
    * HigherOrderFunctions per element and copied an O(s) slice per OUTER
    * element; emission order and values are bit-identical (parity-pinned
    * in PipelineSpec). */
  private def pairsOf(sorted: Column): Column =
    call_function("graft_pairs_of", sorted)

  /** MinHash LSH candidates verified by exact shingle Jaccard ≥ threshold.
    *
    * Three stages, each shrinking the pair set before the next pays per-pair
    * cost — the shape that keeps this linear-ish at 10^9 docs:
    *  1. banded LSH candidates (pairs sharing ≥1 band);
    *  2. signature-estimate prefilter: est-Jaccard = fraction of agreeing
    *     minhashes (64 long compares/pair), keep est ≥ threshold − margin.
    *     At H=64 the estimate's σ is ≈ sqrt(t(1−t)/64) ≤ 0.063, so the
    *     default margin 0.15 is ≈ 2.4σ — recall loss ≪ the LSH banding's own;
    *  3. exact verify: shingle-array intersection only on survivors.
    * Signatures are computed once (cached) and reused by stages 1–2. */
  /* Cache lifecycle: the signature relation is materialized EAGERLY via
   * localCheckpoint(true) (stages 1-2 both read it; recomputing the
   * shingle→minhash pass twice is the largest cost in the call). Unlike
   * .cache() — whose CacheManager registration pins the blocks until
   * session end, accumulating one leaked relation per shard on a session
   * calling this API in a loop — checkpoint blocks are released by the
   * ContextCleaner as soon as the returned plan is dereferenced: no
   * unpersist handle needed, no permanent residue. Tradeoff, stated
   * plainly: the signature pass runs at CALL time (the API is eager in
   * its first stage), and a lost executor loses its blocks (no lineage
   * to recompute — rerun the call), vs .cache()'s lazy-but-leaky
   * MEMORY_AND_DISK recompute. For a bounded dedup job the deterministic
   * lifecycle wins; the streaming sibling already uses the same idiom. */
  def minHashDuplicates(
      docs: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      estimateMargin: Double = 0.15,
      maxBucketSize: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sigs = minHashSignaturesNative(docs, textCol, idCol, shingleK, numHashes)
      .localCheckpoint(true)
    val cands = candidatesFromSigs(sigs, bands, rowsPerBand, maxBucketSize).distinct()
    val estimated = cands
      .join(sigs.select(col("id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sigs.select(col("id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est", aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _) / lit(numHashes))
      .filter(col("est") >= threshold - estimateMargin)
      .select(col("doc_a"), col("doc_b"))
    // exact verify on HASHED shingles: same Jaccard (collision odds ~n²/2^64),
    // and long-array intersection is several× cheaper than string arrays.
    // Native one-pass expression (parity-pinned vs the lambda form) — the
    // interpreted transform/array_distinct chain was the next-largest d1
    // cost after signatures.
    val sh = docs.select(col(idCol).as("id"),
      call_function("graft_shingle_hashes", col(textCol), lit(shingleK)).as("sh"))
    estimated
      .join(sh.select(col("id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** CROSS-CORPUS near-duplicate detection: flag documents of `docs` that
    * are near-duplicates (shingle Jaccard ≥ threshold) of any document in
    * `reference` — the batch "dedup the new crawl against the training
    * set" shape (the continuous sibling is [[minHashDedupStream]]; this
    * form is the compaction/audit job with EXACT verification). Returns
    * (doc_id, ref_id, jaccard) — one row per (new doc, reference doc)
    * near-dup pair; `docs.join(result, "doc_id", "left_anti")` is the
    * decontaminated batch. Ids are corpus-local: no self-pair filtering is
    * applied (a numeric id appearing on both sides names two different
    * documents).
    *
    * Scale shape, stage by stage (the same three-tier funnel as
    * [[minHashDuplicates]], specialized to the asymmetric join):
    *  1. signatures: one narrow codegen'd pass per side, no shuffle.
    *     This IS an O(|reference|) scan per call — unavoidable when the
    *     reference arrives as text; callers running many batches against
    *     one reference should pay it once via [[seedSignatureStore]] +
    *     [[minHashDedupStream]] (the streaming sibling reads stored
    *     signatures instead of re-hashing text);
    *  2. candidates: banded-LSH bucket join NEW × REFERENCE only — never
    *     new×new or ref×ref, so a small batch against a 10^9-doc reference
    *     pays O(|batch|·bands) bucket rows plus the reference members of
    *     TOUCHED buckets (the reference side is semi-joined to the batch's
    *     buckets BEFORE the pair join, and hot buckets — boilerplate
    *     families — are capped at maxBucketSize on COMBINED new+reference
    *     membership, bounding the per-bucket pair product on both factors);
    *  3. estimate prefilter (64 long compares/pair), then exact verify on
    *     hashed shingles only for survivors.
    */
  def dedupAgainst(
      docs: DataFrame,
      reference: DataFrame,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      estimateMargin: Double = 0.15,
      maxBucketSize: Int = 1000): DataFrame = {
    val numHashes = bands * rowsPerBand
    // each side's signatures feed BOTH the bucket stage and the estimate
    // stage: materialized eagerly, blocks released when the returned plan
    // is dereferenced (same lifecycle rationale as minHashDuplicates).
    // widened scans (round 20, measured): the signature pass is per-row
    // heavy (64 hashes × |shingles|) but NARROW, so its parallelism was
    // the input's file-split count — 10 tasks on 32 cores at sf1 (the
    // e16/t6 class). factor = 1: map-only, no sort state to bound.
    val newSigs = minHashSignaturesNative(
        graft.util.Widen.widened(docs, factor = 1), textCol, idCol, shingleK, numHashes)
      .localCheckpoint(true)
    val refSigs = minHashSignaturesNative(
        graft.util.Widen.widened(reference, factor = 1), textCol, idCol, shingleK, numHashes)
      .localCheckpoint(true)
    val newB = bandBuckets(newSigs, bands, rowsPerBand)
    // reference side: only the buckets this batch touches
    val refTouched = bandBuckets(refSigs, bands, rowsPerBand)
      .withColumnRenamed("id", "ref_id")
      .join(newB.select("band", "bucket").distinct(), Seq("band", "bucket"), "left_semi")
    // skew cap on COMBINED bucket membership (new + reference), matching
    // the batch/streaming paths: capping one side alone leaves the pair
    // product |new_b|·|ref_b| unbounded in the other factor when the hot
    // boilerplate family sits in the incoming batch rather than the store
    val smallBuckets = newB.select("band", "bucket")
      .unionByName(refTouched.select("band", "bucket"))
      .groupBy("band", "bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucketSize).select("band", "bucket")
    val cands = newB.join(smallBuckets, Seq("band", "bucket"), "left_semi")
      .join(refTouched, Seq("band", "bucket"))
      .select(col("id").as("doc_id"), col("ref_id")).distinct()
    // materialized: the surviving pair set is read three times below (itself
    // plus the two text-side semi-joins) — and it is small by construction
    val estimated = cands
      .join(newSigs.select(col("id").as("doc_id"), col("sig").as("sig_a")), "doc_id")
      .join(refSigs.select(col("id").as("ref_id"), col("sig").as("sig_b")), "ref_id")
      .withColumn("est", aggregate(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _) / lit(numHashes))
      .filter(col("est") >= threshold - estimateMargin)
      .select(col("doc_id"), col("ref_id"))
      .localCheckpoint(true)
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    // exact verify hashes ONLY the estimate survivors' texts: without the
    // semi-joins the verify stage would shingle-hash the ENTIRE reference
    // corpus a second time for a pair set that touches a sliver of it
    val shNew = docs
      .join(estimated.select(col("doc_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("doc_id"),
        call_function("graft_shingle_hashes", col(textCol), lit(shingleK)).as("sh_a"))
    val shRef = reference
      .join(estimated.select(col("ref_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
      .select(col(idCol).as("ref_id"),
        call_function("graft_shingle_hashes", col(textCol), lit(shingleK)).as("sh_b"))
    estimated
      .join(shNew, "doc_id").join(shRef, "ref_id")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_id"), col("ref_id"), col("jaccard"))
  }

  // ---- duplicate clusters --------------------------------------------------

  /** Group near-dup PAIRS into duplicate CLUSTERS — the step that makes
    * pair output actionable: near-duplication is transitive in practice
    * (a~b, b~c → {a,b,c} is one boilerplate family), and a dedup pipeline
    * keeps ONE representative per cluster, not per pair. Returns
    * (doc_id, cluster_id, keep) for every document appearing in a pair,
    * where cluster_id = min doc id of the connected component and
    * keep = (doc_id == cluster_id) — the min-id keeper rule, matching
    * [[exact]]'s min-id convention.
    *
    * Distribution: connected components over the pair graph (GraphX Pregel
    * via [[graft.analytics.GraphAnalytics.connectedComponents]]) — near-dup
    * components are overwhelmingly small (boilerplate families), so
    * convergence is a handful of supersteps regardless of corpus size.
    */
  def duplicateClusters(pairs: DataFrame,
      aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    val spark = pairs.sparkSession
    val maxId = 1L << 62
    val ranges = Seq(graft.model.RangeDef(0L, maxId, 0, Seq(1)))
    val g = graft.sources.Loaders.fromEdgeDF(
      pairs.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
      label = 1, mirror = true, ranges)
    graft.analytics.GraphAnalytics.connectedComponents(g)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("keep"))
  }

  /** Leakage-safe train/test split: every near-duplicate FAMILY lands
    * wholly on one side, so a held-out document can never have a
    * near-copy in the training side — the contamination mode a per-
    * document hash split cannot prevent (two near-copies hash
    * independently and straddle the boundary).
    *
    * `pairs` is any near-dup pair set ((aCol, bCol) ids) — the
    * [[minHashDuplicates]] / [[ngramJaccardPairs]] / [[Similarity]]
    * tiers all qualify. Families are their connected components
    * ([[duplicateClusters]]); a doc in no pair is its own singleton
    * family. The side is [[TextAnalysis.sampleByHash]] on the FAMILY id
    * (md5-hex threshold — any engine replicates the exact split), so
    * assignment is reproducible and stable under corpus growth that
    * does not change a family's minimum id.
    *
    * Returns (idCol, cluster_id, split ∈ {test, train}) for every doc.
    *
    * Scale shape: the family relation is bounded by |pairs| ≪ corpus
    * (only docs appearing in some pair); it joins back on the id key —
    * one id-keyed shuffle on top of the CC cost the clustering tier
    * already pays; the hash split itself is a narrow projection. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, testFrac: Double,
      idCol: String = "doc_id", aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    require(testFrac >= 0.0 && testFrac <= 1.0, s"testFrac $testFrac not in [0,1]")
    val fams = duplicateClusters(pairs, aCol, bCol)
      .select(col("doc_id").as(idCol), col("cluster_id"))
    docs.select(col(idCol)).join(fams, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
      .withColumn("split",
        when(TextAnalysis.sampleByHash(col("cluster_id"), testFrac), lit("test"))
          .otherwise(lit("train")))
  }

  /** Seed a [[minHashDedupStream]] signature store with a REFERENCE corpus
    * so the stream deduplicates arrivals against a fixed training set from
    * its very first batch (without seeding, the store only accumulates
    * what the stream itself has seen). One narrow signature pass, written
    * with the store's exact schema; a bands×rowsPerBand mismatch against
    * an existing store fails fast HERE (sampled, like the stream's own
    * guard — a fully-mixed store cannot be cheaply full-scanned).
    * IDEMPOTENT: ids already present in the store are not re-appended
    * (the stream's own anti-join guard), so a retried seeding job cannot
    * duplicate signatures — duplicated store ids would multiply every
    * downstream pair row through the verdict joins. Batch sibling:
    * [[dedupAgainst]]. */
  def seedSignatureStore(
      reference: DataFrame,
      sigDir: String,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      storePartitions: Int = 1024): Unit = {
    val spark = reference.sparkSession
    failIfCompacting(spark, sigDir, "seedSignatureStore")
    val numHashes = bands * rowsPerBand
    val sigs = minHashSignaturesNative(reference, textCol, idCol, shingleK, numHashes)
    val st = readSigStore(spark, sigDir, storePartitions)
    // fail fast on a bands×rowsPerBand mismatch with the existing store —
    // the seed side of the stream's own guard: appending shorter/longer
    // sigs makes zip_with null-pad and est-jaccard silently collapse
    st.df.filter(col("sig").isNotNull).head(1).foreach { r =>
      val len = r.getSeq[Long](1).size
      require(len == numHashes,
        s"seedSignatureStore: store at $sigDir has $len hashes/doc but " +
          s"bands*rowsPerBand = $numHashes — seed with the store's parameters")
    }
    // tombstone-aware idempotency, mirroring the stream's append path: a
    // legacy (id, null) row must not block seeding that id's real signature
    val toAppend = sigs.join(
      st.df.filter(col("sig").isNotNull).select("id"), Seq("id"), "left_anti")
      .localCheckpoint(true)
    if (!toAppend.isEmpty) {
      // index rows FIRST, flat sigs LAST (the commit marker, matching the
      // stream): a crash between the two replays to an anti-join no-op on
      // the index and a clean sig append. A seed run with a different
      // bands/rowsPerBand/storePartitions than a live stream lands in a
      // differently-stamped dir; the stream's coverage gate then repairs
      // its own index from the flat store (the seed bumps `_count`, so a
      // cross-config append is DETECTED by every other config's gate).
      val idxDir = sigIndexDir(sigDir, bands, rowsPerBand, storePartitions)
      // establish verified coverage of the PRE-SEED store first (one-time
      // precise scan on a store this config never indexed; two tiny file
      // reads thereafter) so the post-append stamps below are truthful
      val base = ensureSigIndexCoverage(spark, sigDir, idxDir,
        bands, rowsPerBand, storePartitions, storePartitions)
      val idx = graft.util.ParquetIO.readOrEmpty(spark, idxDir, sigIndexSchema)
      appendSigIndex(toAppend, idx.select("id").distinct(), idxDir,
        bands, rowsPerBand, storePartitions)
      val k = appendSigStore(st, toAppend, sigDir)
      writeLongFile(spark, storeCountPath(sigDir), base + k)
      writeLongFile(spark, coveragePath(idxDir), base + k)
    }
  }

  /** Compact a [[minHashDedupStream]] signature store: drop legacy
    * null-sig tombstones and duplicate-id rows (same-id signatures are
    * identical by the append guards, so keep-any is keep-first), rewrite
    * the flat store in the id-partitioned layout (this is also the
    * MIGRATION path for a legacy flat store, and the only way to change
    * the store's partition modulus), rebuild the banded index for the
    * given config from scratch, and re-stamp the watermarks — restoring
    * the two-tiny-file steady-state coverage gate for a store whose
    * tombstones/heal-duplicates predate it.
    *
    * Concurrency: takes an exclusive `<sigDir>.compacting` marker for the
    * duration; a running stream batch or seed fails fast on it (and a
    * second compaction cannot start). The marker is deleted ONLY on
    * success — a compaction that crashed mid-swap leaves readers failing
    * loud instead of reading a half-swapped store; verify the store, then
    * delete the marker by hand. A stream batch already IN FLIGHT when the
    * marker appears can still span the swap — stop the stream first; the
    * marker converts the silent half-swap read into a loud failure for
    * every batch that STARTS during compaction.
    *
    * Fails fast when bands×rowsPerBand disagrees with the stored sig
    * length: rebuilding the index from mis-sliced signatures (slice past
    * the sig end hashes empty bands) would stamp a wrong-config dir that
    * silently misses candidates. */
  def compactSignatureStore(
      spark: org.apache.spark.sql.SparkSession,
      sigDir: String,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      storePartitions: Int = 1024): Unit = {
    // pre-swap validation BEFORE the marker: a mere wrong-parameter call
    // must fail clean, not leave the store bricked behind a stale marker
    failIfCompacting(spark, sigDir, "compactSignatureStore")
    val store = graft.util.ParquetIO.readOrEmpty(spark, sigDir, sigStoreSchema)
    store.filter(col("sig").isNotNull).head(1).foreach { r =>
      val len = r.getSeq[Long](1).size
      require(len == bands * rowsPerBand,
        s"compactSignatureStore: store at $sigDir has $len hashes/doc but " +
          s"bands*rowsPerBand = ${bands * rowsPerBand} — compact with the store's parameters")
    }
    val marker = new org.apache.hadoop.fs.Path(compactingMarkerPath(sigDir))
    val fs = hadoopFs(spark, marker)
    val out =
      try fs.create(marker, /*overwrite=*/ false)
      catch {
        case e: java.io.IOException =>
          throw new IllegalStateException(
            s"compactSignatureStore: $marker already exists — another compaction is " +
              s"running (or crashed mid-swap; verify the store, then delete the marker)", e)
      }
    out.writeBytes(s"pid=${ProcessHandle.current().pid()} epochMs=${System.currentTimeMillis()}\n")
    out.close()
    // materialize BEFORE overwriting: localCheckpoint severs lineage to
    // the source files, so the overwrite cannot read-through-itself
    val live = store.filter(col("sig").isNotNull).dropDuplicates("id")
      .select("id", "sig").localCheckpoint(true)
    val n = live.count()
    live.withColumn("__sp", pmod(col("id"), lit(storePartitions)).cast("int"))
      .repartition(col("__sp"))
      .write.mode("overwrite").partitionBy("__sp").parquet(sigDir)
    writeLongFile(spark, storeLayoutPath(sigDir), storePartitions.toLong)
    val idxDir = sigIndexDir(sigDir, bands, rowsPerBand, storePartitions)
    val hPath = new org.apache.hadoop.fs.Path(idxDir)
    if (fs.exists(hPath)) fs.delete(hPath, true)
    appendSigIndex(live, live.select("id").limit(0), idxDir,
      bands, rowsPerBand, storePartitions)
    writeLongFile(spark, storeCountPath(sigDir), n)
    writeLongFile(spark, coveragePath(idxDir), n)
    fs.delete(marker, false) // success ONLY — see scaladoc
  }

  /** CROSS-DOCUMENT line deduplication (CCNet-style, Wenzek et al. 2020
    * §4.2): drop every line whose normalized form (lowercased, trimmed)
    * appears in at least `minDocs` DISTINCT documents — boilerplate
    * headers/footers/nav text repeat across a site's pages while real
    * content doesn't. Returns (id, text_clean, n_lines_kept,
    * n_lines_removed); a document made entirely of boilerplate keeps an
    * empty text. Within-doc repeats of a non-boilerplate line are KEPT
    * (the distinct-doc count, not instance count, decides — a poem's
    * refrain is not site boilerplate). BLANK lines (empty or whitespace-
    * only after normalization) are NEVER boilerplate: they trivially
    * co-occur across every multi-paragraph document, and sweeping them
    * would erase the corpus's paragraph structure (`\n\n` boundaries)
    * the moment minDocs documents contain any blank line. Null text
    * passes through as null. `sep` picks the dedup unit — "\n" for lines
    * (default), "\n\n" for paragraphs (the CCNet unit); it is a LITERAL
    * separator (regex-quoted), rejoined verbatim on rebuild.
    *
    * Scale shape: boilerplate detection aggregates distinct doc counts
    * per line HASH (xxhash64 — 8-byte shuffle keys, the d3 postings
    * trick) with map-side partial agg, so that exchange carries
    * |distinct lines|; the drop set joins back by hash (one O(lines)
    * exchange) and the text rebuilds in one groupBy(id) sort_array pass.
    * Honest scan accounting: the `lines` relation feeds the detection agg
    * AND the anti-join, and the per-doc totals read the corpus again —
    * three scans of the text column per call (scan-, not shuffle-bound);
    * at 100 TB persist the source once or cache the exploded `lines` if
    * the triple scan dominates. */
  def dedupLines(docs: DataFrame, minDocs: Int = 2,
      textCol: String = "text", idCol: String = "doc_id",
      sep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val lines = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .as(Seq("line_idx", "line")))
      .withColumn("lh", xxhash64(lower(trim(col("line")))))
    val boilerplate = lines
      .filter(length(trim(col("line"))) > 0) // blank lines are structure, not boilerplate
      .groupBy(col("lh"))
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs).select("lh")
    val kept = lines.join(boilerplate, Seq("lh"), "left_anti")
    val rebuilt = kept.groupBy(col("id")).agg(
      count(lit(1)).as("n_lines_kept"),
      concat_ws(sep, transform(
        array_sort(collect_list(struct(col("line_idx"), col("line")))),
        s => s.getField("line"))).as("text_clean"))
    val totals = docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        size(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .cast("long").as("n_total"))
    docs.select(col(idCol).as("id"), col(textCol))
      .join(totals, Seq("id"), "left")
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col(textCol).isNull, lit(null).cast("string"))
          .otherwise(coalesce(col("text_clean"), lit(""))).as("text_clean"),
        when(col(textCol).isNull, lit(null).cast("long"))
          .otherwise(coalesce(col("n_lines_kept"), lit(0L))).as("n_lines_kept"),
        when(col(textCol).isNull, lit(null).cast("long"))
          .otherwise(col("n_total") - coalesce(col("n_lines_kept"), lit(0L)))
          .as("n_lines_removed"))
  }

  /** Apply a dedup decision to the corpus: drop every document a
    * [[duplicateClusters]] run marked as a non-keeper (keep = false);
    * documents in no cluster pass through untouched. The final step of
    * the pairs → families → keepers pipeline, kept as one anti-join so
    * the corpus is filtered in a single broadcastable pass (the cluster
    * table is |dup docs| rows — small against the corpus by construction). */
  def keepRepresentatives(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    docs.join(
      clusters.filter(!col("keep")).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")

  // ---- streaming near-dup --------------------------------------------------

  /** STREAMING near-duplicate detection: each micro-batch of documents is
    * checked against the ACCUMULATED corpus — the "dedup the new crawl
    * against everything ingested so far" shape a training-data pipeline
    * runs continuously, where re-running batch [[minHashDuplicates]] over
    * the whole corpus per arrival would be O(corpus) per batch.
    *
    * State = an append-only parquet signature store (id, sig), partitioned
    * by pmod(id, storePartitions), plus a derived (id, band, bucket) index
    * partitioned by pmod(bucket, storePartitions). Per batch:
    *  1. signatures for the batch's docs (one pass, as in the batch path);
    *  2. banded-LSH bucket join of the NEW signatures against old ∪ new,
    *     with the corpus side partition-pruned to the buckets the batch
    *     touches BEFORE any aggregation — per-batch I/O and shuffle cost
    *     are O(touched-bucket membership) + O(pair-participant ids),
    *     never O(corpus²) and not even O(corpus) (every store/index read
    *     is partition-pruned);
    *     corpus-side hot buckets (boilerplate) are dropped above
    *     `maxBucketSize`, the same skew bound as the batch path;
    *  3. signature-estimate verdict: est-Jaccard ≥ threshold. The
    *     streaming tier stops at the estimate (σ ≈ 0.063 at H=64) because
    *     exact shingle verify would need the full text corpus in state;
    *     run the batch path as a compaction/audit job where exactness
    *     matters — same two-tier contract as ANN (e1 vs e2/e4);
    *  4. append ONLY genuinely-new ids to the store (anti-join — a
    *     replayed batch appends nothing), and land the batch's pairs in a
    *     `__batch=<id>` partition with dynamic overwrite (replay REPLACES
    *     its partition; the pair computation excludes the batch's own ids
    *     from the corpus side, so replayed output is identical).
    *
    * Emits (doc_a, doc_b, est_jaccard, __batch) under `pairsDir`, a<b.
    * NOTE: until the first batch with ≥1 verdict lands, `pairsDir` may
    * exist with no committed data files — read it tolerantly
    * ([[graft.util.ParquetIO.readOrEmpty]]) from concurrent jobs.
    */
  def minHashDedupStream(
      docs: DataFrame,
      sigDir: String,
      pairsDir: String,
      checkpointDir: String,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      shingleK: Int = 5,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      maxBucketSize: Int = 1000,
      storePartitions: Int = 1024): org.apache.spark.sql.streaming.StreamingQuery = {
    val numHashes = bands * rowsPerBand
    val idxDir = sigIndexDir(sigDir, bands, rowsPerBand, storePartitions)
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        failIfCompacting(spark, sigDir, "minHashDedupStream")
        val newSigs = minHashSignaturesNative(batch.toDF(), textCol, idCol, shingleK, numHashes)
          .localCheckpoint(true)
        val st = readSigStore(spark, sigDir, storePartitions)
        // fail fast on a bands/rowsPerBand mismatch with the existing
        // store: zip_with over unequal sig lengths null-pads (est-jaccard
        // silently collapses) and slice() past the end hashes empty bands
        // — a silent recall collapse, not an approximation
        // null-safe: a store written before null-text filtering may carry
        // (id, null) rows — they must not NPE the guard (and the bucket and
        // estimate stages ignore them: null sigs band to no shared bucket
        // once the batch side is null-free)
        st.df.filter(col("sig").isNotNull).head(1).foreach { r =>
          val len = r.getSeq[Long](1).size
          require(len == numHashes,
            s"minHashDedupStream: signature store at $sigDir has $len hashes/doc but " +
              s"bands*rowsPerBand = $numHashes — restart with the store's parameters")
        }
        // the banded index is derived state: cover any flat-store rows it
        // is missing (legacy pre-index store, config change → fresh dir,
        // out-of-band seeding) before reading from it. Two tiny-file reads
        // when coverage already holds — the steady-state cost.
        val base = ensureSigIndexCoverage(spark, sigDir, idxDir,
          bands, rowsPerBand, storePartitions, storePartitions)
        val idx = graft.util.ParquetIO.readOrEmpty(spark, idxDir, sigIndexSchema)
        val newB = bandBuckets(newSigs, bands, rowsPerBand).localCheckpoint(true)
        // Corpus side = the index PRUNED to the partitions this batch's
        // buckets land in (≤ |batch|·bands of the storePartitions dirs —
        // partition filters, so the index READ is O(touched), not
        // O(|store|)), then cut to the exact touched buckets so shuffled/
        // aggregated rows are O(touched-bucket membership). The isin list
        // is a driver-side collect BOUNDED BY storePartitions (the param-
        // guard class, never O(data)). Bucket-size capping still sees FULL
        // touched-bucket membership, so maxBucketSize semantics match the
        // batch path.
        val touchedP = newB.select(pmod(col("bucket"), lit(storePartitions)).cast("int").as("__p"))
          .distinct().collect().map(_.getInt(0)).toSeq
        val touched = newB.select("band", "bucket").distinct()
        val idxPruned = (if (touchedP.isEmpty) idx.filter(lit(false))
                         else idx.filter(col("__p").isin(touchedP: _*)))
          .join(touched, Seq("band", "bucket"), "left_semi")
          .localCheckpoint(true)
        // corpus side excludes this batch's own ids → replay-deterministic
        // (after a crash-after-sig-append replay, the batch's docs are in
        // the store but must pair as NEW, not as corpus)
        val oldIdx = idxPruned
          .withColumnRenamed("id", "id2")
          .join(newSigs.select(col("id").as("id2")), Seq("id2"), "left_anti")
        val allB = oldIdx.select("id2", "band", "bucket")
          .unionByName(newB.withColumnRenamed("id", "id2"))
        val smallBuckets = allB.groupBy("band", "bucket")
          .agg(count(lit(1)).as("n")).filter(col("n") <= maxBucketSize)
          .select("band", "bucket")
        val pairs = newB.join(smallBuckets, Seq("band", "bucket"), "left_semi")
          .join(allB, Seq("band", "bucket"))
          .filter(col("id") =!= col("id2"))
          .select(least(col("id"), col("id2")).as("doc_a"),
            greatest(col("id"), col("id2")).as("doc_b"))
          .dropDuplicates("doc_a", "doc_b")
          .localCheckpoint(true) // read by the corpus-id fetch AND the verdict joins
        // verdict sigs for the corpus-side pair participants come from the
        // id-partitioned FLAT STORE, pruned to the partitions of exactly
        // those ids (the index carries no signatures — see the layout
        // note). An id present in the index but absent from the store (a
        // crashed out-of-band seed; impossible for the stream's own
        // appends, whose failed batch replays first) contributes no sig
        // and pairs only after that seed is re-run — the store is the
        // source of truth. dropDuplicates: a tombstone-healed id may hold
        // two live-ish rows only in the legacy layout; same-id sigs are
        // identical by the append guards.
        val corpusIds = pairs
          .select(explode(array(col("doc_a"), col("doc_b"))).as("id")).distinct()
          .join(newSigs.select("id"), Seq("id"), "left_anti")
        val corpusSigs = storeRowsForIds(st, corpusIds)
          .filter(col("sig").isNotNull)
          .select("id", "sig").dropDuplicates("id")
          .unionByName(newSigs)
        val verdicts = pairs
          .join(corpusSigs.select(col("id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
          .join(corpusSigs.select(col("id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
          .withColumn("est_jaccard", aggregate(zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1).otherwise(0)), lit(0), _ + _) / lit(numHashes))
          .filter(col("est_jaccard") >= threshold)
          .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
        verdicts.withColumn("__batch", lit(id))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("__batch")
          .parquet(pairsDir)
        // live store ids in the batch's OWN id-partitions (pruned read —
        // for the batch's ids this is equivalent to the full id column):
        // shared by the index-append guard and the store-append anti-join
        val storeIdsForBatch = storeRowsForIds(st, newSigs.select("id"))
          .filter(col("sig").isNotNull).select("id").localCheckpoint(true)
        // index append BEFORE the flat-store append: the flat append is the
        // commit marker. Two skip guards at DIFFERENT granularities:
        //  - store-live ids skip at ID level: a doc RE-INGESTED WITH
        //    DIFFERENT TEXT hashes to buckets outside the pruned read —
        //    appending its new band rows would diverge the index from the
        //    store's (kept) original signature and nondeterministically
        //    flip its verdict sig; the store's first signature wins;
        //  - pruned-index rows skip at (ID, BAND) level: crash-replay (id
        //    indexed, store append not yet committed — identical text →
        //    identical buckets → its committed rows sit in the partitions
        //    already read). Band-granular on purpose: a crash DURING the
        //    index append's job commit can leave a PARTIAL band set
        //    visible with the stamps still equal (stale-but-matching →
        //    the coverage gate's steady path never re-verifies), so the
        //    replay itself must complete the missing bands — an id-level
        //    skip would leave them candidate-blind forever.
        appendSigIndex(newSigs, storeIdsForBatch, idxDir,
          bands, rowsPerBand, storePartitions,
          existingBands = Some(idxPruned))
        // store append LAST: a crash before this point replays cleanly
        // (pairs partition just gets rewritten); genuinely-new ids only.
        // The anti-join ignores legacy (id, null) rows written before
        // null-text filtering: a doc re-ingested with real text must get a
        // real signature appended, not stay blocked forever by its null
        // tombstone. With the id-partitioned layout nothing in the batch
        // reads O(|store|) anymore — even this anti-join is pruned to the
        // batch ids' partitions.
        val toAppend = newSigs.join(storeIdsForBatch, Seq("id"), "left_anti")
          .localCheckpoint(true)
        val k = appendSigStore(st, toAppend, sigDir)
        if (k > 0) {
          // stamp AFTER both appends; a crash between the two stamps (or
          // before them) reads as a mismatch → next batch re-verifies
          writeLongFile(spark, storeCountPath(sigDir), base + k)
          writeLongFile(spark, coveragePath(idxDir), base + k)
        }
      }
      .start()
  }

  // ---- SimHash -------------------------------------------------------------

  /** 64-bit SimHash per document: sign of per-bit sums over token hashes.
    * Exploded-token aggregation — distributes as one shuffle on doc id. */
  def simHash(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitCols = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b"))
    val bitSums = toks.groupBy("id").agg(bitCols.head, bitCols.tail: _*)
    bitSums.select(col("id"),
      (0 until 64).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash via the native codegen'd
    * [[graft.functions.expressions.SimHash64]] expression — bit-identical
    * to [[simHash]] (parity-pinned) with NO explode and NO shuffle: the
    * relational form exchanges |docs|·|tokens| rows for its 64-column
    * bit-sum aggregate; this is one narrow projection (the
    * [[minHashSignaturesNative]] rework applied to SimHash). Null-text
    * docs are dropped,
    * matching the relational form (explode of a null token array emits no
    * rows, so null docs are absent from its output too). Used by
    * [[simHashDuplicates]]; the relational form remains as the executable
    * specification. */
  def simHashNative(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"),
        call_function("graft_simhash", col(textCol)).as("simhash"))
  }

  /** Engine-portable SimHash: identical to [[simHash]] but the per-token
    * hash bits come from md5's hex nibbles instead of xxhash64, so ANY
    * engine with md5 + string ops reproduces the signature bit-for-bit
    * (DuckDB decodes a nibble as strpos('0123456789abcdef', char) - 1) —
    * which is what makes the d2 gate query hash-checkable. 60 bits (15
    * nibbles), not 64, so the OR-folded signature stays a positive signed
    * 64-bit value in every engine. Bit b = bit (b mod 4) of nibble (b div
    * 4). Same one-shuffle explode+sum shape as [[simHash]]; md5 costs more
    * per token than xxhash64, so the xxhash64 form stays the default. */
  def simHashMd5(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(split(lower(col(textCol)), "\\s+")).as("tok"))
      .withColumn("hx", md5(col("tok").cast("binary")))
    val bitCols = (0 until 60).map { b =>
      val nib = conv(substring(col("hx"), b / 4 + 1, 1), 16, 10).cast("int")
      sum(when(shiftright(nib, b % 4).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$b")
    }
    val bitSums = toks.groupBy("id").agg(bitCols.head, bitCols.tail: _*)
    bitSums.select(col("id"),
      (0 until 60).map(b =>
        when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ bitwiseOR _).as("simhash"))
  }

  /** Near-dup pairs with hamming(simhash) <= maxDistance. Candidates share
    * at least one of 4 16-bit chunks (pigeonhole: any pair within distance
    * 3 must agree on one chunk). */
  def simHashDuplicates(docs: DataFrame, maxDistance: Int = 3,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // 4 chunks are pigeonhole-complete only up to distance 3; a larger
    // distance would silently lose recall (a pair can differ in all 4
    // chunks at hamming 4) — fail loudly instead
    require(maxDistance >= 0 && maxDistance <= 3,
      s"simHashDuplicates: 4-chunk banding is complete only for maxDistance <= 3, got $maxDistance")
    val sigs = simHashNative(docs, textCol, idCol)
    val chunked = sigs.select(col("id"), col("simhash"), posexplode(
        array((0 until 4).map(c =>
          shiftrightunsigned(col("simhash"), c * 16).bitwiseAND(0xFFFFL)): _*)))
      .toDF("id", "simhash", "chunk_idx", "chunk_val")
    val a = chunked.select(col("chunk_idx"), col("chunk_val"),
      col("id").as("doc_a"), col("simhash").as("sig_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk_val"),
      col("id").as("doc_b"), col("simhash").as("sig_b"))
    a.join(b, Seq("chunk_idx", "chunk_val")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("sig_a"), col("sig_b")).distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDistance)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  // ---- exact n-gram Jaccard (gram-postings join) --------------------------

  /** All-pairs n-gram Jaccard ≥ threshold via postings-list self-join:
    * |A∩B| by counting gram-equality join hits, sizes from per-doc counts.
    * Everything stays in whole-stage codegen (long/count aggregation — no
    * per-pair array materialization, which benchmarked 5× slower on corpora
    * with heavy cross-similarity). The join distributes on gram; its row
    * count is Σ_gram df², so stopword-like mega-grams are dropped via
    * maxPostings (df cap) — this bounds skew AND defines the semantics as
    * "Jaccard over grams with df ≤ cap" consistently on both sides. */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxPostings: Int = 10000,
      pairBudget: Long = 2000000000L): DataFrame =
    gramPairSizes(docs, n, textCol, idCol, maxPostings, pairBudget,
        caller = "ngramJaccardPairs")
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** The BANDED route for exact-semantics n-gram Jaccard — what the
    * [[ngramJaccardPairs]] Σdf² guard points at: minhash-LSH candidate
    * generation over the SAME df-capped `graft_ngram_hashes` gram
    * identity, then exact gram-set verification of just the candidates.
    * Same output contract as the exact tier ((doc_a, doc_b, jaccard),
    * a < b, Jaccard over grams with df ≤ maxPostings); the difference is
    * recall — a pair is found only if it shares ≥1 of `bands` band
    * buckets, P = 1 − (1 − t^rowsPerBand)^bands. For LOW thresholds use
    * shallow bands: at t = 0.3, (bands=16, rows=4) finds ~12% of pairs
    * while (bands=64, rows=1) misses ~(0.7)^64 ≈ 1e-10 of them —
    * equality-pinned against the exact tier at that config in the spec.
    *
    * Scale shape: one df-cap window pass (linear), one 64-min-agg
    * signature shuffle of |docs| rows, band bucketing, exact verify only
    * on candidates — never Σdf² join rows. The clone-corpus case that
    * blows the exact tier up costs candidates ∝ actual duplicate mass
    * here — which for a clone FAMILY is its size², the true pair count
    * the caller asked for.
    *
    * maxBucketSize is an OPT-IN skew valve and defaults to UNCAPPED: a
    * clone family larger than the cap would have every band bucket
    * dropped and return ZERO of its (all true, jaccard-1.0) pairs — a
    * silent hole on exactly the duplicate-heavy corpus the Σdf² guard
    * steers here. Cap only when truncating mega-families is the intent
    * (the d1 boilerplate contract), and know that capped families
    * disappear from the output entirely. */
  def ngramJaccardPairsBanded(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxPostings: Int = 10000,
      bands: Int = 64,
      rowsPerBand: Int = 1,
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    val numHashes = bands * rowsPerBand
    val pruned = prunedGramPostings(docs, n, textCol, idCol, maxPostings)
    // minhash over the gram-hash SET: sig[h] = min_g xxhash64(h, g) — the
    // permutation-hash construction. Round 20: computed by the fused
    // graft_minhash_longs expression in ONE pass over the collected gram
    // array (bit-identical to the previous 64-min-column aggregate,
    // parity-pinned in PipelineSpec) — the aggregate form evaluated 64
    // codegen'd buffer-slot min-updates per POSTING row in both the
    // partial and final agg (measured 438.7 task-seconds at 10×, d14's
    // top stage); the verify side needs collect_list(gram) anyway, so
    // the signature is a narrow projection of it, after the checkpoint
    // (min is order-insensitive — collect_list's nondeterministic order
    // cannot leak into the signature).
    // gram arrays are stored SORTED: the per-pair verify below is a
    // two-pointer merge (graft_inter_sorted), and one n·log n sort per
    // DOC at checkpoint time amortizes over the ~80 candidate pairs each
    // doc participates in at 10× (vs array_intersect's per-PAIR hash
    // set — measured ~13 µs/pair over 49M candidates, 20.7 s of d14's
    // 24.6 s wall; the merge + below-threshold early exit cut the
    // verify to ~1/4)
    val gramSets = pruned.groupBy(col("id"))
      .agg(sort_array(collect_list(col("gram"))).as("gs"))
      .localCheckpoint(true) // feeds banding AND both verify sides
    val sigs = gramSets.select(col("id"),
      call_function("graft_minhash_longs", col("gs"), lit(numHashes)).as("sig"))
    val cands = candidatesFromSigs(sigs, bands, rowsPerBand, maxBucketSize).distinct()
    def exactVerify(pairs: DataFrame): DataFrame = pairs
      .join(gramSets.select(col("id").as("doc_a"), col("gs").as("gs_a")), "doc_a")
      .join(gramSets.select(col("id").as("doc_b"), col("gs").as("gs_b")), "doc_b")
      .withColumn("inter", call_function("graft_inter_sorted",
        col("gs_a"), col("gs_b"), lit(threshold)))
      .filter(col("inter") >= 0) // -1 = provably below threshold mid-merge
      .withColumn("jaccard", col("inter") /
        (size(col("gs_a")) + size(col("gs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    // SCALE GUARD (round 20, three-point probe): past the broadcast
    // threshold the verify joins become shuffled joins whose SECOND join
    // re-shuffles |cands| rows each carrying a ~0.5 KB gram array — the
    // dominant cost at the 500k-doc disjoint point (7.0 → 240 s, the
    // a7/a17-style broadcast→SMJ transition; a SHUFFLE_HASH hint
    // measured WORSE, 26.8 vs 9.0 GiB shuffled — sorted-run compression
    // beats sort-avoidance on these repeating payloads; negative
    // recorded in SCALING.md). So above that size the verify runs in
    // two PROVABLE stages: (1) the same joins over 32-bit truncated
    // gram arrays (half the payload; truncation only MERGES grams, so
    // the multiset merge-count is an upper bound on the true
    // intersection — a below-threshold verdict there is final),
    // (2) the exact 64-bit verify on the survivors (≈ true pairs, a
    // broadcast-scale relation), bit-identical math to the small path.
    val gsBig = gramSets.queryExecution.optimizedPlan.stats.sizeInBytes >
      docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (!gsBig) exactVerify(cands)
    else {
      // (g >> 32).toInt: ANSI-safe (fits int exactly), deterministic
      // 32-bit projection; arrays re-sorted (int order != long order)
      val gs32 = gramSets.select(col("id"),
        sort_array(transform(col("gs"),
          g => shiftright(g, 32).cast("int"))).as("g32"))
      val survivors = cands
        .join(gs32.select(col("id").as("doc_a"), col("g32").as("g32_a")), "doc_a")
        .join(gs32.select(col("id").as("doc_b"), col("g32").as("g32_b")), "doc_b")
        .withColumn("ub", call_function("graft_inter_sorted_int",
          col("g32_a"), col("g32_b"), lit(threshold)))
        .filter(col("ub") >= 0) // -1 = even the upper bound is below threshold
        .select(col("doc_a"), col("doc_b"))
      exactVerify(survivors)
    }
  }

  /** The df-capped (id, gram) postings relation — the gram identity AND
    * the cap semantics in ONE body behind every n-gram pair tier (exact
    * d3/d13 via [[gramPairSizes]], banded d14): grams as xxhash64 longs
    * (equality-preserving, 8-byte join keys; native one-pass build,
    * parity-pinned vs the lambda chain), df as a one-pass count window —
    * the postings feed BOTH sides of the exact tier's self-join, and a
    * groupBy+anti-join cap (measured) re-derives the explode once per
    * side, 3× slower. A drift between the exact and banded gram fronts
    * would silently break the d14 ≡ d3 equality pin — that is why this
    * body exists. */
  /** Pair-stage width: one task per ~2M Σdf² pair-rows, floored at the
    * session's parallelism (the width a CPU-heavy stage needs on an idle
    * cluster), capped at 4096 (past that, task overhead dominates and
    * the Σdf² guard has long since fired anyway). est = 0 (unknown)
    * yields the floor. */
  private[graft] def gramStageWidth(spark: org.apache.spark.sql.SparkSession,
      est: Long): Int = {
    val base = math.max(spark.sessionState.conf.numShufflePartitions,
      spark.sparkContext.defaultParallelism)
    math.min(4096L, math.max(base.toLong, est / 2000000L)).toInt
  }

  private[graft] def prunedGramPostings(docs: DataFrame, n: Int,
      textCol: String, idCol: String, maxPostings: Int,
      width: Int = 0): DataFrame = {
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    val spark = docs.sparkSession
    import spark.implicits._
    def postings = docs.select(col(idCol).as("id"),
      explode(call_function("graft_ngram_hashes", col(textCol), lit(n))).as("gram"))
    // SKEW VALVE (round 13): the df window below hash-shuffles the FULL
    // postings relation on the gram key, so a mega-df gram (a clone-heavy
    // corpus's boilerplate line) concentrates its entire posting list in
    // one partition before the cap drops it — the one skew hazard in this
    // body at 100 TB. Pre-drop the PROVABLY heavy grams: a per-partition
    // Misra–Gries summary (Misra & Gries 1982; the t27 heavyHittersSketch
    // partials, here over the already-hashed gram longs) whose counters
    // are LOWER bounds on occurrence counts — increments only on real
    // occurrences, decrement-all only subtracts — so a summed counter
    // > maxPostings proves df > maxPostings, and dropping the gram here
    // is exactly what the window would do anyway (semantics-preserving;
    // d3/d13/d14 stay hash-identical by construction). Grams that
    // survive the valve carry df ≤ maxPostings + N/(k+1), so the window's
    // max partition is BOUNDED regardless of corpus skew (measured:
    // SCALING.md "Round 13: gram-df window skew valve"). Cost
    // is one extra narrow pass over the postings stream (zero-shuffle
    // sketch; candidate merge is ≤ partitions·k rows, map-side combined)
    // — the full groupBy+anti-join alternative shuffles the whole
    // vocabulary and measured 3× slower.
    val mgK = 65536 // 16 B/counter → ~1 MiB/partition; at N = 10⁹
                    // postings the cross-partition slack N/(k+1) ≈ 15k
    val partials = postings.select(col("gram")).as[Long].mapPartitions { it =>
      // LongMap: primitive-keyed open addressing (counts are ≥ 1, so
      // getOrElse(-1) encodes absence without boxing)
      val counters = new scala.collection.mutable.LongMap[Long](mgK * 2)
      it.foreach { g =>
        val c = counters.getOrElse(g, -1L)
        if (c >= 0L) counters.update(g, c + 1)
        else if (counters.size < mgK) counters.update(g, 1L)
        else {
          // decrement-all: snapshot keys first — mutating mid-iteration
          // is undefined behavior
          val keys = counters.keys.toArray
          var i = 0
          while (i < keys.length) {
            val k = keys(i); val v = counters(k)
            if (v == 1L) counters -= k else counters.update(k, v - 1L)
            i += 1
          }
        }
      }
      counters.iterator
    }.toDF("gram", "cnt")
    val heavy = partials.groupBy(col("gram")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") > maxPostings).select(col("gram"))
    // WIDTH PIN (round 20): plant the caller's width as a USER
    // repartition on the window's own partition key — it satisfies the
    // window's required distribution (no exchange added; the window's
    // ENSURE_REQUIREMENTS exchange is replaced, not preceded) and user
    // repartitions are exempt from AQE's bytes-based coalescing, so the
    // CPU-heavy stage above it (df window + the exact tier's pair join,
    // which reuses this same gram partitioning) keeps its width instead
    // of collapsing on these byte-light 16-byte rows. width <= 0 = the
    // parallelism floor (the banded tier's case: its downstream work is
    // a groupBy(id), only the window itself reads this exchange).
    val w = if (width > 0) width else gramStageWidth(spark, 0L)
    postings.join(broadcast(heavy), Seq("gram"), "left_anti")
      .repartition(w, col("gram"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("df") <= maxPostings).drop("df")
  }

  /** Shared postings front of the exact n-gram pair tiers — (doc_a,
    * doc_b, inter, sz_a, sz_b) rows, a < b: ONE body behind
    * [[ngramJaccardPairs]] and [[ngramContainmentPairs]] so the gram
    * identity, df cap and intersection semantics cannot drift. */
  private def gramPairSizes(docs: DataFrame, n: Int,
      textCol: String, idCol: String, maxPostings: Int,
      pairBudget: Long, caller: String): DataFrame = {
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    val grams = docs.select(col(idCol).as("id"),
      explode(call_function("graft_ngram_hashes", col(textCol), lit(n))).as("gram"))
    // Σdf² BUDGET GUARD: the self-join below produces exactly
    // Σ_gram df·(df−1)/2 ordered pairs-with-multiplicity — superlinear on
    // clone-heavy corpora (measured 16× rows → ~28× cost, SCALING.md),
    // and the df cap bounds boilerplate GRAMS, not the everything-is-a-
    // clone case where every gram's df grows with the corpus. One cheap
    // df-histogram aggregation (linear, runs before any pair is
    // produced) estimates the join size; above budget this fails fast
    // naming the banded route instead of launching a runaway join.
    // pairBudget <= 0 disables — INCLUDING the estimate pass itself
    // (ADVICE r20): a caller who disabled the guard opted out of the
    // eager plan-time job, so the stage width falls back to the
    // parallelism floor instead of the Σdf²-derived value.
    val est =
      if (pairBudget <= 0) 0L
      else grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxPostings)
        .agg(sum(col("df") * col("df")).as("s"))
        .collect().headOption.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
        .getOrElse(0L)
    if (pairBudget > 0 && est > pairBudget) throw new IllegalStateException(
      s"$caller: estimated postings self-join size (Sigma df^2 = $est over " +
        s"df <= $maxPostings grams) exceeds pairBudget = $pairBudget — the " +
        "exact tier is superlinear on duplicate-heavy corpora. Use " +
        "ngramJaccardPairsBanded (banded minhash over the same gram " +
        "identity, linear in duplicate mass) or raise pairBudget if the " +
        "join size is genuinely acceptable.")
    // WIDTH PIN (round 20, the t21/t34 AQE-coalescing class): left to
    // ENSURE_REQUIREMENTS, the pair stage's width comes from the df
    // window's exchange, which AQE coalesces by BYTES — and gram-hash
    // postings are 16-byte rows carrying df² PAIR work each, so the
    // stage that generates every pair ran 16 uniform ~7.7 s tasks on 32
    // cores at 10× (sweep r19 stage 6686: avg 7.7 s ≈ max 8.2 s — an
    // under-wide uniform stage, NOT hot-bucket skew; no salting needed).
    // The Σdf² estimate the budget guard already computes IS the pair
    // count, so derive the width from it: one task per ~2M ordered
    // pair-rows, floored at the session's parallelism, capped at 4096.
    // prunedGramPostings plants the user repartition (coalesce-exempt)
    // below its df window, whose gram partitioning the self-join then
    // reuses — ONE exchange feeds window, join and pair generation, all
    // at the pinned width, with no exchange added over the old plan.
    val width = gramStageWidth(docs.sparkSession, est)
    val pruned = prunedGramPostings(docs, n, textCol, idCol, maxPostings, width)
    val sizes = pruned.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = pruned.select(col("gram"), col("id").as("doc_a"))
      .join(pruned.select(col("gram"), col("id").as("doc_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
  }

  /** Asymmetric near-SUBSET detection (Broder's containment measure):
    * C(A in B) = |A∩B| / |A| over distinct word n-grams — a short quote
    * or excerpt inside a long document scores ~1 while its JACCARD stays
    * tiny (the union is dominated by the long side), the partial-copy
    * class every symmetric tier structurally misses. Emits one ORDERED
    * row (doc_id, other_id, containment) per direction that clears the
    * threshold; doc_id is the (near-)contained side — the row to drop or
    * attribute in a dedup pass. Same gram identity, df cap and scale
    * shape as [[ngramJaccardPairs]] (one shared postings body): the join
    * distributes on gram, Σdf² bounded by maxPostings, the direction
    * split is a narrow projection of the same pair relation. */
  def ngramContainmentPairs(
      docs: DataFrame,
      n: Int,
      threshold: Double,
      textCol: String = "text",
      idCol: String = "doc_id",
      maxPostings: Int = 10000,
      pairBudget: Long = 2000000000L): DataFrame = {
    // both directions in ONE pass over the pair relation: a unionByName
    // of two selects re-executes the postings-join aggregation (the
    // heaviest stage) once per branch — Spark reuses the exchange, not
    // the post-shuffle aggregate
    gramPairSizes(docs, n, textCol, idCol, maxPostings, pairBudget,
        caller = "ngramContainmentPairs")
      .select(explode(array(
        struct(col("doc_a").as("doc_id"), col("doc_b").as("other_id"),
          (col("inter") / col("sz_a").cast("double")).as("containment")),
        struct(col("doc_b").as("doc_id"), col("doc_a").as("other_id"),
          (col("inter") / col("sz_b").cast("double")).as("containment")))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.other_id").as("other_id"),
        col("r.containment").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Cross-doc duplicated-n-gram statistics — the corpus-duplication
    * report behind exact-substring dedup (Lee et al. 2021,
    * arXiv:2107.06499, at word granularity): for each document, how many
    * of its DISTINCT word n-grams occur in at least one OTHER document,
    * and that fraction of the document. This is the per-doc signal the
    * pair-level tiers (minhash d1, Jaccard d3) cannot give — a document
    * can be pairwise-unique yet mostly assembled from corpus-duplicated
    * spans, and `dup_ngram_frac` is the standard filter/report column for
    * exactly that.
    *
    * Emits (idCol, n_ngrams, n_dup_ngrams, dup_ngram_frac) for every doc
    * with ≥ n tokens (shorter docs have no gram and no row; null text
    * likewise). Gram identity matches [[ngramJaccardPairs]]: lowercased,
    * split on \s+, distinct per doc, hashed to 8-byte keys in one
    * codegen'd pass (`graft_ngram_hashes`).
    *
    * Shape at scale: postings explode → document frequency as a count
    * window over `gram` (ONE sort-shuffle on 16-byte rows — the same
    * single-pass df trick as [[ngramJaccardPairs]], and no join back to
    * re-derive the postings) → one groupBy(id). Two shuffles total, both
    * linear in token count; no pair blowup anywhere (df is aggregated,
    * never self-joined), so no maxPostings cap is needed — a stopword
    * mega-gram costs its posting rows once. */
  def crossDocNgramStats(
      docs: DataFrame,
      n: Int,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    graft.functions.expressions.GraftFunctions.init(docs.sparkSession)
    val grams = docs.select(col(idCol),
      explode(call_function("graft_ngram_hashes", col(textCol), lit(n))).as("gram"))
    grams.withColumn("df", count(lit(1)).over(Window.partitionBy("gram")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_ngrams"))
      .withColumn("dup_ngram_frac",
        round(col("n_dup_ngrams") / col("n_ngrams"), 6))
  }

  /** Exact-substring dedup, the REMOVAL action behind
    * [[crossDocNgramStats]]'s report (Lee et al. 2021, arXiv:2107.06499,
    * at word granularity): rewrite every document dropping each token
    * covered by a word n-gram that also occurs in at least one OTHER
    * document. Case/whitespace-insensitive gram identity (same
    * convention as [[ngramJaccardPairs]]: lowercase, split on \s+ with
    * empties kept, \x01-joined, xxhash64 — a hash stands in for the gram
    * with collision odds ~|grams|²/2⁶⁴); the OUTPUT keeps each surviving
    * token's original case, rejoined with single spaces (whitespace runs
    * are not preserved — this op tokenizes, so its output is
    * token-normalized by construction).
    *
    * Emits (idCol, text_dedup, n_tokens, n_dropped) for EVERY input row
    * (null text → 0 tokens, empty rewrite). A gram repeated only within
    * one document is not "duplicated" (document frequency counts
    * distinct docs), matching the report's df ≥ 2 semantics.
    *
    * Shape at scale — everything is linear in token count, no pair join
    * anywhere: positions explode → df per gram via one countDistinct
    * aggregation (two-phase, partial map-side) → dup-gram set joined
    * back on the 8-byte gram key (each occurrence matches ≤1 flag row)
    * → covered positions (≤ n× dup occurrences) → anti-join on (id,
    * pos) → one groupBy(id) rebuild. A stopword mega-gram costs its
    * occurrence rows, never a df² product, so no cap is needed — the
    * property that lets this run uncapped where d3 needs maxPostings. */
  def dropDuplicatedNgrams(
      docs: DataFrame,
      n: Int,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(n >= 1, s"dropDuplicatedNgrams: n must be >= 1, got $n")
    // widen the text scan (round 21, the d7 pattern): the gram-hash
    // occurrence pass below is per-row heavy (one xxhash64 over a
    // sliced token window per position) but arrives at the input's file
    //-split width — measured 10 uniform ~1.3 s tasks on 32 cores at
    // 10× (sweep r20 stages 6338/6332, d11's top two). factor = 1:
    // map-only per-row work, no sort state to bound (the d7 rule);
    // Widen's byte ceiling keeps this a no-op at cluster scale.
    val docsW = graft.util.Widen.widened(docs, factor = 1)
    val toksArr = docsW.select(col(idCol),
      coalesce(split(col(textCol), "\\s+"), array().cast("array<string>")).as("t"))
    // gram occurrences with start position (0-based). sequence() is
    // guarded: Spark's sequence(0, -1) DESCENDS instead of emitting
    // empty, so short docs must short-circuit to array()
    val occ = toksArr.select(col(idCol),
      posexplode(
        when(size(col("t")) >= n,
          transform(sequence(lit(0), size(col("t")) - n),
            i => xxhash64(lower(array_join(slice(col("t"), i + lit(1), lit(n)), "\u0001")))))
          .otherwise(array().cast("array<bigint>"))).as(Seq("pos", "gram")))
    val dupGrams = occ.groupBy("gram")
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= 2)
      .select("gram")
    val covered = occ.join(dupGrams, "gram")
      .select(col(idCol), explode(sequence(col("pos"), col("pos") + (n - 1))).as("pos"))
      .distinct()
    val toks = toksArr.select(col(idCol), posexplode(col("t")).as(Seq("pos", "tok")))
    val rebuilt = toks.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("text_dedup"))
    toksArr.select(col(idCol), size(col("t")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }
}
