package graft.gate

import graft.model._
import graft.sources.Loaders
import graft.cypher._
import graft.cypher.Dsl._
import graft.operators.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The driver-facing correctness-gate queries: every entry has a Spark
  * implementation (through the engine's public operators) and, where ANSI
  * SQL can express it, a DuckDB oracle over the same parquet tables.
  *
  * Oracle-parity rules (the driver hash-compares values after sorting
  * columns by name):
  *  - every computed column is aliased identically on both sides;
  *  - money aggregates go through DECIMAL(18,2) (exact, order-independent)
  *    and are cast to DOUBLE at the end so both engines emit the same type;
  *  - double SUMs of non-integral values are avoided (order-dependent);
  *  - window orderings use integer keys only (ns-vs-µs timestamp truncation
  *    differs between DuckDB and Spark).
  */
object GateQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** The documents corpus read with a scan-parallelism guard (round 17):
    * the per-row-HEAVY stages — md5-winnowing fingerprints, BPE token
    * walks, codec decodes — fuse into the parquet scan, whose
    * parallelism is the ROW-GROUP count, and the bench corpus arrives
    * as one small file = one row group = ONE task on a 32-thread box
    * (t6 measured CPU ≈ wall). Round 18: shares [[graft.util.Widen]]'s
    * stats-based guard (the old `df.rdd.getNumPartitions` probe forced
    * an RDD conversion per call, VERDICT r17 #3) — at 100 TB the byte
    * ceiling makes this a no-op, no exchange. factor = 1 (per-row map
    * work fuses into the scan with no sort state to bound — 4× would
    * only add scheduling overhead), floor = 128 KB, NOT the default
    * 1 MB: per-row expression cost dwarfs bytes for this table (the
    * 584 KB sf0.1 documents corpus measured 4.4 s → 2.0 s widened), so
    * the floor only needs to exclude the unit-scale fixtures. Values
    * are per-row, so outputs are byte-identical. */
  private def wideT(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.util.Widen.widened(t(spark, dir, name), factor = 1,
      floorBytes = 128L << 10)

  /** The events table with `ts` NORMALIZED to nanos-since-epoch LONG —
    * the contract every downstream query and [[graft.streaming.EventStreams]]
    * op assumes. The driver has generated this column under two physical
    * types across rounds: TIMESTAMP(NANOS), which Spark reads as LONG via
    * spark.sql.legacy.parquet.nanosAsLong (passes through unchanged), and
    * TIMESTAMP(MICROS), which reads as TIMESTAMP/TIMESTAMP_NTZ and is
    * converted here. An NTZ wall time is interpreted in the SESSION time
    * zone — every graft entry point (Bench, Verify, the specs) pins it to
    * UTC, matching DuckDB's epoch_ns/epoch_us(naive) = treat-wall-as-UTC
    * oracle semantics. */
  def events(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventStreams.normalizeTs(t(spark, dir, "events"))

  /** The a6/a7/a10 co-purchase graph: parts sharing an order, QUARTER cut
    * (every 4th order — the full sf0.1 graph is 1.2M edges at mean degree
    * 120, out of scale with the bench; the oracles apply the identical
    * cut). ONE body so the three gates and their oracles cannot drift.
    *
    * Memoized per (session, dir) and persisted (round 13): a dozen
    * a-gates consume this same graph, and at scale the lineitem
    * self-join is materialized once, not re-run per consumer — the
    * `graph(spark, dir)` discipline. RAW pair multiplicities preserved
    * (one row per co-ordering, not per distinct edge): consumers that
    * canonicalize do so themselves, so the cache is semantics-neutral
    * for every caller. Warmed in the bench build phase ([[warmCoPurchase]]). */
  private val coPurchaseCache = new graft.util.SessionCache[DataFrame](
    maxEntries = 4, onEvict = _.unpersist(blocking = false))
  private def coPurchaseEdges(s: SparkSession, d: String): DataFrame =
    coPurchaseCache(s, d) {
      val li = t(s, d, "lineitem")
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val a = li.toDF("ok", "u"); val b = li.toDF("ok", "v")
      a.join(b, "ok").filter(col("u") < col("v")).select("u", "v").cache()
    }

  /** Per-edge triangle support over the co-purchase graph, computed once
    * per (session, dir): a10 emits it and a17's round-1 peel consumes it
    * (`kTrussEdges(support0 = …)`) — in a real pipeline the truss stage
    * reads the materialized support relation, it does not re-run the
    * wedge join. The lpaCache (a9/a12) discipline at the edge level. */
  private val supportCache = new graft.util.SessionCache[DataFrame](
    maxEntries = 4, onEvict = _.unpersist(blocking = false))
  private def coPurchaseSupport(s: SparkSession, d: String): DataFrame =
    supportCache(s, d) {
      graft.analytics.GraphAnalytics.edgeSupport(coPurchaseEdges(s, d)).cache()
    }

  /** Per-node triangle counts over the co-purchase graph, computed once
    * per (session, dir): a6 emits it and a20's clustering coefficient
    * normalizes it (`clusteringCoefficient(triangles0 = …)`) — same
    * producer/consumer share as [[coPurchaseSupport]]. */
  private val trianglesCache = new graft.util.SessionCache[DataFrame](
    maxEntries = 4, onEvict = _.unpersist(blocking = false))
  private def coPurchaseTriangles(s: SparkSession, d: String): DataFrame =
    trianglesCache(s, d) {
      graft.analytics.GraphAnalytics.triangleCounts(coPurchaseEdges(s, d)).cache()
    }

  /** The full (x, y, z, dx, dy, dz) triangle relation of the co-purchase
    * graph, computed once per (session, dir): the link-prediction trio
    * a13 (Adamic–Adar) and a14 (Jaccard) both aggregate it — one wedge
    * join, several consumers, the [[coPurchaseSupport]] discipline made
    * EXPLICIT. (Round 18: a14 used to ride an ACCIDENTAL cache-manager
    * substitution of the a10 support relation into its structurally-
    * equal subtree while a13 re-ran the full 22 s enumeration at sf1 —
    * measured in SCALING.md.)
    *
    * Materialized to DISK (a /tmp parquet), NOT `.cache()`: the relation
    * is ~4M rows at 10× and a memory-resident copy measured a 30–40%
    * CPU inflation across EVERY later iterative a-gate (a5 8.6 → 11.9 s,
    * a3 4.1 → 5.6 s; identical shuffle-write — the cached columnar
    * blocks squeeze the unified pool and the per-iteration
    * localCheckpoint blocks evict into recomputation). A parquet
    * intermediate costs a13/a14 a ~0.3 s scan and zero executor memory —
    * and IS the real-pipeline shape: a materialized shared table. */
  private val triangleSetCache = new graft.util.SessionCache[String](
    onEvict = deferDelete)
  private def coPurchaseTriangleSet(s: SparkSession, d: String): DataFrame = {
    val path = triangleSetCache(s, d) {
      val p = java.nio.file.Files.createTempDirectory("graft_triset").toString
      graft.analytics.GraphAnalytics.triangleSet(coPurchaseEdges(s, d))
        .write.mode("overwrite").parquet(p)
      p
    }
    s.read.parquet(path)
  }

  /** Bench build/train-phase warm for the shared co-purchase fixtures
    * (edge relation + support + triangle memos) — the warmLpa/warmSccs
    * discipline, so no single a-gate line absorbs the shared build. */
  def warmCoPurchase(spark: SparkSession, dir: String): Unit = {
    coPurchaseEdges(spark, dir).count()
    coPurchaseSupport(spark, dir).count()
    coPurchaseTriangles(spark, dir).count()
    coPurchaseTriangleSet(spark, dir) // materializes the disk parquet
    ()
  }

  // ---- graph model over the TPC-H-ish tables ------------------------------
  // Node id layout: customers [0, 1e7), orders [1e7, 2e7), parts [2e7, 3e7),
  // suppliers [3e7, 4e7). Dense ranges → labels (SURVEY §1.3).
  val ORDER_BASE = 10000000L
  val PART_BASE = 20000000L
  val SUPP_BASE = 30000000L
  val CUSTOMER = 0; val ORDER = 1; val PART = 2; val SUPPLIER = 3
  val Placed = 1; val Contains = 2; val SuppliedBy = 3; val NextOrder = 4

  def ranges: Seq[RangeDef] = Seq(
    RangeDef(0L, ORDER_BASE, CUSTOMER, Seq(Placed)),
    RangeDef(ORDER_BASE, PART_BASE - ORDER_BASE, ORDER, Seq(Contains, NextOrder)),
    RangeDef(PART_BASE, SUPP_BASE - PART_BASE, PART, Seq(SuppliedBy)),
    RangeDef(SUPP_BASE, 10000000L, SUPPLIER, Seq()))

  /** customer --Placed--> order --Contains--> part --SuppliedBy--> supplier
    * (mirrored), plus order --NextOrder--> next order of the same customer
    * (by (o_orderdate, o_orderkey)) for repetition queries.
    *
    * Built once per sf dir and cached: the edge relation is referenced by
    * every hop of every gate query, so at scale it must be materialized
    * once, not recomputed per join.
    */
  /** Unique memory-sink names for the s13/s14 streaming gates: a restarted
    * query may not reuse a still-registered name within one session
    * (bench pass-1 + rerun both execute the gate). */
  private val s13Runs = new java.util.concurrent.atomic.AtomicInteger(0)
  private val s14Runs = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Recursive best-effort delete for the stream gates' per-execution
    * chunk dirs: each run writes ~5 copies of the events table to a FRESH
    * temp dir, so without cleanup repeated bench runs (pass-1 + extra
    * passes + reruns) accumulate unbounded /tmp data (ADVICE r15).
    * Try-guarded — cleanup failure must never fail a green gate. */
  private def deleteStreamDir(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete()
    }
    scala.util.Try(rm(new java.io.File(dir)))
  }

  /** DEFERRED delete for disk-backed cache entries (the triangle-set
    * parquet, the staged stream chunks): an evicted entry's path may
    * already be handed out to an in-flight run — s13/s14 copy staged
    * chunks 1–3 from a stage path obtained BEFORE the streaming query
    * started, a13/a14 read the triangle parquet lazily — so deleting at
    * eviction time turns an eviction under concurrent gates into a
    * mid-run FileNotFoundException (ADVICE r18). Evicted dirs are
    * instead queued and removed by ONE JVM shutdown hook: growth is
    * bounded (evictions are rare — the caches hold per-directory
    * fixtures and maxEntries exceeds realistic dir counts; eviction is a
    * leak-release valve, not steady-state behavior), and a queued dir
    * stays valid for any run that still holds its path. */
  private val pendingDeletes = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val deleteHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => pendingDeletes.forEach(d => deleteStreamDir(d))))
  private[graft] def deferDelete(dir: String): Unit = {
    deleteHook
    pendingDeletes.add(dir)
  }
  /** Test hooks for the deferred-delete contract (round 20): eviction
    * must QUEUE a disk-backed dir, not delete it — and the shutdown hook
    * must reap the queue. The spec cannot fire a real JVM shutdown, so
    * it reaps one dir through the same body the hook runs; reaping a
    * single dir (not the whole queue) keeps the test from deleting other
    * gates' live staged fixtures in the shared test JVM. */
  private[graft] def isPendingDelete(dir: String): Boolean = pendingDeletes.contains(dir)
  private[graft] def reapPendingDelete(dir: String): Boolean =
    if (pendingDeletes.remove(dir)) { deleteStreamDir(dir); true } else false

  /** g9's staged CSV fixture path, once per (session, dir) — see the
    * gate's comment. deferDelete onEvict: the path may be lazily read by
    * an in-flight fromCSV plan. */
  private val g9CsvCache = new graft.util.SessionCache[String](
    maxEntries = 4, onEvict = deferDelete)

  /** ATOMIC chunk push for the s13/s14 stream gates: write the chunk to a
    * staging dir as ONE file, then rename that file into the watched dir.
    * A plain multi-file `write.parquet(watchedDir)` races the running
    * query's continuous trigger — the FileStreamSource can LIST the dir
    * mid-write and split one logical push across two micro-batches, so
    * the first slice advances the watermark past users whose files land
    * in the second (observed on a 10× Run: s13 died re-arming a
    * past-watermark timeout; for s14 the same split would silently DROP
    * the second slice's rows below the watermark and fail the parity
    * assert). One file = one atomic rename = one indivisible batch
    * boundary. Gate-scale chunks are a few MB, so the repartition(1)
    * write is cheap; production streams own this at the ingestion layer
    * (atomic staging is exactly what real file-based pipelines do). */
  private val pushSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private def pushAtomic(df: DataFrame, dir: String): Unit = {
    val staging = java.nio.file.Files.createTempDirectory("graft_stage").toString
    try {
      df.repartition(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(
          s"pushAtomic: no part file written to $staging"))
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(dir, s"chunk-${pushSeq.incrementAndGet()}.parquet"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } finally deleteStreamDir(staging)
  }

  /** The four ts-quartile event chunks s13 AND s14 both feed their file
    * streams, STAGED once per (session, dir) as single-file parquets —
    * a deterministic input FIXTURE, not part of either gate's streaming
    * work: before round 18 every execution (pass-1, REPEAT passes,
    * reruns, both gates) re-ran four repartition(1) parquet writes of
    * the same rows, ~4 serial single-task jobs per run at 10×. Staged
    * files are COPIED into each run's fresh watched dir (copy + rename
    * preserves the pushAtomic one-file-per-batch contract; the
    * FileStreamSource keys on the watched-dir path, which stays unique
    * per run). The far-future sentinels stay live pushes — they are
    * 1-row and gate-specific. Warmed in the bench build phase
    * ([[warmStreamChunks]]), the warmCoPurchase discipline. */
  private val chunkStageCache = new graft.util.SessionCache[(String, Long, Long)](
    maxEntries = 4, onEvict = t => deferDelete(t._1))
  /** Returns (stagingDir, minTs, maxTs) — bounds ride the memo so the
    * gates' sentinel arithmetic needs no per-run bounds job either. */
  private def stagedEventChunks(s: SparkSession, d: String): (String, Long, Long) =
    chunkStageCache(s, d) {
      val evs = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val bounds = evs.agg(min(col("ts")), max(col("ts"))).collect().head
      require(!bounds.isNullAt(0), "stream gates: events table is empty")
      val (minTs, maxTs) = (bounds.getLong(0), bounds.getLong(1))
      val span = maxTs - minTs + 1
      val stage = java.nio.file.Files.createTempDirectory("graft_chunk_stage").toString
      (0 to 3).foreach { k =>
        val tmp = java.nio.file.Files.createTempDirectory("graft_stage").toString
        try {
          evs.filter(expr(s"((ts - ${minTs}L) * 4) DIV ${span}L") === k)
            .repartition(1).write.mode("overwrite").parquet(tmp)
          val part = new java.io.File(tmp).listFiles()
            .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
            .getOrElse(throw new IllegalStateException(
              s"stagedEventChunks: no part file written to $tmp"))
          java.nio.file.Files.move(part.toPath,
            java.nio.file.Paths.get(stage, s"chunk-$k.parquet"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        } finally deleteStreamDir(tmp)
      }
      (stage, minTs, maxTs)
    }

  /** Copy staged chunk `k` into a run's watched dir as one atomically-
    * renamed file (the [[pushAtomic]] contract via copy-then-rename; the
    * dot-prefixed staging name is invisible to the FileStreamSource
    * while the bytes land). */
  private def pushStagedChunk(stage: String, k: Int, dir: String): Unit = {
    val tmp = java.nio.file.Paths.get(dir, s".staging-chunk-$k")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(stage, s"chunk-$k.parquet"), tmp)
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(dir, s"chunk-${pushSeq.incrementAndGet()}.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Bench build-phase warm for the staged stream chunks (s13 + s14). */
  def warmStreamChunks(spark: SparkSession, dir: String): Unit = {
    stagedEventChunks(spark, dir); ()
  }

  /** State-store partition count for the two real-streaming gates
    * (s13/s14): a per-QUERY plan-time property (the session conf is
    * restored right after start). The gates' wall is dominated by fixed
    * per-partition per-micro-batch state-store commit I/O, so fewer
    * partitions = less wall until commit parallelism is lost — swept in
    * round 15 (isolated REPEAT=3, pass-2/3, s13/s14): 32 → 15.5 s
    * (round-14 reading), 8 → 7.8/8.7 s, 4 → **6.9/7.7 s**, 2 → 7.9/8.6 s
    * (regresses: the per-batch commits serialize). Env override is the
    * sweep harness, not a tuning surface — the committed default IS the
    * measured optimum. At production state volumes the count must grow
    * with keyspace; these gates' state is tiny, so the floor is pure
    * commit overhead. */
  private def streamStateParts: String =
    sys.env.getOrElse("GRAFT_STREAM_STATE_PARTS", "4")

  /** State-store provider for the s13/s14 real-streaming gates, a
    * per-query plan-time property captured at `.start()` like the
    * partition count above. Default = Spark's HDFS-backed provider;
    * GRAFT_STREAM_STATE_PROVIDER overrides for the round-18 RocksDB
    * comparison sweep (VERDICT r17 #6 — adopt only on a ≥20% measured
    * steady win with identical oracle output; measured result in
    * SCALING.md). Env knob = sweep harness, not a tuning surface. */
  private def withStreamConfs[T](s: SparkSession)(start: => T): T = {
    val shufConf = s.conf.get("spark.sql.shuffle.partitions")
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val provConf = s.conf.getOption(provKey)
    s.conf.set("spark.sql.shuffle.partitions", streamStateParts)
    sys.env.get("GRAFT_STREAM_STATE_PROVIDER").foreach(s.conf.set(provKey, _))
    try start
    finally {
      s.conf.set("spark.sql.shuffle.partitions", shufConf)
      provConf match {
        case Some(v) => s.conf.set(provKey, v)
        case None => s.conf.unset(provKey)
      }
    }
  }

  /** The ≥0.8 minhash near-dup pair set, computed once per (session, dir):
    * d1 emits it and d5 clusters it — in a real pipeline the clustering
    * step consumes the pair stage's output, it does not re-shingle the
    * corpus. Cached as a materialized DataFrame (d5's CC conversion and
    * any recount reuse it). */
  /** Learned BPE merge table, once per (session, dir): t32 TRAINS it and
    * t33 applies it — the tokenizer-training twin of [[minhashPairs]]'
    * contract (the trainer owns the serial 12-round merge loop on its own
    * line; downstream consumers reuse the artifact). Unlike the d9/PQ
    * fixtures — INPUTS shared by many gates, owned by none — this table
    * IS t32's declared computation, so it is never pre-built in Bench's
    * untimed train phase: t32 retrains on every invocation (pass-1,
    * adjudication reruns, REPEAT passes all measure the same work) via
    * [[graft.util.SessionCache.refresh]], and t33 reads whatever the
    * memo holds (training it once itself if t32 never ran). Cached as
    * the collected rows: nMerges of them, the bounded-collect contract
    * bpeMerges itself documents. */
  private val bpeMergesCache =
    new graft.util.SessionCache[Seq[(Long, String, String, Long)]](maxEntries = 4)
  private def trainBpeMerges12(s: SparkSession, d: String): Seq[(Long, String, String, Long)] =
    bpeMergesCache.refresh(s, d)(bpeMerges12Body(s, d))
  private def bpeMerges12(s: SparkSession, d: String): Seq[(Long, String, String, Long)] =
    bpeMergesCache(s, d)(bpeMerges12Body(s, d))
  private def bpeMerges12Body(s: SparkSession, d: String): Seq[(Long, String, String, Long)] =
    graft.functions.TextAnalysis.bpeMerges(t(s, d, "documents"), nMerges = 12)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq

  private val pairsCache = new graft.util.SessionCache[DataFrame](
    maxEntries = 4, onEvict = _.unpersist(blocking = false))
  def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    pairsCache(spark, dir) {
      // The d1/d5 ORACLE equality (LSH+exact-verify == exact jaccard>=0.8
      // pair set) is an empirically-pinned property of the driver's
      // synthetic documents corpus (verified 100% recall at sf0.001-0.1,
      // deterministic seeds). On a different corpus the 2e-4 per-pair miss
      // probability can surface as an oracle hash mismatch that is NOT an
      // engine bug — log the assumption so such a mismatch is attributable.
      if (!dir.matches(".*sf0\\.(001|01|1)/?$"))
        System.err.println(s"[gate] d1/d5 oracle recall pinned on the sf* synthetic corpus; " +
          s"running on '$dir' may false-mismatch (approximate-by-design)")
      graft.functions.Dedup
        .minHashDuplicates(t(spark, dir, "documents"), threshold = 0.8).cache()
    }

  /** The a9/a12 LPA community assignment (4 rounds on the Placed +
    * NextOrder subgraph), computed once per (session, dir): a9 emits it
    * and a12 scores it — one body, one bench cost, no drift. */
  private val lpaCache = new graft.util.SessionCache[DataFrame](
    maxEntries = 4, onEvict = _.unpersist(blocking = false))
  private def lpaLabels(spark: SparkSession, dir: String): DataFrame =
    lpaCache(spark, dir) {
      val g = graph(spark, dir)
      val sub = g.copy(edges = g.edges.filter(col("label").isin(Placed, NextOrder)))
      graft.analytics.GraphAnalytics.labelPropagation(sub, numIter = 4).cache()
    }

  /** The a23/a24 SCC assignment on the id<400 mail subgraph, computed
    * once per session: a23 emits it, a24 layers its condensation — one
    * body, one bench cost, no drift (the lpaCache discipline). */
  private val sccCache = new graft.util.SessionCache[DataFrame](
    maxEntries = 2, onEvict = _.unpersist(blocking = false))
  private def mailSccs(spark: SparkSession): DataFrame =
    sccCache(spark, "mail400") {
      val path = graft.bench.MailGraph.generate("/tmp/graft_mail_data.txt")
      graft.analytics.GraphAnalytics.stronglyConnectedComponents(
        graft.bench.MailGraph.miwCached(spark, path).edges
          .filter(col("src") < 400 && col("dst") < 400)).cache()
    }

  /** The e17/e18 planted-cluster embedding corpus (round 13): 2,000
    * vectors, dim 64, 10 planted clusters — the clustered geometry the
    * driver's near-isotropic embeddings table deliberately lacks, and the
    * corpus class the sublinear mutual-kNN tier exists for (see the e17
    * gate note). Sizing: n matches the sf0.1 embeddings table (e18's
    * exact n² anchor then costs what e16 already costs, ~5 s, not the
    * 17 s a 4k corpus measured), and 10 clusters of 200 put the IVF
    * tier's recall at a DISCRIMINATING 0.964 (16 clusters saturate at
    * 1.000 — a rider pinned at 1.00 can't witness quality drift;
    * SCALING.md "Round 12 — … mutual-kNN on clustered geometry").
    * Generated by the fully
    * deterministic [[graft.tools.PlantedCorpus]] expressions and written
    * ONCE to a shared parquet path so the Spark gates and the DuckDB
    * oracle read the SAME file (the mail-CSV discipline —
    * /tmp/graft_mail_data.txt); the config is keyed into the path so a
    * config change can never silently read a stale corpus.
    * Write-to-tmp + rename keeps a crashed writer from leaving a
    * half-written corpus that the oracle would silently read. */
  private val PLANTED_PATH = "/tmp/graft_planted_embeddings_n2000_c10.parquet"
  private[graft] def plantedEmbeddings(spark: SparkSession): DataFrame = {
    val dir = new java.io.File(PLANTED_PATH)
    if (!new java.io.File(dir, "_SUCCESS").exists) {
      val tmp = PLANTED_PATH + ".tmp"
      graft.tools.PlantedCorpus.generate(spark, n = 2000, dim = 64, clusters = 10)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      if (!new java.io.File(tmp).renameTo(dir) && !new java.io.File(dir, "_SUCCESS").exists)
        throw new java.io.IOException(s"planted-corpus rename failed for $PLANTED_PATH")
    }
    spark.read.parquet(PLANTED_PATH)
  }

  /** Bench-warmup hooks for the shared analytics memos (round 13): the
    * a9/a12 LPA labels and the a23/a24 SCC assignment are session fixtures
    * consumed by two gates each — without a warm, whichever gate runs
    * first in sorted order absorbs the whole shared compute (BENCH_r12:
    * a12 read 51.6 s of 4-round LPA first-touch while a9 read 0.03 s;
    * a23 19.8 s). Bench calls these in its train phase and attributes the
    * cost to `train_sec`, exactly as the d9 centroid trainer was fixed in
    * round 12 (24.8 → 6.4 s). Each drains the memoized frame so the cache
    * is materialized, not merely planned. */
  def warmLpa(spark: SparkSession, dir: String): Unit =
    lpaLabels(spark, dir).count()
  def warmSccs(spark: SparkSession): Unit =
    mailSccs(spark).count()

  private val graphCache = new graft.util.SessionCache[PropertyGraph](
    maxEntries = 4, onEvict = _.edges.unpersist(blocking = false))
  def graph(spark: SparkSession, dir: String): PropertyGraph =
    graphCache(spark, dir) {
      val g = buildGraph(spark, dir)
      g.copy(edges = g.edges.cache())
    }

  def buildGraph(spark: SparkSession, dir: String): PropertyGraph = {
    val orders = t(spark, dir, "orders")
    val lineitem = t(spark, dir, "lineitem")
    val placed = orders.select(col("o_custkey").cast("long").as("src"),
      (col("o_orderkey") + ORDER_BASE).cast("long").as("dst"))
    val contains = lineitem.select((col("l_orderkey") + ORDER_BASE).cast("long").as("src"),
      (col("l_partkey") + PART_BASE).cast("long").as("dst")).distinct()
    val supplied = lineitem.select((col("l_partkey") + PART_BASE).cast("long").as("src"),
      (col("l_suppkey") + SUPP_BASE).cast("long").as("dst")).distinct()
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val nextOrder = orders
      .select((col("o_orderkey") + ORDER_BASE).cast("long").as("src"),
        (lead(col("o_orderkey"), 1).over(w) + ORDER_BASE).cast("long").as("dst"))
      .filter(col("dst").isNotNull)
    Seq(
      Loaders.fromEdgeDF(placed, Placed, mirror = true, ranges),
      Loaders.fromEdgeDF(contains, Contains, mirror = true, ranges),
      Loaders.fromEdgeDF(supplied, SuppliedBy, mirror = true, ranges),
      Loaders.fromEdgeDF(nextOrder, NextOrder, mirror = false, ranges)
    ).reduce((a, b) => a.copy(edges = a.edges.unionByName(b.edges)))
  }

  // Money: exact decimal accumulation, double on the way out.
  private def dsum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,2)")).cast("double")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core --------------------------------------------------
    "q1_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem").groupBy(col("l_returnflag"), col("l_linestatus")).agg(
        count(lit(1)).as("count_order"),
        sum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1) - col("l_discount").cast("decimal(3,2)"))).cast("double").as("sum_disc_price"))
    }),
    "q2_revenue_by_nation" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer"); val n = t(s, d, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
    }),
    "q3_top_customers" -> ((s, d) => {
      val o = t(s, d, "orders"); val c = t(s, d, "customer")
      o.groupBy(col("o_custkey")).agg(dsum(col("o_totalprice")).as("total_spent"))
        .join(broadcast(c), col("o_custkey") === c("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("total_spent"))
        .orderBy(desc("total_spent"), col("c_custkey"))
        .limit(10)
    }),
    "q4_first_events_per_user" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      events(s, d).withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("rn").cast("long").as("rn")) // DuckDB ROW_NUMBER() is BIGINT
    }),
    "q5_customers_with_orders" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q6_customers_without_orders" -> ((s, d) => {
      t(s, d, "customer").join(t(s, d, "orders").select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q7_events_hourly" -> ((s, d) => {
      // ts is nanos-since-epoch LONG (see `events`); hour bucket in seconds.
      events(s, d).groupBy(
          expr("ts DIV 3600000000000 * 3600").as("hour_ts"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
    }),
    "q8_orders_by_year_priority" -> ((s, d) => {
      t(s, d, "orders").groupBy(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }),
    "q9_rollup_totals" -> ((s, d) => {
      t(s, d, "orders")
        .rollup(year(col("o_orderdate")).cast("long").as("o_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
    }),
    "q10_scalar_functions" -> ((s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        upper(col("o_orderpriority")).as("prio_u"),
        expr("substring(o_orderpriority, 1, 1)").as("prio_code"),
        length(col("o_orderpriority")).cast("long").as("prio_len"),
        concat_ws("-", col("o_orderstatus"), col("o_orderpriority")).as("status_prio"),
        date_add(col("o_orderdate"), 30).as("due_date"),
        quarter(col("o_orderdate")).cast("long").as("o_quarter"))
    }),
    "q11_analytic_windows" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, d, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1, 0.0).over(w).as("prev_price"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_total"),
        count(lit(1)).over(Window.partitionBy(col("o_custkey"))).as("n_orders"))
    }),

    // ---- graph queries through the cypher engine --------------------------
    "g1_building_customer_orders" -> ((s, d) => {
      val g = graph(s, d)
      val building = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").cast("long").as("id"))
      Query.paths(g, nodesDF(building) --| edge(attr(Placed)) |--> labels(ORDER))
        .select(col("n0"), col("n1"))
    }),
    "g2_parts_of_customer_orders" -> ((s, d) => {
      val g = graph(s, d)
      val custs = t(s, d, "customer").filter(col("c_custkey") <= 20)
        .select(col("c_custkey").cast("long").as("id"))
      Query.paths(g, nodesDF(custs) --| edge(attr(Placed)) |--> labels(ORDER)
          --| edge(attr(Contains)) |--> labels(PART))
        .select(col("n0"), col("n2")).distinct()
    }),
    "g3_out_degrees" -> ((s, d) => {
      // forward-only graph: per-(node,label) out-degree relation
      val g = graph(s, d)
      g.copy(edges = g.edges.filter(col("dir"))).degrees
        .filter(col("label").isin(Placed, Contains))
    }),
    "g4_union_overlap" -> ((s, d) => {
      val o = t(s, d, "orders")
      val a = o.filter(col("o_orderstatus") === "O")
      val b = o.filter(col("o_totalprice") > 100000.0)
      def edgesOf(df: DataFrame) = df.select(col("o_custkey").cast("long").as("src"),
        (col("o_orderkey") + ORDER_BASE).cast("long").as("dst"))
      val g = GraphOps.union(
        Loaders.fromEdgeDF(edgesOf(a), Placed, mirror = false, ranges),
        Loaders.fromEdgeDF(edgesOf(b), Placed, mirror = false, ranges))
      g.edges.select(col("src"), col("dst"))
    }),
    "g5_second_next_order" -> ((s, d) => {
      // exactly two NextOrder hops: final-frontier repetition semantics
      val g = graph(s, d)
      Query.paths(g, labels(ORDER) --| edge(attr(NextOrder), several(2, 2)) |--> labels(ORDER))
        .select(col("n0"), col("n1"))
    }),
    "g6_orders_to_customer_backedges" -> ((s, d) => {
      // walk the mirrored Placed edges right-to-left: order ← customer
      val g = graph(s, d)
      Query.paths(g, labels(ORDER) <--| edge(attr(Placed)) |-- labels(CUSTOMER))
        .select(col("n0").as("order_node"), col("n1").as("cust_node"))
    }),
    "g7_part_suppliers_3hop" -> ((s, d) => {
      val g = graph(s, d)
      val custs = t(s, d, "customer").filter(col("c_custkey") <= 5)
        .select(col("c_custkey").cast("long").as("id"))
      Query.paths(g, nodesDF(custs) --| edge(attr(Placed)) |--> labels(ORDER)
          --| edge(attr(Contains)) |--> labels(PART)
          --| edge(attr(SuppliedBy)) |--> labels(SUPPLIER))
        .select(col("n0"), col("n3")).distinct()
    }),

    "g8_dml_roundtrip" -> ((s, d) => {
      // §2.2's point-mutation surface as an ORACLE gate (previously
      // unit-only): deleteNodes → deleteEdges → upsert insertEdges →
      // overlayLabels composed through the REAL GraphOps APIs on the
      // Placed subgraph, then the final forward edge set. Every
      // selector is a deterministic modulus (no data-dependent driver
      // lists); the oracle replays the identical sequence as SQL set
      // operations, so append/upsert keys, both-direction deletes, and
      // the attrMask OR are all hash-checked, not just unit-pinned.
      import graft.operators.GraphOps
      val g0full = graph(s, d)
      val g0 = g0full.copy(edges = g0full.edges.filter(col("label") === Placed))
      val orders = t(s, d, "orders")
      // 1. drop 15 customers (literal ids; at small sf the absent ones
      //    make the filter a partial no-op — same on both sides)
      val g1 = GraphOps.deleteNodes(g0, (0L until 15L).map(_ * 100 + 77))
      // 2. drop the Placed edge of every 97th order (both directions)
      val delPairs = orders.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_custkey").cast("long").as("src"),
          (col("o_orderkey") + ORDER_BASE).cast("long").as("dst"))
      val g2 = GraphOps.deleteEdges(g1, delPairs)
      // 3. upsert: customer 1 claims every 101st order (new forward rows;
      //    the upsert key (src,dst,label,dir) replaces only exact dupes)
      val ins = orders.filter(col("o_orderkey") % 101 === 0)
        .select(lit(1L).as("src"),
          (col("o_orderkey") + ORDER_BASE).cast("long").as("dst"),
          lit(Placed).as("label"), lit(1L << Placed).as("attrMask"),
          lit(true).as("dir"))
      val g3 = GraphOps.insertEdges(g2, ins, overwrite = true)
      // 4. overlay bit 6 onto every 103rd order's original Placed pair
      val ovl = orders.filter(col("o_orderkey") % 103 === 0)
        .select(col("o_custkey").cast("long").as("src"),
          (col("o_orderkey") + ORDER_BASE).cast("long").as("dst"))
      GraphOps.overlayLabels(g3, ovl, 1L << 6)
        .edges.filter(col("dir"))
        .select(col("src"), col("dst"), col("label"), col("attrMask"))
    }),

    "g11_orth_overlay_match" -> ((s, d) => {
      // §2.5's orthogonal-bitmask EDSL matching as an ORACLE gate
      // (previously unit-only): overlay bit 6 onto every 103rd order's
      // Placed edge, then match with orth(Placed) ONLY — the subset
      // rule (attrMask ⊆ orthMask AND ≠ 0, Cypher.hs:255-266) accepts
      // the untouched edges (mask 2 ⊆ 2) and REJECTS the overlaid ones
      // (66 ⊄ 2), so both the overlay plumbing and the bitmask
      // predicate are hash-checked through the full query path.
      import graft.operators.GraphOps
      val g0full = graph(s, d)
      val g0 = g0full.copy(edges = g0full.edges.filter(col("label") === Placed))
      val ovl = t(s, d, "orders").filter(col("o_orderkey") % 103 === 0)
        .select(col("o_custkey").cast("long").as("src"),
          (col("o_orderkey") + ORDER_BASE).cast("long").as("dst"))
      val g1 = GraphOps.overlayLabels(g0, ovl, 1L << 6)
      Query.paths(g1, labels(CUSTOMER) --| edge(orth(Placed)) |--> labels(ORDER))
        .select(col("n0"), col("n1"))
    }),
    "g13_unbounded_reachability" -> ((s, _) => {
      // §2.5's `***` (several 1 ∞, Cypher.hs:276-277) as an ORACLE gate
      // (previously unit-only): the unbounded-repetition fixpoint on a
      // CYCLIC graph — the a23 mail cut (95-vertex SCC + 3-cycle), where
      // the visited-set early exit is load-bearing (without it the loop
      // never dries). Start node 6 sits INSIDE the big SCC, so the walk
      // must traverse cycles and still terminate; closure = 180 nodes.
      // Engine contract pinned here: the start seeds the visited set, so
      // it is NOT in its own closure even on a cycle (frontier depth ≥ 1).
      val path = graft.bench.MailGraph.generate("/tmp/graft_mail_data.txt")
      val g0 = graft.bench.MailGraph.miwCached(s, path)
      val g = g0.copy(edges = g0.edges.filter(col("src") < 400 && col("dst") < 400))
      Query.paths(g, nodes32(6) --|
          edge(attr(graft.bench.MailGraph.MAILED), several(1, Int.MaxValue)) |--> anyNode)
        .select(col("n1").as("id"))
    }),
    "g12_createmem_diff" -> ((s, d) => {
      // §2.6's query-driven-update result mode as an ORACLE gate
      // (previously unit-only): the SortNodes.hs:53-69 shape — an
      // appl-rewired traversal whose (src, dst', label) triples are
      // novel, so createMem's GraphDiff carries real work on both
      // sides. Every customer's Placed targets are remapped to
      // ORDER_BASE + (orderkey % 1000); newEdges = remapped triples
      // absent from the edge relation (the upsert's append set),
      // deletedEdges = forward Placed edges whose (src, label, dir)
      // slot is overwritten (insertNodeEdgeAttr overwrite=True,
      // Cypher.hs:866-889). The oracle replays both set ops over the
      // same orders table, so the diff SEMANTICS — not just row counts
      // — are hash-checked.
      val pat = labels(CUSTOMER) --| edge(attr(Placed)) |--> labels(ORDER)
        .appl(df => df.withColumn("n1",
          lit(ORDER_BASE) + (col("n1") - lit(ORDER_BASE)) % 1000))
      val diff = Query.createMem(graph(s, d), pat)
      diff.newEdges.select(lit("new").as("kind"), col("src"), col("dst"), col("label"))
        .unionByName(
          diff.deletedEdges.select(lit("del").as("kind"), col("src"), col("dst"), col("label")))
    }),
    "g14_temp_nested_layers" -> ((s, d) => {
      // §2.6's nested result mode (reference `temp`, Cypher.hs:473-479)
      // as an ORACLE gate (previously unit-only): the 2-hop customer →
      // order → part walk's per-layer (prefix, children) views,
      // flattened with explode_outer so the quick-view contract — a
      // prefix whose branch dries up keeps an EMPTY child list (the
      // reference's Nodes2..9 nesting with empty sublists) — is itself
      // hash-checked: an orderless customer must emit (1, cust, -1, -1),
      // not vanish. -1 sentinels replace NULLs on both sides.
      val custs = t(s, d, "customer").filter(col("c_custkey") <= 20)
        .select(col("c_custkey").cast("long").as("id"))
      val layers = Query.temp(graph(s, d),
        nodesDF(custs) --| edge(attr(Placed)) |--> labels(ORDER)
          --| edge(attr(Contains)) |--> labels(PART))
      val l1 = layers(0).select(lit(1L).as("layer"), col("n0"), lit(-1L).as("n1"),
        explode_outer(col("children")).as("child"))
      val l2 = layers(1).select(lit(2L).as("layer"), col("n0"), col("n1"),
        explode_outer(col("children")).as("child"))
      l1.unionByName(l2).na.fill(-1L, Seq("child"))
    }),
    "g10_graph_query_subgraph" -> ((s, d) => {
      // §2.6's subgraph-extraction result mode as an ORACLE gate — the
      // op the REFERENCE STUBBED (Cypher.hs:895-898 returns its input;
      // real here): every edge lying on a matched 2-hop path, recovered
      // through the per-step (n_{k-1}, n_k, e_label) projection and the
      // semi-join back to the edge relation. The oracle rebuilds both
      // hop edge sets with the full-match constraint (an order with no
      // part drops its hop-1 edge — inner-join path semantics).
      val g = graph(s, d)
      val custs = t(s, d, "customer").filter(col("c_custkey") <= 20)
        .select(col("c_custkey").cast("long").as("id"))
      Query.graphQuery(g, nodesDF(custs) --| edge(attr(Placed)) |--> labels(ORDER)
          --| edge(attr(Contains)) |--> labels(PART))
        .edges.select(col("src"), col("dst"), col("label"))
    }),
    "g15_planned_strategy" -> ((s, d) => {
      // §2.6's PLANNED strategy (reference runOnE, Cypher.hs:711-785) as
      // an ORACLE gate (previously unit/property-only — the driver had
      // never executed the planner): customer → order → part with an
      // explicit small id set at the PATTERN END, so the real-cardinality
      // planner provably starts at layer 2 (40 ids vs 10^4-10^5 label
      // counts) and expands LEFTWARD twice — the reference's useLeft
      // semantics (Cypher.hs:777-782), here the dst-side join over the
      // same oriented rows. The expansion order is asserted in-gate
      // (build-breaking if the planner stops reordering), and the result
      // hash must equal the quick twin's SQL replay — planned ≡ quick
      // under target-spec intersection.
      val g = graph(s, d)
      val pat = (labels(CUSTOMER) --| edge(attr(Placed)) |--> labels(ORDER)
        --| edge(attr(Contains)) |--> nodes32((1L to 40L).map(PART_BASE + _): _*))
      val order = Exec.planExpansionOrder(g, pat)
      require(order == Vector(2, 1, 0),
        s"g15 precondition: planner must start at the 40-id layer and walk " +
          s"leftward (got $order) — the gate exists to execute that path")
      Query.paths(g, pat, quick = false)
        .select(col("n0"), col("n1"), col("n2")).distinct()
    }),
    "g16_where_predicate" -> ((s, d) => {
      // §2.5's `where_` (reference Cypher.hs:268-270, applied :840-849)
      // as an ORACLE gate (previously unit-only): BOTH predicate forms
      // through the full query path. Hop 1 filters on the FULL edge view
      // (whereEdge: target-node mod-3 — drops ~2/3 of the Placed rows);
      // hop 2 is attr-less and selects Contains purely via the label
      // predicate (where_: rejects the NextOrder rows that also leave an
      // order forward) — both predicates are load-bearing: removing
      // either changes the result set. The oracle replays them as SQL
      // WHERE clauses over the same tables.
      val g = graph(s, d)
      Query.paths(g, labels(CUSTOMER)
          --| edge(attr(Placed), whereEdge(v => v.dst % 3 === 0)) |--> labels(ORDER)
          --| edge(where_(l => l === Contains)) |--> anyNode)
        .select(col("n0"), col("n1"), col("n2")).distinct()
    }),
    "g17_bucketed_reopen" -> ((s, d) => {
      // §2.1's persistence round-trip (reference listToDB/fromDB,
      // JudyGraph.hs:160-203) as an ORACLE gate (previously unit-only):
      // save the TPC graph BUCKETED by src (saveBucketed — the zero-
      // Exchange adjacency layout, PlanSpec-pinned), reopen it through
      // the catalog, and traverse the RELOADED graph. Hop 1 matches via
      // orth(Placed) — the bitmask subset rule — so the attrMask column's
      // round-trip fidelity is itself hash-checked (a mask corrupted to 0
      // matches nothing); hop 2 checks label + endpoint fidelity. The
      // oracle is the in-memory twin's SQL (g2's shape), so reload ≡
      // original is the hashed claim.
      val g0 = graph(s, d)
      // hex of the raw hash: math.abs(Int.MinValue) is still negative (an
      // invalid unquoted identifier char in the table name), and hex keeps
      // all 32 bits so distinct data dirs can't alias by sign-folding
      val tag = java.lang.Integer.toHexString(d.hashCode)
      graft.sources.Loaders.saveBucketed(g0, s"graft_g17_$tag", s"/tmp/graft_g17_$tag")
      val g = graft.sources.Loaders.loadBucketed(s, s"graft_g17_$tag", ranges)
      val custs = t(s, d, "customer").filter(col("c_custkey") <= 20)
        .select(col("c_custkey").cast("long").as("id"))
      Query.paths(g, nodesDF(custs) --| edge(orth(Placed)) |--> labels(ORDER)
          --| edge(attr(Contains)) |--> labels(PART))
        .select(col("n0"), col("n2")).distinct()
    }),
    "g18_planned_middle" -> ((s, d) => {
      // The planner's SIDE-CHOICE itself as an ORACLE gate (VERDICT r14
      // #5): g15 pins the planner starting at a cheap pattern END (both
      // expansions forced leftward by the boundary); here the 40-id set
      // sits in the MIDDLE — customer → 40 ORDER ids → part — so the
      // first expansion is a genuine cost-model decision between the two
      // frontier-adjacent steps (the reference's useLeft tie-break,
      // Cypher.hs:777-782; our stepCost over real label-edge stats,
      // Exec.scala:planExpansionOrder). Contains carries ~4× the edge
      // rows of Placed at every TPC-H sf, so the planner must expand
      // LEFT first (Vector(1, 0, 2)) — one left and one right expansion,
      // both directions hash-covered by the quick twin's SQL replay.
      val g = graph(s, d)
      val pat = (labels(CUSTOMER) --| edge(attr(Placed))
        |--> nodes32((1L to 40L).map(ORDER_BASE + _): _*)
        --| edge(attr(Contains)) |--> labels(PART))
      val order = Exec.planExpansionOrder(g, pat)
      require(order == Vector(1, 0, 2),
        s"g18 precondition: planner must start at the 40-id MIDDLE layer, " +
          s"expand left (Placed ~4x cheaper than Contains), then right " +
          s"(got $order) — the gate exists to execute that path")
      Query.paths(g, pat, quick = false)
        .select(col("n0"), col("n1"), col("n2")).distinct()
    }),
    "g9_csv_dict_ingest" -> ((s, d) => {
      // §2.1's string-keyed CSV ingest as an ORACLE gate (previously
      // unit-only): write a deterministic CSV (every 3rd order's target
      // blanked — exercising the reference's skip-malformed Left path
      // via the null filter), ingest through the REAL Loaders.fromCSV
      // (header parse → null skip → sorted-distinct dense dictionary →
      // two resolve joins), emit the resolved (src, dst) id pairs. The
      // oracle rebuilds the dictionary as ROW_NUMBER() OVER the same
      // binary name ordering — the id assignment rule itself is
      // hash-checked. Path is per-sf so concurrent sf dirs in one
      // session never clobber each other's lazily-read CSV. The CSV is a
      // deterministic input FIXTURE — staged once per (session, dir) via
      // the chunk-stage discipline (round 19): re-writing it through
      // coalesce(1) on every execution was the gate's top stage at 10×
      // (one 1.1 s task), and it measures the fixture writer, not the
      // ingest operator.
      val path = g9CsvCache(s, d) {
        // collision-resistant staging key: the write is memoized per
        // (session, dir), so two sf dirs colliding on a 32-bit hashCode
        // would silently serve each other's CSV — key on a SHA-256 of
        // the full dir path instead
        val sha = java.security.MessageDigest.getInstance("SHA-256")
          .digest(d.getBytes("UTF-8")).take(12).map("%02x".format(_)).mkString
        val p = s"/tmp/graft_g9_csv_$sha"
        t(s, d, "orders").select(
            concat(lit("c"), col("o_custkey")).as("sname"),
            when(col("o_orderkey") % 3 === 0, lit(null))
              .otherwise(concat(lit("o"), col("o_orderkey"))).as("dname"))
          .coalesce(1).write.mode("overwrite").option("header", "true").csv(p)
        p
      }
      val (g, _) = graft.sources.Loaders.fromCSV(s, path, "sname", "dname",
        label = 1, mirror = false,
        ranges = Seq(graft.model.RangeDef(0, 10000000L, 0, Seq(1))))
      g.edges.filter(col("dir")).select(col("src"), col("dst"))
    }),

    // ---- text / documents -------------------------------------------------
    "t1_token_counts" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long").as("n_tokens"))
    }),
    "t2_dedup_exact" -> ((s, d) => {
      // the library operator, not an inline twin — so the gate actually
      // exercises Dedup.exact (incl. its null-text filter; the corpus has
      // no null texts, so the oracle's WHERE clause is a no-op there)
      graft.functions.Dedup.exact(t(s, d, "documents"))
    }),
    "t3_doc_stats" -> ((s, d) => {
      t(s, d, "documents").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"), min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"), sum(col("n_chars")).as("sum_chars"))
    }),
    "t4_quality_scores" -> ((s, d) => {
      // engine-specific regex/scoring → rows-only check
      graft.functions.TextAnalysis.qualityFeatures(t(s, d, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
          col("stopword_ratio"), col("punct_ratio"), col("alpha_ratio"),
          col("repetition"), col("quality_score"))
    }),
    "t5_lang_id" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"),
        graft.functions.TextAnalysis.langId(col("text")).as("lang_pred"))
    }),
    "t6_fingerprints" -> ((s, d) => {
      // md5-winnowing variant → the fingerprint VALUE is oracle-checked
      // (the xxhash64 form stays the production default).
      // wideT (round 17): the md5-winnowing projection FUSES into the
      // parquet scan, whose parallelism is the row-group count — one
      // small file = ONE task (measured 9.6 s, CPU = wall); widened it
      // reads 0.5 s. The OTHER documents gates keep the plain read:
      // they re-read the relation through joins/aggregations, and the
      // measured cost of re-paying the exchange per reuse exceeds the
      // scan win everywhere except this pure per-row projection.
      wideT(s, d, "documents").select(col("doc_id"),
        graft.functions.TextAnalysis.fingerprintMd5(col("text")).as("fp"),
        graft.functions.TextAnalysis.tokenCountBpe(col("text")).as("n_bpe_tokens"))
    }),
    "d1_minhash_near_dups" -> ((s, d) => {
      // Near-dup bar 0.8 — the canonical shingle-Jaccard near-dup range,
      // and the regime LSH banding is FOR: this corpus's baseline pair
      // jaccard is ~0.2 (measured 12.5M co-occurring pairs at sf0.1), so a
      // 0.3 bar sits barely above baseline and any recall-certain banding
      // degenerates to brute force. At 0.8 the default 16×4 banding prunes
      // baseline pairs 53× while P(miss | j=0.8) = (1-0.8^4)^16 ≈ 2e-4 —
      // and the pipeline is deterministic (fixed xxhash64 seeds), so the
      // observed 100% recall vs the exact pair set is a fixed property of
      // this corpus, making the output equal the EXACT jaccard ≥ 0.8 set
      // the DuckDB oracle computes.
      minhashPairs(s, d)
    }),
    "t10_interleave_sources" -> ((s, d) => {
      // 4:2:1 mix of three sources; mix_key realizes the ratios in any
      // prefix of the (mix_key, shard, doc_id) order
      graft.functions.TextAnalysis.interleaveSources(t(s, d, "documents"),
        Map("src0" -> 4, "src1" -> 2, "src2" -> 1), scale = 4)
    }),
    "t9_decontamination" -> ((s, d) => {
      // probes = distinctive mid-document 40-char slices of 5 docs (the
      // "benchmark set"); hits include each probe's own source doc plus any
      // document sharing the slice (near-dup clones)
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("probe_id"),
          substring(col("text"), 20, 40).as("probe"))
        .filter(length(col("probe")) === 40)
      graft.functions.TextAnalysis.findContamination(docs, probes)
        .select(col("doc_id"), col("probe_id"))
    }),
    "t11_repetition" -> ((s, d) => {
      // Gopher-rule repetition features; the corpus has no newlines, so
      // the line/paragraph columns gate the null/empty edge semantics
      // while top_token_frac / top_bigram_frac carry the real signal
      // (measured 0.05-0.30 across the synthetic docs)
      graft.functions.TextAnalysis.repetitionFeatures(t(s, d, "documents"))
    }),
    "t14_token_stats" -> ((s, d) => {
      // per-source corpus report: totals, vocabulary, hapax mass — the
      // numbers a pipeline reads before choosing mixing weights
      graft.functions.TextAnalysis.corpusTokenStats(t(s, d, "documents"))
    }),
    "t15_length_stats" -> ((s, d) => {
      graft.functions.TextAnalysis.corpusLengthStats(t(s, d, "documents"))
    }),
    "t16_pii" -> ((s, d) => {
      // corpus is synthetic word soup (zero PII hits) — the gate pins the
      // zero-count/identity-text engine parity; pattern semantics are
      // pinned by unit tests on constructed inputs
      graft.functions.TextAnalysis.redactPii(t(s, d, "documents"))
        .select(col("doc_id"), col("n_emails"), col("n_ipv4s"), col("n_phones"),
          col("text_redacted"))
    }),
    "t12_normalize" -> ((s, d) => {
      // NFC (native graft_nfc expression) + whitespace collapse + trim;
      // DuckDB's nfc_normalize pins TR#15 conformance engine-to-engine
      graft.functions.TextAnalysis.normalizeText(t(s, d, "documents"))
        .select(col("doc_id"), col("text_norm"))
    }),
    "t13_ngram_decontam" -> ((s, d) => {
      // GPT-3-style n-gram decontamination; n=3 with 80-char probe slices
      // (a token-boundary-cutting slice still shares its interior grams
      // with the source doc, unlike the verbatim-substring t9)
      val docs = t(s, d, "documents")
      val probes = docs.filter(col("doc_id") < 5)
        .select(col("doc_id").as("probe_id"), substring(col("text"), 20, 80).as("probe"))
      graft.functions.TextAnalysis.findContaminationNgrams(docs, probes, n = 3)
    }),
    "t7_deterministic_sample" -> ((s, d) => {
      t(s, d, "documents")
        .filter(graft.functions.TextAnalysis.sampleByHash(col("doc_id"), 0.25))
        .select(col("doc_id"))
    }),
    "t8_pack_sequences" -> ((s, d) => {
      // token formula mirrors t1's space-count (exact in any SQL engine)
      graft.functions.TextAnalysis.packSequences(t(s, d, "documents"), 2048,
        length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
    }),
    "d7_dedup_against" -> ((s, d) => {
      // cross-corpus dedup: odd doc_ids are the "new batch", even the
      // "reference corpus" (sf-independent split). The cross-side exact
      // ≥0.8 pair set is a subset of d1's full pair set, so the 100%-recall
      // pinning of the LSH pipeline on this corpus carries over.
      val docs = t(s, d, "documents")
      graft.functions.Dedup.dedupAgainst(
        docs.filter(col("doc_id") % 2 === 1),
        docs.filter(col("doc_id") % 2 === 0), threshold = 0.8)
    }),
    "t17_token_budget" -> ((s, d) => {
      // 800 tokens per source (sources carry ~1250+ at every sf, so the
      // budget always cuts mid-group); token formula = t1's space count
      graft.functions.TextAnalysis.tokenBudgetSample(t(s, d, "documents"), 800,
        length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
    }),
    "t18_length_filter" -> ((s, d) => {
      graft.functions.TextAnalysis.adaptiveLengthFilter(
        t(s, d, "documents"), lo = 0.05, hi = 0.95)
    }),
    "t19_surprisal" -> ((s, d) => {
      graft.functions.TextAnalysis.unigramSurprisal(t(s, d, "documents"))
    }),
    "t21_tfidf" -> ((s, d) => {
      // top-10 exercises the rank window (the usual sparse truncation);
      // ranking is on the unrounded weight with term tiebreak, so the
      // cut is deterministic on both engines
      graft.functions.TextAnalysis.tfidfTerms(t(s, d, "documents"), topM = 10)
    }),
    "t22_bm25" -> ((s, d) => {
      // default k1=1.2, b=0.75 (the standard Okapi operating point)
      graft.functions.TextAnalysis.bm25Terms(t(s, d, "documents"), topM = 10)
    }),
    "t23_dsir_weights" -> ((s, d) => {
      // DSIR importance weights against an in-corpus stand-in target
      // (docs with doc_id % 3 = 0 — deterministic, any engine agrees);
      // in production the target is the small high-quality corpus
      val docs = t(s, d, "documents")
      graft.functions.TextAnalysis.dsirWeights(docs,
        docs.filter(col("doc_id") % 3 === 0))
    }),
    "t26_bigram_surprisal" -> ((s, d) => {
      // perplexity proxy one conditioning level above t19: rare
      // TRANSITIONS score high even when every word is common
      graft.functions.TextAnalysis.bigramSurprisal(t(s, d, "documents"))
    }),
    "t27_heavy_hitters" -> ((s, d) => {
      // corpus-wide frequent tokens at φ = 0.2% — the boilerplate/
      // stop-token report behind dedup-threshold and vocab decisions.
      // Exact tier (O(vocab) exchange) is the oracle-able gate; the
      // bounded-memory Misra–Gries route is equality-pinned in
      // PipelineSpec for the huge-vocab regime.
      graft.functions.TextAnalysis.heavyHitters(t(s, d, "documents"), phi = 0.002)
    }),
    "t28_c4_filters" -> ((s, d) => {
      // C4 cleaning rules need line/punctuation structure the synthetic
      // single-line corpus lacks — derive it IN-QUERY (the t20 idiom):
      // six deterministic lines per doc (punctuated slices, a too-short
      // line, and doc_id-keyed javascript / lorem-ipsum / brace
      // injections), oracle replicates the derivation byte-for-byte.
      // minSentences=3 so the javascript-line docs (2 kept sentences)
      // fail the page rule, not just the line rule.
      val derived = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n",
          concat(substring(col("text"), 1, 40), lit(".")),
          substring(col("text"), 41, 20),
          lit("short one."),
          when(col("doc_id") % 7 === 0, lit("enable javascript to view."))
            .otherwise(concat(substring(col("text"), 61, 30), lit("?"))),
          when(col("doc_id") % 11 === 0, lit("lorem ipsum dolor sit amet."))
            .otherwise(concat(substring(col("text"), 91, 25), lit("!"))),
          when(col("doc_id") % 13 === 0, lit("function f() { return 1; }"))
            .otherwise(lit(""))).as("text"))
      graft.functions.TextAnalysis.c4Filters(derived, minSentences = 3)
    }),
    "t38_readability" -> ((s, d) => {
      // Flesch reading-ease per doc — the oracle replicates the
      // vowel-group syllable heuristic and sentence-split floor
      graft.functions.TextAnalysis.readabilityFeatures(t(s, d, "documents"))
    }),
    "t41_chunking" -> ((s, d) => {
      // overlapping 64-token windows, 16-token overlap (stride 48): the
      // RAG-ingestion view of the corpus — 694 chunks from 500 docs at
      // sf0.01, so single-chunk docs, multi-chunk docs and short tails
      // are all present in the hash
      graft.functions.TextAnalysis.chunkDocuments(
        t(s, d, "documents"), chunkTokens = 64, overlapTokens = 16)
    }),
    "t42_mixture_rebalance" -> ((s, d) => {
      // weights chosen so the corpus exercises both regimes at sf0.01:
      // src0's target (0.8 · 3000 = 2400 tokens > its ~1435 available)
      // caps at rate 1.0 (all 25 docs kept, incl. any 'ffffffff' key),
      // src1-3 get fractional rates ~0.11-0.19, the other 16 sources
      // carry weight 0 and are dropped entirely
      graft.functions.TextAnalysis.mixtureRebalance(
        t(s, d, "documents"),
        Map("src0" -> 2.0, "src1" -> 0.25, "src2" -> 0.125, "src3" -> 0.125),
        budgetTokens = 3000L)
    }),
    "t39_distinct_tokens" -> ((s, d) => {
      // exact per-source distinct token count — the hash-checked twin of
      // the t40 HLL sketch tier
      graft.functions.TextAnalysis.distinctTokenCounts(t(s, d, "documents"))
    }),
    "t40_distinct_tokens_sketch" -> ((s, d) => {
      // Datasketches-HLL tier (lgK 12): mergeable bounded-size partials —
      // the 100 TB distinct-count shape. No DuckDB oracle (different HLL
      // implementation); SketchSpec pins shard-merge == one-pass estimate
      // EXACTLY and ≤5% error vs the exact t39 twin
      graft.functions.TextAnalysis.distinctTokenEstimates(t(s, d, "documents"))
    }),
    "t43_source_overlap" -> ((s, d) => {
      // exact pairwise source trigram-set Jaccard — the corpus-level
      // contamination/redundancy audit (190 pairs at 20 sources,
      // zero-overlap pairs included); hash-checked twin of the t44
      // MinHash sketch tier. wideT (round 18): the shingle explode fuses
      // into the 10-split scan (10-way on 32 cores; SCALING.md "Round
      // 18: the … sweep, industrialized (all 157 gates)");
      // measured 5.96 -> ~3.4 s at 10x. Per-gate, not blanket: the same
      // flip measured FLAT-TO-WORSE on d11/t26/e13 (join- and
      // explode-output-heavy pipelines where the exchange cost eats the
      // scan win — the r17 t14/d13 finding again, SCALING.md)
      graft.functions.TextAnalysis.sourceOverlap(wideT(s, d, "documents"), n = 3)
    }),
    "t44_source_overlap_sketch" -> ((s, d) => {
      // mergeable per-source MinHash tier (k=64, Broder estimator): one
      // linear min-combined pass, |sources| sketch rows, pairwise
      // estimates independent of corpus size — the 100 TB cross-dump
      // audit shape. No DuckDB oracle (an estimator, not a computation
      // DuckDB replicates); SketchSpec pins shard-merge == one-pass
      // EXACTLY and estimator error vs the exact t43 twin. wideT: the
      // t43 rationale (measured 4.26 -> ~2.5 s at 10x, round 18)
      graft.functions.TextAnalysis.sourceOverlapEstimates(
        graft.functions.TextAnalysis.sourceMinHashSketches(
          wideT(s, d, "documents"), n = 3, numHashes = 64))
    }),
    "t37_vocab" -> ((s, d) => {
      // frequency-ranked vocab with 4 reserved special ids and a
      // minCount=2 floor — deterministic total order, hash-green
      graft.functions.TextAnalysis.buildVocab(
        t(s, d, "documents"), minCount = 2)
    }),
    "t36_perplexity_buckets" -> ((s, d) => {
      // CCNet head/middle/tail tiering: per-language NTILE(3) over the
      // t19 unigram surprisal — the oracle chains the t19 body into the
      // identical deterministic (surprisal, doc_id) window
      graft.functions.TextAnalysis.perplexityBuckets(t(s, d, "documents"))
    }),
    "t35_textrank" -> ((s, d) => {
      // TextRank keywords: PageRank (5 rounds, a5's exact form) over the
      // window-2 co-occurrence graph at minCount=5 — the oracle chains
      // the t31 pair-extraction CTE into the a5 PR unroll
      graft.functions.TextAnalysis.textRankKeywords(t(s, d, "documents"))
    }),
    "t34_naive_bayes" -> ((s, d) => {
      // multinomial NB source classifier, trained and scored on the
      // corpus — the oracle replicates the count → smooth → ln-sum →
      // argmax pipeline with the identical corpus tokenization
      graft.functions.TextAnalysis.naiveBayesClassify(t(s, d, "documents"))
    }),
    "t33_bpe_token_counts" -> ((s, d) => {
      // the learned t32 merges APPLIED: per-doc real BPE token counts —
      // segmentation replayed over the distinct-word table only, one
      // word-keyed join back to the corpus. Merges come from the shared
      // session memo ([[bpeMerges12]], round 21): in a real pipeline the
      // tokenizer is trained once and then applied — re-training the
      // identical 12 ranks here doubled the serial merge-loop cost
      // (12 × (pair-count job + argmax collect + checkpoint), the
      // gate's dominant wall at sf0.1; the minhashPairs discipline:
      // t32 sorts first and owns the build).
      graft.functions.TextAnalysis.bpeTokenCounts(t(s, d, "documents"),
        bpeMerges12(s, d).map { case (_, x, y, _) => (x, y) })
    }),
    "t32_bpe_merges" -> ((s, d) => {
      // BPE merge-rule learning, 12 ranks over the documents corpus —
      // the oracle unrolls the identical count → argmax → greedy-fuse
      // rounds (the replace-based fuse is the cross-engine contract).
      // TRAINER gate: always retrains ([[trainBpeMerges12]] refreshes
      // the shared memo), so this line owns the 12-round merge loop on
      // every invocation — pass-1, adjudication reruns and REPEAT
      // passes measure the same declared work; t33 reuses the artifact.
      import s.implicits._
      trainBpeMerges12(s, d).toDF("rank", "left", "right", "pair_count")
    }),
    "t31_collocations" -> ((s, d) => {
      // PMI collocations at minCount=5 over the documents corpus — the
      // oracle replicates the chr(1)-joined bigram idiom (t26's, with
      // its documented separator-collision caveat) and both totals
      graft.functions.TextAnalysis.collocations(t(s, d, "documents"))
    }),
    "t30_gopher_filters" -> ((s, d) => {
      // Gopher document-quality rules over a t28-style derived corpus
      // (the single-line synthetic docs lack bullets/ellipses/symbol
      // spam): doc_id-keyed injections exercise every rule — %7 docs
      // get two bullet lines (trip bulletMax=0.4), %11 an ellipsis line
      // (1 of 4 non-empty lines = 0.25 trips ellipsisMax=0.2), %13 a
      // '#'-spam line (trips symbol ratio 0.1), %5 lose the stopword
      // sentence (trip minStopHits=2 — the corpus vocabulary holds only
      // 'the'/'a' of the required eight), and short docs fail
      // minWords=25. Oracle replicates the derivation byte-for-byte.
      val derived = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n",
          when(col("doc_id") % 7 === 0, concat(lit("- "), substring(col("text"), 1, 60)))
            .otherwise(substring(col("text"), 1, 60)),
          when(col("doc_id") % 7 === 0, concat(lit("- "), substring(col("text"), 61, 30)))
            .otherwise(substring(col("text"), 61, 30)),
          when(col("doc_id") % 11 === 0, concat(substring(col("text"), 91, 20), lit("...")))
            .otherwise(substring(col("text"), 91, 20)),
          when(col("doc_id") % 5 === 0, lit("big data scan merge sort"))
            .otherwise(lit("it was the best of times and that i have been with you to see more")),
          when(col("doc_id") % 13 === 0, lit("# # # # # # # # # # # #"))
            .otherwise(lit(""))).as("text"))
      graft.functions.TextAnalysis.gopherFilters(derived, minWords = 25,
        maxBulletFrac = 0.4, maxEllipsisFrac = 0.2)
    }),
    "t29_corpus_entropy" -> ((s, d) => {
      // per-source token-distribution entropy + normalized form — the
      // diversity half of the t14/t15 mixing-weight report
      graft.functions.TextAnalysis.corpusEntropy(t(s, d, "documents"))
    }),
    "t24_stratified_sample" -> ((s, d) => {
      // mixture re-weighting: named strata get their own keep rate, the
      // remaining 17 sources ride the default; a doc's membership is a
      // pure (doc_id, source) function, unchanged when OTHER strata's
      // rates are retuned
      t(s, d, "documents")
        .filter(graft.functions.TextAnalysis.stratifiedSampleByHash(
          col("doc_id"), col("source"),
          Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.125), default = 0.25))
        .select(col("doc_id"), col("source"))
    }),
    "t25_weighted_sample" -> ((s, d) => {
      // weight-proportional acceptance: keep-probability ∝ token count
      // (t1's exact space-count formula — portable in any engine; the
      // t4 quality score is deliberately NOT used here: its regex
      // features are engine-specific, which is why t4 itself is a
      // rows-only gate), capped at 1. In production the weight column
      // is a quality or classifier score.
      val w = least(lit(1.0),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("double") / 128.0)
      t(s, d, "documents")
        .select(col("doc_id"), w.as("keep_weight"))
        .filter(graft.functions.TextAnalysis.weightedSampleByHash(
          col("doc_id"), col("keep_weight")))
    }),
    "t20_line_dedup" -> ((s, d) => {
      // CCNet cross-doc line dedup needs multi-line docs with lines that
      // repeat across docs; the corpus is single-line with unique texts,
      // so derive both in-query: bucket 5 docs per synthetic doc, each
      // contributing its 24-char text prefix as a line plus a blank line.
      // Prefixes repeat across buckets on this corpus (23 boilerplate
      // lines at sf0.01) and the blanks pin the never-boilerplate
      // contract. Exactly expressible in DuckDB (string_agg ORDER BY).
      val docs = t(s, d, "documents").filter(col("text").isNotNull)
      val synth = docs
        .select(expr("doc_id div 5").cast("long").as("bid"), col("doc_id"),
          concat(substring(col("text"), 1, 24), lit("\n")).as("piece"))
        .groupBy(col("bid"))
        .agg(concat_ws("\n", transform(
          array_sort(collect_list(struct(col("doc_id"), col("piece")))),
          x => x.getField("piece"))).as("text"))
        .select(col("bid").as("doc_id"), col("text"))
      graft.functions.Dedup.dedupLines(synth, minDocs = 2)
    }),
    "d5_dedup_clusters" -> ((s, d) => {
      // pairs → connected-component duplicate families with a min-id keeper
      // (keep emitted as INT: both engines render 0/1 identically)
      graft.functions.Dedup.duplicateClusters(minhashPairs(s, d))
        .select(col("doc_id"), col("cluster_id"), col("keep").cast("int").as("keep"))
    }),
    "d8_dedup_keepers" -> ((s, d) => {
      // the APPLY step of pairs → families → keepers: corpus anti-joined
      // against d5's non-keepers — the deduplicated corpus itself (ids
      // only; the text column would bloat the dump). Completes the d1 →
      // d5 → d8 pipeline as oracle gates.
      graft.functions.Dedup.keepRepresentatives(t(s, d, "documents"),
        graft.functions.Dedup.duplicateClusters(minhashPairs(s, d)))
        .select(col("doc_id"))
    }),
    "d2_simhash_signatures" -> ((s, d) => {
      // md5-nibble variant: bit-identical in any engine with md5 + string
      // ops, so the signature itself is oracle-checked (the xxhash64 form
      // stays the production default; both share the explode+sum shape)
      graft.functions.Dedup.simHashMd5(t(s, d, "documents"))
    }),
    "d3_ngram_jaccard_pairs" -> ((s, d) => {
      // trigrams: Σdf² (the postings-join row count) is 26× smaller than
      // bigrams on this corpus, and 3-grams are the standard near-dup unit
      graft.functions.Dedup.ngramJaccardPairs(t(s, d, "documents"), n = 3, threshold = 0.3)
    }),
    "d14_ngram_jaccard_banded" -> ((s, d) => {
      // the SCALE route the d3 guard recommends — banded minhash over the
      // same df-capped trigram identity, exact gram-set verify on
      // candidates only. At (bands=64, rows=1) the per-pair miss odds at
      // threshold 0.3 are (0.7)^64 ≈ 1e-10, so it shares d3's EXACT
      // oracle (hash-green, not rows-only) while its join volume scales
      // with duplicate mass, never Σdf² — the clone-corpus-safe tier.
      graft.functions.Dedup.ngramJaccardPairsBanded(
        t(s, d, "documents"), n = 3, threshold = 0.3)
    }),
    "d13_containment_pairs" -> ((s, d) => {
      // asymmetric near-subset pairs: same trigram identity as d3, but
      // containment |A∩B|/|A| — catches the quote/excerpt class whose
      // Jaccard stays under d3's bar (the union is dominated by the
      // longer side)
      graft.functions.Dedup.ngramContainmentPairs(
        t(s, d, "documents"), n = 3, threshold = 0.5)
    }),
    "d10_dup_ngrams" -> ((s, d) => {
      // per-doc corpus-duplication report (Lee et al. exact-substring
      // dedup at word granularity): 5-grams, the paper's reporting unit
      // order of magnitude; d3's pair tier answers "which docs match",
      // this answers "how much of EACH doc is duplicated anywhere"
      graft.functions.Dedup.crossDocNgramStats(t(s, d, "documents"), n = 5)
    }),
    "d11_dup_ngram_removal" -> ((s, d) => {
      // the removal action behind d10's report: rewrite docs dropping
      // every token covered by a cross-doc-duplicated 5-gram (Lee et
      // al. exact-substring dedup, word granularity)
      graft.functions.Dedup.dropDuplicatedNgrams(t(s, d, "documents"), n = 5)
    }),
    "d12_leakage_split" -> ((s, d) => {
      // train/test split where a near-dup family never straddles the
      // boundary: d5's families + t7's portable md5-hex rule applied to
      // the FAMILY id — decontamination by construction (a per-document
      // hash split lets two near-copies land on opposite sides)
      graft.functions.Dedup.leakageSafeSplit(
        t(s, d, "documents"), minhashPairs(s, d), testFrac = 0.25)
    }),
    "e14_mmr_rerank" -> ((s, d) => {
      // MMR diversified top-5 from a top-20 relevance shortlist at
      // λ=0.7 — the oracle unrolls the identical greedy rounds
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.mmrTopK(
        emb.filter(col("vec_id") < 50), emb, k = 5, lambda = 0.7, candidates = 20)
    }),
    "e13_random_projection" -> ((s, d) => {
      // JL dimensionality reduction 64 → 16 against the seeded
      // deterministic matrix; the oracle embeds the IDENTICAL literal
      // planes (one generator, projectionPlanes, builds both sides).
      // 6-dp round on the projections is the gate's cross-engine
      // FP-accumulation absorber (the a5/a11 convention).
      // Emitted UNNESTED as (vec_id, pos, value) — the gate-output rule
      // is scalar columns only (the driver's row sorter cannot order
      // ARRAY cells); a null embedding keeps its 16 positions with a
      // null value so row counts match the per-plane oracle UNION.
      val outDim = 16
      val nullProj = array(Seq.fill(outDim)(lit(null).cast("double")): _*)
      graft.functions.Similarity.randomProject(t(s, d, "embeddings"), outDim = outDim)
        .select(col("vec_id"), posexplode(coalesce(col("proj"), nullProj)).as(Seq("pos", "value")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          round(col("value"), 6).as("value"))
    }),
    "e12_kmeans_clusters" -> ((s, d) => {
      // k-means as a first-class pipeline op (corpus bucketing /
      // curriculum binning / SemDeDup's substrate): 2 deterministic
      // Lloyd rounds from md5-ordered seeds, centroid values rounded
      // 6 dp at every boundary so the DuckDB oracle replays the
      // identical trajectory — a HASH-green clustering gate, not a
      // rows-only one
      graft.functions.Similarity.kmeansAssign(
        t(s, d, "embeddings"), k = 8, iters = 2)
    }),
    "e11_ann_filtered_topk" -> ((s, d) => {
      // FILTERED vector search: top-k restricted to a metadata predicate
      // (label even), centroids trained on the full corpus, predicate
      // pushed into the corpus scan. Full probe makes the tier exactly
      // filtered brute force (the e5 identity) — hash-green, not
      // rows-only; the pruned/indexed variants are unit-pinned.
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.ivfTopK(
          emb.filter(col("vec_id") < 50), emb, k = 10,
          nCentroids = 16, nProbe = 16, lloydIters = 2,
          corpusFilter = Some(col("label") % 2 === 0))
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),
    "e1_ann_bruteforce_topk" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.bruteForceTopK(
          emb.filter(col("vec_id") < 50), emb, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),
    // e17/e18 (round 13): the IVF mutual-kNN tier, gated on the corpus
    // class it exists for. On the driver's near-ISOTROPIC embeddings
    // table every sublinear tier measured strictly worse than the exact
    // e16 scan (round-11 negative result, MutualKnnProbe/SCALING.md:
    // IVF ≤ 0.78 recall at ≥ exact wall, projected 0.96 at 3.6× wall) —
    // a gate there would ship a measured loss. But that is the corpus,
    // not the operator: on planted-cluster geometry (the real-embedding
    // corpus class) the tier holds 0.988 recall at 0.17× the exact wall
    // at n=10k (SCALING.md "Round 12 — … mutual-kNN on clustered
    // geometry"). So the gates run on
    // the deterministic planted corpus: e18 is the exact anchor with a
    // full DuckDB oracle over the SAME parquet file, e17 is the IVF
    // tier (no_oracle rows check + the e17-vs-e18 bench recall rider +
    // the RecallSpec floor).
    "e18_mutual_knn_planted_exact" -> ((s, _) => {
      // edge list only, like e16: pair membership is the rank property
      graft.functions.Similarity.mutualKnnGraph(plantedEmbeddings(s), k = 10)
        .select(col("a"), col("b"))
    }),
    "e17_mutual_knn_ivf" -> ((s, _) => {
      // 2 of 16 centroids probed = 8× fewer scored pairs than the exact
      // scan (recall 0.964 on this corpus, RecallSpec floor 0.90); single
      // assignment (nAssign=2 measured ~1% recall for 2× candidates)
      graft.functions.Similarity.mutualKnnGraphIvf(plantedEmbeddings(s),
          k = 10, nCentroids = 16, nProbe = 2, nAssign = 1)
        .select(col("a"), col("b"))
    }),
    "e16_mutual_knn" -> ((s, d) => {
      // corpus-wide mutual-kNN graph (exact tier): pair membership is a
      // rank property (the hash-green e1 precedent), so the gate emits
      // the edge list only — cosine stays engine-side
      graft.functions.Similarity.mutualKnnGraph(t(s, d, "embeddings"), k = 10)
        .select(col("a"), col("b"))
    }),
    "e15_ann_projected_topk" -> ((s, d) => {
      // two-stage coarse-to-fine on the e1 config: JL-projected 64→32
      // prefilter scan (2× narrower), ADAPTIVE 0.4·n shortlist, exact
      // full-dimension re-rank to top-10. Rows-only gate like e2/e7;
      // quality = the e15_vs_e1 recall rider + the RecallSpec floor.
      // Swept in ProjectedRecallProbe: outDim 16 / fixed-40 measured
      // 0.358; 32 with 0.4·n holds 0.924 at sf0.01 AND 0.954 at sf0.1
      // (a FIXED 200 decayed to 0.67 at sf0.1 — shortlists must scale
      // with the corpus on this near-isotropic data).
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.projectedTopK(
        emb.filter(col("vec_id") < 50), emb, k = 10, outDim = 32, shortlist = -1)
    }),
    "e7_ann_pq_topk" -> ((s, d) => {
      // product-quantization ADC over the same query/corpus/k config as
      // the e1 exact twin: 16 subspaces × 64 codewords = 96-bit codes, a
      // ~21× compressed corpus scan at dim 64, then the IVFADC+R exact
      // re-rank (ADC top-80 shortlist → full-vector exact dot → top-10).
      // Rows-only gate like e2/e4/d4; quality = the emitted e7_vs_e1
      // recall: 0.628 pure-ADC → 0.998 with rerank=8 at sf0.01, 0.972
      // at sf0.1 — wall FLAT-to-lower with the larger shortlist (the
      // shortlist only has to rank true neighbors in the top 4k, which
      // quantization error rarely breaks; SCALING.md has the
      // rerank-sweep table).
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.pqTopK(
          emb.filter(col("vec_id") < 50), emb, k = 10,
          nSub = 16, nCodes = 64, lloydIters = 2, rerank = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),
    "e8_ann_ivfpq_topk" -> ((s, d) => {
      // the IVF-PQ composition: sublinear candidates (8 of 16 partitions
      // probed, soft nAssign=2) + compressed ADC scoring (e7's 96-bit
      // codes) + the IVFADC+R exact re-rank over the shortlist. Recall
      // is coverage-capped (~0.73 at the old nProbe=4 and ~0.87 at
      // nProbe=6, no matter the rerank — a neighbor in an unprobed
      // partition never reaches the shortlist), so the knobs split the
      // work: nProbe/nAssign buy coverage, rerank fixes ADC mis-ordering
      // inside it. Round-12 coverage sweep (E8CoverageProbe, sf0.1,
      // steady): nProbe 6→8 lifts 0.874→0.926 at FLAT wall (5.9 s both —
      // probe cost is not the bottleneck at this corpus), nAssign 3
      // reaches 0.934-0.964 but triples the index (each vector stored in
      // its 3 nearest partitions — the wrong 100 TB trade when the
      // query-side knob is free). Quality = the emitted e8_vs_e1 recall.
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.ivfPqTopK(
          emb.filter(col("vec_id") < 50), emb, k = 10,
          nCentroids = 16, nProbe = 8, nSub = 16, nCodes = 64,
          lloydIters = 2, nAssign = 2, rerank = 8)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),
    "e9_ann_sq8_topk" -> ((s, d) => {
      // scalar-quantization tier between brute force and PQ: every dim
      // squeezed to ONE BYTE between its corpus min/max, asymmetric
      // scoring (query exact, corpus decoded inside the dot), exact
      // norms beside the codes — a 4× smaller exhaustive scan whose
      // ~0.2%/dim reconstruction error barely moves top-k. PURE SQ8
      // (rerank=0): the gate measures the tier's own ordering quality
      // (recall e9_vs_e1 in the bench rider); the rerank knob exists
      // and is pinned exact in PipelineSpec. Rows-only like e2/e4/e7.
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.sq8TopK(
          emb.filter(col("vec_id") < 50), emb, k = 10)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),
    "e10_ann_ivfsq8_topk" -> ((s, d) => {
      // IVF-SQ8 (FAISS "IVF,SQ8"): the e4 coarse quantizer (16 cells,
      // probe 8 since round 12 — the shared coverage knob moves with
      // e4's, soft nAssign=2) scanning byte codes instead of floats —
      // sublinear candidates AND a 4× compressed scan, no rerank so the
      // recall rider measures the composed tier itself (≈ e4 coverage ×
      // e9 quality). Rows-only like e2/e4/e9.
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.ivfSq8TopK(
          emb.filter(col("vec_id") < 50), emb, k = 10,
          nCentroids = 16, nProbe = 8, nAssign = 2, lloydIters = 3)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),
    "e2_ann_lsh_topk" -> ((s, d) => {
      // full Hamming-1 + Hamming-2 multi-probe at COARSER buckets
      // (round-11 E2Probe sweep): on this isotropic corpus a 10-bit
      // signature spreads true neighbors past even full H2 probing
      // (0.600 at bits=10/tables=4; MORE bits made it worse, 0.588 at
      // 12), while 8 bits × 8 tables with the full 37-bucket probe set
      // measures 0.960 at the SAME wall — probing covers Hamming ≤ 2 of
      // 8 bits, a much larger fraction of signature space. Per-bucket
      // join shape unchanged; candidates still bucket-bounded.
      // History: 0.024 unprobed (r8) → 0.202 H1 → 0.514 H1+H2 (r9) →
      // 0.960 (r11).
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.lshTopK(
        emb.filter(col("vec_id") < 50), emb, k = 10, dim = 64, bits = 8, tables = 8,
        probes = 8, probes2 = 28)
    }),
    "e4_ann_ivf_topk" -> ((s, d) => {
      // lloydIters=3: extra Lloyd refinement is INDEX-BUILD cost only
      // (probe cost unchanged), recall 0.514 → 0.548; plateau ~0.550 by 5
      // iters — the residual was CORPUS-side: boundary vectors indexed in
      // one cluster the query's probe set misses. nAssign=2 (redundant
      // corpus assignment, 2× indexed rows — the standard spill-tree
      // redundancy factor, honest at 100 TB where nAssign multiplies the
      // index size) recovers them: recall 0.548 → 0.764 at sf0.01 / 0.782
      // at sf0.1 (0.874/0.884 at nAssign=3 — the knob, not the default).
      // nProbe=8 (round 12, E4Probe — the e8 coverage lesson applied to
      // its sibling): query-side coverage is the cheap lever — 8/16
      // partitions still sublinear, index size UNCHANGED, recall
      // 0.904 → 0.940 at sf0.1 / 0.888 → 0.952 at sf0.01 with wall
      // FLAT-to-lower (0.97 → 0.84 s); nAssign=3 measured similar
      // recall at 1.4× wall AND 1.5× index — the wrong side of the
      // trade when the query-side knob is free
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.ivfTopK(
        emb.filter(col("vec_id") < 50), emb, k = 10, nCentroids = 16, nProbe = 8,
        lloydIters = 3, nAssign = 2)
    }),
    "d9_semantic_dedup" -> ((s, d) => {
      // SemDeDup cluster-local pairs at the d4/d6 threshold: approximate
      // by cluster boundary (rows-only gate, like e2/e4/d4); quality is
      // tracked as recall vs the d6 exact twin in verify_meta.json.
      // nClusters = -1 → k = ceil(n/256), the constant-cluster-size
      // default: at the sf0.1 bench scale (2,000 vectors) that is the
      // same k=8 as round 8; at sf0.01 (500 vectors) it coarsens to k=2;
      // at 16× data it keeps per-cluster pair work constant instead of
      // 256×. nAssign = 3 → soft assignment (each vector in its 3
      // nearest clusters): boundary pairs recovered, recall vs d6
      // measured 0.277 (hard) → 0.716 (2) → 0.953 (3) at k=8, wall flat
      // (7-9 s either way at sf0.1, D9Probe round 11), pair cost bounded
      // by nAssign²/k — the documented sweet spot before the 0.997 of
      // nAssign=4 stops paying for its bound
      graft.functions.Similarity.semanticDedup(
        t(s, d, "embeddings"), threshold = 0.35, nClusters = -1, nAssign = 3)
        .select(col("doc_a"), col("doc_b"))
    }),
    "d17_semantic_dedup_auto" -> ((s, d) => {
      // d9's SCALE-DEFAULT configuration (round 16): nAssign = -1 measures
      // the soft-assignment width on the trained model instead of pinning
      // the k=8-tuned 3 (Similarity.calibratedAssignWidth — the fix for
      // the r15 10× finding that the manual width reads recall 0.507 once
      // k grows to 79). d9 stays the manual-config gate; this gate is the
      // artifact that carries the AUTO tier's recall in the bench rider
      // and verify_meta at every scale the driver runs (rows-only gate;
      // floors in RecallSpec/ScaleRecallSpec, exact twin d6). At driver
      // sf0.1 the probe resolves width 4 (recall 0.996 vs manual-3's
      // 0.956); at 10× it resolves 9 (0.977 vs 0.507) — D9ScaleRecallProbe.
      graft.functions.Similarity.semanticDedup(
        t(s, d, "embeddings"), threshold = 0.35, nClusters = -1, nAssign = -1)
        .select(col("doc_a"), col("doc_b"))
    }),
    "d4_embedding_near_dups" -> ((s, d) => {
      // synthetic embeddings top out at pairwise cosine ~0.5, so the
      // "near-dup" bar is 0.35 here; bits = -1 → bucket width sized from
      // the corpus (log2(n/32)) — the scale-correct default: fixed bits
      // measured 8.2× wall at 4× data, adaptive keeps bucket work
      // constant. probes = -1 → full Hamming-1 at the resolved width
      // (round 9): recall vs d6 0.738 → 1.000 at sf0.01 for ~+0.5 s —
      // the probe list rides the query side of each bucket join only
      // tables = -1 (round 15): scale the table count with the adaptive
      // bits — the r15 probe measured recall 0.417 at 10× with the
      // 1×-tuned tables=8 (each adaptive bit multiplies a threshold-pair's
      // per-table hit rate by 1 − θ/π) and 0.99 back at the formula's
      // resolved count; identical to tables=8 at every driver sf (the
      // formula floors at 8 until the corpus outgrows the n=2000 anchor).
      // probes2 = -1 (round 16, SCALING.md "Round 16: the crossover
      // becomes executable — and d4's recall price halved"): auto Hamming-2
      // probing past the anchor — H2 probes buy per-table coverage far
      // cheaper than tables, so the H2-aware formula resolves 16 tables
      // at 10× instead of 58 for the SAME recall at less wall (probe
      // shape: 0.977 @ 22.5 s vs 0.975 @ 47.1 s on a checkpointed
      // corpus; bench shape: 57.3 → 41.9 s steady at sf1, recall rider
      // 0.975 → 0.977); still byte-identical at every driver sf (auto
      // H2 stays 0 until the resolved width passes 6 bits)
      graft.functions.Similarity.cosineDuplicates(
        t(s, d, "embeddings"), threshold = 0.35, dim = 64, bits = -1, tables = -1,
        probes = -1, probes2 = -1)
    }),
    // ---- degenerate-exact configurations of the approximate tiers: at
    // nProbe = nCentroids / zero-bit signatures / exhaustive pairs, the
    // approximate MACHINERY (assignment, probing, bucket joins, dedup,
    // windows) must reproduce the exact result — hash-checked gates for
    // the code paths whose production configs (e2/e4/d4) are rows-only
    // by approximation design.
    "e5_ann_ivf_exact" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.ivfTopK(
          emb.filter(col("vec_id") < 50), emb, k = 10, nCentroids = 16, nProbe = 16)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),
    "e6_ann_lsh_exact" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.lshTopK(
          emb.filter(col("vec_id") < 50), emb, k = 10, dim = 64, bits = 0, tables = 1)
        .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"))
    }),
    "d16_exact_dedup_against" -> ((s, d) => {
      // exact decontamination via broadcast Bloom prefilter + text-equality
      // verify — "which crawl docs already sit in the reference set". The
      // reference is sampled FROM the corpus (doc_id % 5 = 0) so overlap is
      // guaranteed at every sf (the synthetic corpus has no cross-doc exact
      // dups at sf0.01); fpp 0.2 makes Bloom false positives near-certain
      // at this scale, so hash-green REQUIRES the verify stage to strip
      // them — the gate checks the exactness claim, not just the plumbing
      val docs = t(s, d, "documents")
      graft.functions.Dedup.exactDedupAgainstBloom(
        docs, docs.filter(col("doc_id") % 5 === 0), fpp = 0.2)
    }),
    "d15_semantic_decontam" -> ((s, d) => {
      // embedding-space decontamination, exhaustive verification tier:
      // corpus = vec_id < 400, held-out reference = vec_id >= 400, the
      // d6 threshold/rounding conventions; the LSH-bucketed scale tier
      // is unit-pinned against this exact form
      val emb = t(s, d, "embeddings")
      graft.functions.Similarity.semanticDecontam(
        emb.filter(col("vec_id") < 400), emb.filter(col("vec_id") >= 400),
        threshold = 0.35, dim = 64, exhaustive = true)
    }),
    "d6_embedding_dups_exact" -> ((s, d) => {
      // vec_id < 1000 bounds the deliberately-quadratic verification tier
      // in the bench (covers the whole corpus at the sf0.01 gate scale)
      graft.functions.Similarity.cosineDuplicates(
          t(s, d, "embeddings").filter(col("vec_id") < 1000),
          threshold = 0.35, dim = 64, exhaustive = true)
        .select(col("doc_a"), col("doc_b"), round(col("cosine"), 6).as("cosine"))
    }),
    "e3_embedding_cluster_stats" -> ((s, d) => {
      // per-label centroid norms: exercises vector math with a DuckDB oracle
      t(s, d, "embeddings").groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          avg(graft.functions.Similarity.l2Norm(col("embedding"))).as("avg_norm"))
        .select(col("label"), col("n")) // avg_norm dropped: fp-order-dependent
    }),

    // ---- streaming-shaped (same transforms run on readStream) -------------
    "s1_sliding_window_counts" -> ((s, d) => {
      graft.streaming.EventStreams
        .slidingUserActivity(events(s, d), "1 hour", "30 minutes")
        .select(unix_timestamp(col("win_start")).as("win_s"), col("user_id"), col("n_events"))
    }),
    "s12_session_stats" -> ((s, d) => {
      import s.implicits._
      // the engagement-vs-conversion curve over s2's sessions — one
      // compact band table the oracle replicates end to end
      val evs = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.EventStreams.Event]
      graft.streaming.EventStreams.sessionStats(evs, gapNanos = 3600L * 1000000000L)
    }),
    "s2_user_sessions" -> ((s, d) => {
      import s.implicits._
      val evs = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[graft.streaming.EventStreams.Event]
      // session bounds reported at µs: DuckDB truncates TIMESTAMP_NS to µs,
      // so the oracle can only compare at that precision (gap logic stays ns)
      graft.streaming.EventStreams.sessionize(evs, gapNanos = 3600L * 1000000000L).toDF()
        .select(col("user_id"), expr("start_ts DIV 1000").as("start_us"),
          expr("end_ts DIV 1000").as("end_us"), col("n_events"), col("n_purchases"))
    }),

    "s13_sessionize_stream" -> ((s, d) => {
      // The REAL streaming path as an ORACLE gate (previously the s-family
      // oracles all executed batch bodies; streaming parity lived only in
      // memory-sink units): sessionizeStream executed through an actual
      // `readStream` file source fed in four ts-ordered chunks (state
      // genuinely crosses micro-batch boundaries) plus one far-future
      // sentinel event that advances the watermark past every session end
      // + gap, firing the event-time timeouts that close the tail
      // sessions. Chunk k+1's min ts >= chunk k's max ts (value-based ts
      // cuts), so the 1 s watermark can never drop a real event. The gate
      // asserts row-set equality with the batch sessionize body BEFORE
      // emitting, then emits the STREAM's rows in the s2 projection — the
      // oracle hash checks the stream output itself.
      import s.implicits._
      import graft.streaming.EventStreams
      val gap = 3600L * 1000000000L
      val evs = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      // chunks + bounds from the session stage ([[stagedEventChunks]] —
      // empty-table require lives there): pushes are file copies, so the
      // gate's wall is the STREAM, not four repeated repartition(1) writes
      val (stage, _, maxTs) = stagedEventChunks(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft_s13").toString
      def push(df: DataFrame): Unit = pushAtomic(df, dir) // one file, renamed in — see pushAtomic
      pushStagedChunk(stage, 0, dir)
      val qname = s"graft_s13_out_${s13Runs.incrementAndGet()}"
      val src = EventStreams.readEventStream(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Event]
      // the stream's state partition count is fixed at plan time from
      // spark.sql.shuffle.partitions; 32 partitions × 7 micro-batches =
      // 224 state-store commits of fixed I/O that dominate this gate's
      // wall (the data is small) — 8 is plenty for the state volume and
      // is a per-QUERY property (the session conf is restored right
      // after start; batch gates are unaffected)
      val q = withStreamConfs(s) {
        EventStreams.sessionizeStream(src, gapNanos = gap, watermarkDelay = "1 second")
          .writeStream.outputMode("append").format("memory").queryName(qname).start()
      }
      try {
        q.processAllAvailable()
        (1 to 3).foreach { k => pushStagedChunk(stage, k, dir); q.processAllAvailable() }
        // TWO sentinels: the first advances the watermark past every
        // session end + gap; event-time timeouts fire on the NEXT batch
        // after the watermark moves, so the second triggers that batch
        push(Seq(EventStreams.Event(-1L, maxTs + 100 * gap, -1L, "view", 0.0)).toDF())
        q.processAllAvailable()
        push(Seq(EventStreams.Event(-2L, maxTs + 101 * gap, -2L, "view", 0.0)).toDF())
        q.processAllAvailable()
      } finally { q.stop(); deleteStreamDir(dir) }
      val streamed = s.table(qname).filter(col("user_id") >= 0L)
        .select(col("user_id"), col("start_ts"), col("end_ts"),
          col("n_events"), col("n_purchases")).localCheckpoint(true)
      val batch = EventStreams.sessionize(evs.as[EventStreams.Event], gap).toDF()
        .select(col("user_id"), col("start_ts"), col("end_ts"),
          col("n_events"), col("n_purchases"))
      // multiset symmetric difference in ONE job: signed-count aggregation
      // (exceptAll both ways costs two)
      val sessionCols = Seq("user_id", "start_ts", "end_ts", "n_events", "n_purchases")
      val diverged = streamed.withColumn("__s", lit(1))
        .unionByName(batch.withColumn("__s", lit(-1)))
        .groupBy(sessionCols.map(col): _*).agg(sum(col("__s")).as("d"))
        .filter(col("d") =!= 0).count()
      require(diverged == 0,
        s"s13: stream/batch sessionization diverged on $diverged session rows " +
          "— streaming parity broken")
      streamed.select(col("user_id"), expr("start_ts DIV 1000").as("start_us"),
        expr("end_ts DIV 1000").as("end_us"), col("n_events"), col("n_purchases"))
    }),

    "s14_sliding_window_stream" -> ((s, d) => {
      // The WATERMARKED WINDOW-AGGREGATION streaming family through the
      // real path (VERDICT r14 #6): s13 covers custom state
      // (flatMapGroupsWithState + event-time timeout); this gate runs
      // s1's sliding-window body — withWatermark + groupBy(window(...)) —
      // through an actual readStream file source in four ts-ordered
      // chunks, so window partials genuinely accumulate in the streaming
      // aggregation state store across micro-batches. Append mode emits a
      // window only once the watermark (2 h delay, s1's own setting)
      // passes its END — the two far-future sentinels advance it past
      // every real window, then trigger the emitting batch. Chunk k+1's
      // min ts >= chunk k's max ts (value cuts), so no real event is ever
      // late. Batch parity is asserted in-gate (one-job signed-count
      // diff); the STREAM's rows are what the oracle hashes — s1's SQL,
      // so stream ≡ batch ≡ SQL is the checked chain.
      import s.implicits._
      import graft.streaming.EventStreams
      val hourNs = 3600L * 1000000000L
      val evs = events(s, d)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      // staged chunks shared with s13 ([[stagedEventChunks]]) — same
      // quartile cuts, one session write, per-run file copies
      val (stage, _, maxTs) = stagedEventChunks(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft_s14").toString
      def push(df: DataFrame): Unit = pushAtomic(df, dir) // one file, renamed in — see pushAtomic
      pushStagedChunk(stage, 0, dir)
      val qname = s"graft_s14_out_${s14Runs.incrementAndGet()}"
      val src = EventStreams.readEventStream(s, dir)
      // state partitions are a per-query plan-time property (the s13
      // rationale: fixed per-partition state-store commit I/O dominates
      // at gate scale); session conf restored right after start
      val q = withStreamConfs(s) {
        EventStreams.slidingUserActivity(src, "1 hour", "30 minutes")
          .writeStream.outputMode("append").format("memory").queryName(qname).start()
      }
      try {
        q.processAllAvailable()
        (1 to 3).foreach { k => pushStagedChunk(stage, k, dir); q.processAllAvailable() }
        // TWO sentinels (the s13 rule): the first advances the watermark
        // past every real window end + 2 h delay; emission happens on the
        // batch AFTER the watermark moves, so the second triggers it
        push(Seq(EventStreams.Event(-1L, maxTs + 100 * hourNs, -1L, "view", 0.0)).toDF())
        q.processAllAvailable()
        push(Seq(EventStreams.Event(-2L, maxTs + 101 * hourNs, -2L, "view", 0.0)).toDF())
        q.processAllAvailable()
      } finally { q.stop(); deleteStreamDir(dir) }
      val proj = Seq(unix_timestamp(col("win_start")).as("win_s"),
        col("user_id"), col("n_events"))
      val streamed = s.table(qname).filter(col("user_id") >= 0L)
        .select(proj: _*).localCheckpoint(true)
      val batch = EventStreams.slidingUserActivity(evs, "1 hour", "30 minutes")
        .select(proj: _*)
      // multiset symmetric difference in ONE job (the s13 rule)
      val diverged = streamed.withColumn("__s", lit(1))
        .unionByName(batch.withColumn("__s", lit(-1)))
        .groupBy(col("win_s"), col("user_id"), col("n_events"))
        .agg(sum(col("__s")).as("d")).filter(col("d") =!= 0).count()
      require(diverged == 0,
        s"s14: stream/batch sliding-window aggregation diverged on $diverged " +
          "window rows — streaming aggregation parity broken")
      streamed
    }),

    "s4_event_pairs" -> ((s, d) => {
      // 30-minute co-occurrence pairs per user via the bucketed range
      // self-join (time banded at Δ, probe bucket+bucket+1 — an equi
      // join; the naive inequality formulation plans as a per-key-
      // quadratic broadcast nested loop)
      graft.streaming.EventStreams.pairsWithin(events(s, d),
        withinUs = 1800000000L)
    }),
    "s3_asof_join" -> ((s, d) => {
      // each view event enriched with the user's latest purchase at-or-
      // before it; purchases pre-aggregated to unique (user, ts) so the
      // as-of pick is deterministic; inner-asof (unmatched views dropped);
      // times reported at µs (DuckDB's TIMESTAMP_NS read precision)
      val ev = events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("p_value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.streaming.EventStreams
        .asofJoin(views, purchases, "user_id", "ts", "ts", Seq("ts", "p_value"))
        .filter(col("asof_ts").isNotNull)
        .select(col("event_id"), col("user_id"),
          expr("ts DIV 1000").as("ts_us"),
          expr("asof_ts DIV 1000").as("p_us"),
          col("asof_p_value").as("p_value"))
    }),

    "s5_event_funnel" -> ((s, d) => {
      // view → click → purchase conversion per user, earliest-path
      // matching, 1-day span on the greedy path (see EventStreams.funnel
      // scaladoc for the windowed-conversion caveat). converted is 0/1
      // LONG for cross-engine hashing.
      graft.streaming.EventStreams.funnel(events(s, d),
        Seq("view", "click", "purchase"),
        maxSpanNanos = Some(86400L * 1000000000L))
    }),

    "s7_type_transitions" -> ((s, d) => {
      // corpus-wide first-order event-type Markov counts over per-user
      // timelines, (ts, event_id)-ordered for tie determinism
      graft.streaming.EventStreams.typeTransitions(events(s, d))
    }),
    "s9_active_users" -> ((s, d) => {
      // daily active users + event volume per day bucket — the DAU
      // primitive; exact countDistinct is the oracle anchor, the
      // approx_count_distinct tier is unit-pinned within rsd
      graft.streaming.EventStreams.activeUsers(events(s, d))
    }),
    "s11_trending_types" -> ((s, d) => {
      // top-3 event types per 6-hour bucket with per-bucket share —
      // rank over the aggregated series only (the s8 window rule)
      graft.streaming.EventStreams.trendingTypes(
        events(s, d), k = 3, bucketNanos = 21600L * 1000000000L)
    }),
    "s10_attribution" -> ((s, d) => {
      // last-touch click → purchase attribution within a 6-hour horizon
      // — one union + carry-forward window, never a per-user join; the
      // oracle replicates via the bounded join + ROW_NUMBER (exact at
      // sf0.01, where per-user candidate sets are small)
      graft.streaming.EventStreams.attributeLastTouch(
        events(s, d), "click", "purchase", 21600000000000L)
    }),
    "s8_window_anomalies" -> ((s, d) => {
      // hourly per-type count series z-scored against the trailing 6
      // observed buckets — z ≥ 2 flags the spike; 6-dp round on z (the
      // a5 precedent: window-frame double summation order)
      graft.streaming.EventStreams.windowAnomalies(events(s, d),
        bucketNanos = 3600L * 1000000000L, trailing = 6, zThreshold = 2.0)
    }),
    "s6_retention_cohorts" -> ((s, d) => {
      // weekly retention triangle: users cohorted by first-event week,
      // distinct-active counts per (cohort, offset); offset-0 row = the
      // cohort size
      graft.streaming.EventStreams.retentionCohorts(events(s, d))
    }),

    // ---- whole-graph analytics (GraphX/Pregel) ----------------------------
    "a1_reachable_orders" -> ((s, d) => {
      // all orders transitively after customer 1's first order (NextOrder***)
      val g = graph(s, d)
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val first = t(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("o_custkey") === 1 && col("rn") === 1)
        .select((col("o_orderkey") + ORDER_BASE).cast("long")).head().getLong(0)
      // Pregel BFS, not pointer doubling: doubling's per-round
      // cache+count+distinct on DataFrames measured 15× slower here (58s vs
      // 3.9s at sf0.1) and its unbounded .cache() calls evict the shared
      // graph cache; the doubling variant remains available for the
      // genuinely deep-chain regime (agreement is unit-pinned).
      graft.analytics.GraphAnalytics.reachableFrom(g, Seq(first), Some(NextOrder))
    }),
    "a2_shortest_hops" -> ((s, d) => {
      val g = graph(s, d)
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      val first = t(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("o_custkey") === 1 && col("rn") === 1)
        .select((col("o_orderkey") + ORDER_BASE).cast("long")).head().getLong(0)
      val chain = graph(s, d).copy(edges = g.edges.filter(col("label") === NextOrder))
      graft.analytics.GraphAnalytics.shortestPaths(chain, first)
    }),
    "a3_connected_components" -> ((s, d) => {
      // CC over the customer↔order subgraph (Placed stars + NextOrder
      // chains): ~1500 distinct components — a far more discriminating CC
      // instance than the full graph (which collapses to ONE giant
      // component, i.e. a constant column) and oracle-checkable by a
      // general recursive min-label propagation in DuckDB.
      val g = graph(s, d)
      graft.analytics.GraphAnalytics.connectedComponents(
        g.copy(edges = g.edges.filter(col("label").isin(Placed, NextOrder))))
    }),
    "a4_degree_histogram" -> ((s, d) => {
      graft.analytics.GraphAnalytics.degreeHistogram(graph(s, d))
    }),
    "a5_pagerank" -> ((s, d) => {
      // fixed-iteration PageRank on the customer→order Placed + NextOrder
      // subgraph (the a3 subgraph: discriminating structure, not one giant
      // hub). 5 iterations: deterministic, so the DuckDB oracle unrolls the
      // same power iteration; ranks rounded to 6 dp on BOTH sides because
      // double summation order differs between engines (~1e-15 relative).
      val g = graph(s, d)
      val sub = g.copy(edges = g.edges.filter(col("label").isin(Placed, NextOrder)))
      graft.analytics.GraphAnalytics.pageRankStatic(sub, numIter = 5)
        .select(col("id"), round(col("rank"), 6).as("rank"))
    }),

    "a8_ppr" -> ((s, d) => {
      // personalized PageRank seeded at customer 1 on the a5 subgraph —
      // "orders/accounts related to THIS customer"; deterministic power
      // form, so the oracle unrolls the identical iteration (6-dp round
      // absorbs double-summation order, the a5 precedent)
      val g = graph(s, d)
      val sub = g.copy(edges = g.edges.filter(col("label").isin(Placed, NextOrder)))
      graft.analytics.GraphAnalytics.personalizedPageRank(sub, source = 1L, numIter = 5)
        .select(col("id"), round(col("rank"), 6).as("rank"))
    }),

    "a9_label_propagation" -> ((s, d) => {
      // plurality-label communities on the a3/a5 subgraph (Placed stars +
      // NextOrder chains): 4 synchronous rounds, min-label tie-break —
      // the deterministic LPA variant, so the DuckDB oracle unrolls the
      // identical vote (GraphX's hash-order ties would not be
      // replicable). 4 rounds reaches label stability on this graph's
      // star-plus-chain structure (customer hubs win their stars by
      // round 2; chain interiors settle by 4). Assignment computed once
      // per (session, dir) — a12 scores the SAME cached labels.
      lpaLabels(s, d)
    }),

    "a6_triangles" -> ((s, d) => {
      // per-part triangle counts over the co-purchase graph (parts
      // sharing an order) — the clustering-coefficient primitive, via
      // the degree-ordered orientation (outdeg ≤ O(√m) per wedge source).
      // Gate input = every 4th order: the FULL sf0.1 co-purchase graph
      // is 1.2M edges at mean degree 120 (~70M wedges, ~23 s) — correct
      // but out of scale with the rest of the bench; the quarter keeps
      // the same code path at ~(1/16)× wedge volume, and the oracle
      // applies the identical cut. Session memo: a20 normalizes this
      // same relation
      coPurchaseTriangles(s, d)
    }),

    "a10_edge_support" -> ((s, d) => {
      // triangle support per co-purchase edge (the truss primitive /
      // tie-strength feature) — same quarter-of-orders cut as a6/a7,
      // identical in the oracle. Session memo: a17's round-1 peel
      // consumes this same relation
      coPurchaseSupport(s, d)
    }),

    "a7_kcore" -> ((s, d) => {
      // surviving co-purchase edges after 6 rounds of k=16 peeling (the
      // fixpoint on this graph — measured stable from round 6); same
      // quarter-of-orders cut as a6, identical in the oracle
      graft.analytics.GraphAnalytics.kCoreEdges(coPurchaseEdges(s, d), k = 16, iters = 6)
    }),

    "a12_modularity" -> ((s, d) => {
      // Newman modularity of the a9 LPA communities on the a5 subgraph —
      // the quality score for the community detection the suite already
      // runs; per-community rows (which communities carry structure).
      // Oracle shares the a9 CTE prefix so the assignment cannot drift.
      val g = graph(s, d)
      val sub = g.copy(edges = g.edges.filter(col("label").isin(Placed, NextOrder)))
      val fwd = sub.edges.filter(col("dir"))
        .select(col("src").as("u"), col("dst").as("v"))
      graft.analytics.GraphAnalytics.modularity(fwd, lpaLabels(s, d))
    }),

    "a13_adamic_adar" -> ((s, d) => {
      // Adamic–Adar link strength per co-purchase edge — the a10 triangle
      // machinery with 1/ln(witness degree) weighting; same quarter cut,
      // identical in the oracle. Aggregates the shared triangle relation
      // (one wedge join per session, the a10/a6 memo discipline)
      graft.analytics.GraphAnalytics.adamicAdar(coPurchaseEdges(s, d),
        triangles0 = Some(coPurchaseTriangleSet(s, d)))
    }),
    "a15_harmonic_closeness" -> ((s, d) => {
      // sampled harmonic closeness on the co-purchase graph: 8
      // md5-pivot seeds, BFS bounded at 4 hops — the oracle unrolls the
      // identical min-dist rounds as MATERIALIZED CTEs
      graft.analytics.GraphAnalytics.harmonicCloseness(
        coPurchaseEdges(s, d), nSeeds = 8, maxDepth = 4)
    }),
    "a25_eccentricity" -> ((s, d) => {
      // sampled eccentricity on the co-purchase graph, the a15 seeds and
      // depth bound — per-seed max BFS distance + reached count over the
      // SAME seededBfsDistances body a15 aggregates (gate closes the
      // round-13 advisor's "no gate, no caller" find). All-BIGINT
      // output, so the oracle needs no rounding convention.
      graft.analytics.GraphAnalytics.eccentricitySampled(
        coPurchaseEdges(s, d), nSeeds = 8, maxDepth = 4)
    }),
    "a23_scc" -> ((s, d) => {
      // strongly connected components via distributed coloring on the
      // id<400 mail subgraph — the one gate graph with real DIRECTED
      // structure at a discriminating density (379 verts, 577 arcs: one
      // 95-vertex SCC, one 3-cycle, 281 singletons — cycles collapse AND
      // DAG tails stay apart, so neither failure mode hides). The full
      // mail graph (mean degree 36) and the nation-trade digraph are one
      // giant SCC = a constant column; measured before choosing this cut.
      // Oracle = mutual-reachability closure over the same CSV, no
      // algorithm mirroring. Shared with a24 via the session memo.
      mailSccs(s)
    }),
    "a24_condensation_layers" -> ((s, d) => {
      // cycle-safe dependency depth: contract a23's SCCs, longest-path
      // layer the condensation DAG. Rides the memoized SCC run; the
      // oracle chains the a23 closure into a bounded path-length
      // recursion over the cross-SCC arcs.
      val path = graft.bench.MailGraph.generate("/tmp/graft_mail_data.txt")
      graft.analytics.GraphAnalytics.condensationLayers(
        graft.bench.MailGraph.miwCached(s, path).edges
          .filter(col("src") < 400 && col("dst") < 400),
        sccs = Some(mailSccs(s)))
    }),
    "a22_betweenness" -> ((s, d) => {
      // sampled bounded-depth Brandes betweenness on the co-purchase
      // graph (a15's seeds/depth): forward σ BFS + backward δ
      // accumulation, both unrolled by the oracle level by level.
      // SINGLE 3-dp round, NOT the usual 6: δ values reach O(10⁴) here,
      // where double summation-order noise (~1e-9 abs) sits too close
      // to a 1e-6 quantum across 2,000 cells — the rounding convention
      // is magnitude-aware (noise ≪ quantum). And the round happens
      // ONCE, on the raw sum: a fine-then-coarse chain re-quantizes and
      // measured one flipped cell (8.016 vs 8.015) when the raw values
      // landed on different 6-dp quanta straddling a 3-dp midpoint.
      graft.analytics.GraphAnalytics.betweennessSampled(
          coPurchaseEdges(s, d), nSeeds = 8, maxDepth = 4)
        .select(col("id"), round(col("betweenness"), 3).as("betweenness"))
    }),
    "a14_jaccard_links" -> ((s, d) => {
      // Jaccard link coefficient per co-purchase edge — support over the
      // excluded-endpoint neighborhood union; completes the a10/a13/a14
      // link-prediction trio on the shared oriented-triangle body
      // (explicitly, round 18 — it previously leaned on an accidental
      // cache-fragment substitution of the a10 support memo)
      graft.analytics.GraphAnalytics.jaccardLinks(coPurchaseEdges(s, d),
        triangles0 = Some(coPurchaseTriangleSet(s, d)))
    }),
    "a16_random_walks" -> ((s, d) => {
      // DeepWalk sampling stage on the co-purchase graph: 16 walks × 6
      // steps, hash-argmin neighbor draws — the oracle unrolls the
      // identical md5 choice per step
      graft.analytics.GraphAnalytics.randomWalks(
        coPurchaseEdges(s, d), nWalks = 16, walkLength = 6, seed = 42L)
    }),
    "a17_ktruss" -> ((s, d) => {
      // 4-truss peeling on the co-purchase graph, 3 bounded rounds
      // (support ≥ 2 per surviving edge) — the oracle recomputes the
      // identical support filter per unrolled round. Round 1 reads the
      // a10 support memo (kTrussEdges guards coverage with a bounded
      // anti-join probe); rounds 2-3 recompute on the peeled subgraph
      graft.analytics.GraphAnalytics.kTrussEdges(
        coPurchaseEdges(s, d), k = 4, iters = 3,
        support0 = Some(coPurchaseSupport(s, d)))
    }),
    "a21_assortativity" -> ((s, d) => {
      // degree-degree Pearson correlation over the co-purchase graph —
      // one scalar row; 6-dp round absorbs the corr-accumulation order
      graft.analytics.GraphAnalytics.degreeAssortativity(coPurchaseEdges(s, d))
    }),
    "a20_clustering_coefficient" -> ((s, d) => {
      // local clustering coefficient on the co-purchase graph — the
      // a6 triangle counts normalized by each node's wedge count,
      // consumed from the shared session memo (one wedge join, two gates)
      graft.analytics.GraphAnalytics.clusteringCoefficient(
        coPurchaseEdges(s, d), triangles0 = Some(coPurchaseTriangles(s, d)))
    }),
    "a19_bipartite_projection" -> ((s, d) => {
      // the order×part two-mode list projected onto parts with co-order
      // weights — the generalized co-purchase builder as its own
      // hash-green gate (weights included; quarter cut as ever)
      graft.analytics.GraphAnalytics.bipartiteProject(
        t(s, d, "lineitem").filter(col("l_orderkey") % 4 === 0)
          .select(col("l_orderkey").as("l"), col("l_partkey").as("r")))
    }),
    "a18_weighted_sssp" -> ((s, d) => {
      // Bellman–Ford on the WEIGHTED co-purchase graph (w = 1/co-order
      // count: stronger ties are shorter), 4 relax rounds from the
      // md5-min pivot (the a15 seed idiom — one bounded driver lookup)
      val li = t(s, d, "lineitem").filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey"))
      val a = li.toDF("ok", "u"); val b = li.toDF("ok", "v")
      val we = a.join(b, "ok").filter(col("u") < col("v"))
        .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
        .select(col("u"), col("v"), (lit(1.0) / col("c")).as("w"))
      val seed = we.select(col("u").as("id")).unionAll(we.select(col("v").as("id")))
        .distinct().orderBy(md5(col("id").cast("string")), col("id"))
        .limit(1).collect().head.getLong(0)
      graft.analytics.GraphAnalytics.weightedSSSP(we, seed, rounds = 4)
    }),

    "a11_hits" -> ((s, d) => {
      // HITS hubs & authorities on the a5 subgraph (Placed stars +
      // NextOrder chains): customers are pure hubs (no in-edges), orders
      // split between authority (customer-pointed) and hub (NextOrder
      // source) roles. 5 iterations, L1-normalized — deterministic, so
      // the DuckDB oracle unrolls the identical mutual recursion; 6-dp
      // round absorbs double-summation order (the a5/a8 precedent).
      val g = graph(s, d)
      val sub = g.copy(edges = g.edges.filter(col("label").isin(Placed, NextOrder)))
      graft.analytics.GraphAnalytics.hits(sub, numIter = 5)
        .select(col("id"), round(col("auth"), 6).as("auth"),
          round(col("hub"), 6).as("hub"))
    }),

    // ---- multimodal plumbing (stubbed codec, real batch pipeline) ---------
    "m2_media_near_dups" -> ((s, d) => {
      // perceptual-hash media dedup over the synthesized (stub-path)
      // payload table: stub hashes are a pure function of the payload,
      // so Hamming-0 pairs ≡ exact binary copies ≡ exact text copies —
      // which IS SQL-expressible (the md5 self-join). Accidental ≤3-bit
      // collisions between distinct 64-bit hashes would break the
      // equality (~n²·Σ C(64,i)/2⁶⁴ ≈ 10⁻⁹ at corpus scale — the d1
      // empirically-pinned-oracle precedent). Real-image payloads take
      // the perceptual path, pinned by unit tests instead.
      // derived corpus with PLANTED exact copies (every %50 doc shares
      // one payload — the corpus itself has no byte-exact text dups), so
      // the gate has real positives instead of an empty result
      val derived = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 50 === 0, lit("planted duplicate payload"))
          .otherwise(col("text")).as("text"))
      val media = graft.functions.Multimodal.synthesize(derived, "doc_id", "text")
      graft.functions.Multimodal.nearDuplicateMedia(
          graft.functions.Multimodal.typed(media), maxHamming = 3)
        .select(col("media_a"), col("media_b"))
    }),
    "m3_crossmodal_dedup" -> ((s, d) => {
      // cross-modal keep/drop decision (round 16, VERDICT r15 #5): a page
      // is a duplicate iff EITHER modality matches an earlier document —
      // text exactly OR media phash within Hamming 3. TWO disjoint planted
      // families make each modality discriminating on its own: every %41
      // doc shares one TEXT (its payload stays unique), every %50 doc
      // shares one PAYLOAD (its text stays unique); id 0 sits in both
      // families and must come out keep=1 (it IS the earliest of each).
      // Stub phash ≡ payload function (the m2 equivalence: Hamming-0 ≡
      // byte-equal, distinct payloads ~32 bits apart), so the decision is
      // SQL-expressible exactly — md5-equality keepers per modality.
      val base = t(s, d, "documents")
      val derived = base.select(col("doc_id"),
        when(col("doc_id") % 41 === 0, lit("planted text duplicate"))
          .otherwise(coalesce(col("text"), lit(""))).as("text"),
        when(col("doc_id") % 50 === 0, lit("planted duplicate payload"))
          .otherwise(coalesce(col("text"), lit(""))).as("payload"))
      val media = graft.functions.Multimodal.synthesize(derived, "doc_id", "payload")
      graft.functions.Multimodal.crossModalDedup(
        derived.select(col("doc_id"), col("text")),
        graft.functions.Multimodal.typed(media))
    }),
    "m1_media_features" -> ((s, d) => {
      val media = graft.functions.Multimodal.synthesize(
        t(s, d, "documents"), "doc_id", "text")
      graft.functions.Multimodal.extractFeatures(
        graft.functions.Multimodal.typed(media)).toDF()
        .select(col("media_id"), col("n_bytes"))
    }),
    "m4_audio_near_dups" -> ((s, d) => {
      // audio-fingerprint dedup over synthesized (stub-path) payloads —
      // the m2 precedent applied to the AUDIO tier (round 17, VERDICT r16
      // #4): payloads no audio codec decodes take the whole-payload FNV
      // stub, so Hamming-0 pairs ≡ exact binary copies ≡ md5 text
      // equality — SQL-expressible. Real-WAV payloads take the
      // volume-invariant contour path, unit-pinned on real clips (the
      // oracle can't decode WAV, and shouldn't). Planted family: every
      // %47 doc shares one payload — a different modulus than m2's %50,
      // so the two banded-join gates carry distinct result shapes.
      val derived = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 47 === 0, lit("planted audio payload"))
          .otherwise(col("text")).as("text"))
      val media = graft.functions.Multimodal.synthesize(derived, "doc_id", "text")
      graft.functions.Multimodal.nearDuplicateAudio(
          graft.functions.Multimodal.typed(media), maxHamming = 3)
        .select(col("media_a"), col("media_b"))
    }),

    // ---- reference benchmark workloads (Bench.hs:40-58 shapes) ------------
    "miw_bulk_ingest" -> ((s, d) => {
      // the mail graph is sf-independent (fixed 367,662-edge reference shape)
      val path = graft.bench.MailGraph.generate("/tmp/graft_mail_data.txt")
      graft.bench.MailGraph.miw(s, path).edges.select(col("src"), col("dst"))
    }),
    "cw_mailed_1hop" -> ((s, d) => {
      // read-side query → cached graph (ingest cost is miw's to measure)
      val path = graft.bench.MailGraph.generate("/tmp/graft_mail_data.txt")
      graft.bench.MailGraph.cw(graft.bench.MailGraph.miwCached(s, path))
    }),
    "siw_incremental_ingest" -> ((s, d) => {
      // single-insert workload: 16 successive append batches through the
      // mutation API; the gate checks incremental ≡ bulk (same row set as
      // miw, duplicates preserved)
      val path = graft.bench.MailGraph.generate("/tmp/graft_mail_data.txt")
      graft.bench.MailGraph.siw(s, path).edges.select(col("src"), col("dst"))
    }),
    "qwfn_find_neighbours" -> ((s, d) => {
      val path = graft.bench.MailGraph.generate("/tmp/graft_mail_data.txt")
      graft.bench.MailGraph.qwfn(graft.bench.MailGraph.miwCached(s, path))
    }),
    "qwfa_find_adjacent" -> ((s, d) => {
      val path = graft.bench.MailGraph.generate("/tmp/graft_mail_data.txt")
      graft.bench.MailGraph.qwfa(graft.bench.MailGraph.miwCached(s, path))
    }),
    "qwfs_find_shortest" -> ((s, d) => {
      val path = graft.bench.MailGraph.generate("/tmp/graft_mail_data.txt")
      graft.bench.MailGraph.qwfs(graft.bench.MailGraph.miwCached(s, path))
    })
  )

  /** a5 oracle: GraphX staticPageRank unrolled as chained CTEs — rank₀=1,
    * rankᵢ = 0.15 + 0.85·Σ_in rankᵢ₋₁/outdeg (sinks receive only the reset
    * term; senders use the ORIGINAL out-degree), then the trailing
    * normalizeRankSum scale to Σrank = |V|. Fixed iteration count makes
    * this exactly expressible; recursion is unrolled because the working
    * table of a recursive CTE cannot be referenced twice (verts ⟕ msgs). */
  private def pageRankOracleSql(numIter: Int): String = {
    val iters = (1 to numIter).map { i =>
      s"""pr$i AS (
         |  SELECT v.id, 0.15 + 0.85 * COALESCE(m.s, 0.0) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS id, SUM(p.rank / od.d) AS s
         |    FROM pr${i - 1} p JOIN edges e ON e.src = p.id
         |    JOIN outdeg od ON od.src = p.id
         |    GROUP BY 1) m ON m.id = v.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |edges AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS src, CAST(o_orderkey + 10000000 AS BIGINT) AS dst FROM orders
       |  UNION ALL
       |  SELECT CAST(o_orderkey + 10000000 AS BIGINT), CAST(nxt + 10000000 AS BIGINT) FROM (
       |    SELECT o_orderkey, LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
       |    FROM orders) t WHERE nxt IS NOT NULL
       |),
       |verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges) u),
       |outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
       |pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts),
       |$iters
       |SELECT id, ROUND(rank * (SELECT COUNT(*) FROM verts) / (SELECT SUM(rank) FROM pr$numIter), 6) + 0 AS rank
       |FROM pr$numIter""".stripMargin
  }

  // personalized variant of the a5 unroll: pr0 concentrates all mass on
  // the seed and the reset term teleports back to it (no final
  // normalization — the formula is the spec)
  private def pprOracleSql(source: Long, numIter: Int): String = {
    val iters = (1 to numIter).map { i =>
      s"""pr$i AS (
         |  SELECT v.id,
         |    0.15 * CASE WHEN v.id = $source THEN 1.0 ELSE 0.0 END
         |      + 0.85 * COALESCE(m.s, 0.0) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS id, SUM(p.rank / od.d) AS s
         |    FROM pr${i - 1} p JOIN edges e ON e.src = p.id
         |    JOIN outdeg od ON od.src = p.id
         |    GROUP BY 1) m ON m.id = v.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |edges AS (
       |  SELECT CAST(o_custkey AS BIGINT) AS src, CAST(o_orderkey + 10000000 AS BIGINT) AS dst FROM orders
       |  UNION ALL
       |  SELECT CAST(o_orderkey + 10000000 AS BIGINT), CAST(nxt + 10000000 AS BIGINT) FROM (
       |    SELECT o_orderkey, LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
       |    FROM orders) t WHERE nxt IS NOT NULL
       |),
       |verts AS (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges) u),
       |outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
       |pr0 AS (SELECT id, CASE WHEN id = $source THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END AS rank FROM verts),
       |$iters
       |SELECT id, ROUND(rank, 6) + 0 AS rank FROM pr$numIter""".stripMargin
  }

  // bounded k-core peeling, unrolled like the pagerank power iteration:
  // each round keeps nodes of degree >= k in the CURRENT edge set
  private def kCoreOracleSql(k: Int, iters: Int): String = {
    // every CTE is MATERIALIZED: the default inlining re-evaluates the
    // whole peeling prefix at EVERY reference (each round references its
    // predecessor 3x), which is exponential in rounds — measured as a
    // "too many open files" parquet-reopen storm at 6 rounds; with
    // materialization the oracle runs in ~0.1 s
    val rounds = (1 to iters).map { i =>
      s"""k$i AS MATERIALIZED (
         |  SELECT n FROM (
         |    SELECT n, count(*) AS d FROM (
         |      SELECT a AS n FROM e${i - 1} UNION ALL SELECT b FROM e${i - 1}) u
         |    GROUP BY 1) dd WHERE d >= $k
         |), e$i AS MATERIALIZED (
         |  SELECT t.a, t.b FROM e${i - 1} t
         |  SEMI JOIN k$i x ON t.a = x.n SEMI JOIN k$i y ON t.b = y.n
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
       |), e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey
       |),
       |$rounds
       |SELECT a, b FROM e$iters""".stripMargin
  }

  // deterministic LPA unrolled: per round, each vertex takes the
  // plurality label among its undirected neighbors (ties → smallest
  // label), keeping its previous label when it has no neighbors. Every
  // CTE is MATERIALIZED (the kCore lesson: default inlining re-evaluates
  // the whole prefix per reference — exponential in rounds).
  /** The LPA oracle's CTE prefix (edges → und → l0..lN) — shared by the
    * a9 gate and the a12 modularity oracle so the community assignment
    * being scored cannot drift from the one being checked. */
  private def lpaCtes(numIter: Int): String = {
    val iters = (1 to numIter).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT p.id, COALESCE(w.nl, p.label) AS label
         |  FROM l${i - 1} p LEFT JOIN (
         |    SELECT v AS id, label AS nl FROM (
         |      SELECT u.v, l.label, COUNT(*) AS c,
         |        ROW_NUMBER() OVER (PARTITION BY u.v ORDER BY COUNT(*) DESC, l.label) AS rn
         |      FROM und u JOIN l${i - 1} l ON u.w = l.id GROUP BY u.v, l.label) t
         |    WHERE rn = 1) w ON w.id = p.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""edges AS MATERIALIZED (
       |  SELECT CAST(o_custkey AS BIGINT) AS src, CAST(o_orderkey + 10000000 AS BIGINT) AS dst FROM orders
       |  UNION ALL
       |  SELECT CAST(o_orderkey + 10000000 AS BIGINT), CAST(nxt + 10000000 AS BIGINT) FROM (
       |    SELECT o_orderkey, LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
       |    FROM orders) t WHERE nxt IS NOT NULL
       |),
       |und AS MATERIALIZED (
       |  SELECT DISTINCT v, w FROM (
       |    SELECT src AS v, dst AS w FROM edges UNION ALL SELECT dst, src FROM edges) u
       |  WHERE v <> w
       |),
       |l0 AS (SELECT DISTINCT v AS id, v AS label FROM und),
       |$iters""".stripMargin
  }

  private def lpaOracleSql(numIter: Int): String =
    s"""WITH
       |${lpaCtes(numIter)}
       |SELECT id, label FROM l$numIter""".stripMargin

  /** a15 oracle: the [[graft.analytics.GraphAnalytics.harmonicCloseness]]
    * rounds unrolled — md5-pivot seeds over the co-purchase vertex set,
    * maxDepth min-dist BFS rounds (carry ∪ expand → MIN), harmonic sum
    * over dist > 0 rounded 6 dp. */
  /** a16 oracle: [[graft.analytics.GraphAnalytics.randomWalks]] unrolled —
    * the same md5(id)-ordered start sample, then one arg_min(neighbor,
    * md5(seed:walk:step:neighbor)) CTE per step. The draw key is a pure
    * function of its four arguments, so both engines compute the same
    * digest and pick the same neighbor. */
  private def randomWalkOracleSql(nWalks: Int, walkLength: Int, seed: Long): String = {
    val steps = (1 until walkLength).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT p.walk_id, $i AS step,
         |    arg_min(und.y, md5(concat_ws(':', $seed, p.walk_id, $i, und.y))) AS node
         |  FROM s${i - 1} p JOIN und ON und.x = p.node
         |  GROUP BY p.walk_id
         |)""".stripMargin
    }.mkString(",\n")
    val unioned = (0 until walkLength)
      .map(i => s"SELECT walk_id, step, node FROM s$i").mkString("\nUNION ALL\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
       |), e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey
       |), und AS MATERIALIZED (
       |  SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e
       |), starts AS (
       |  SELECT id FROM (SELECT DISTINCT x AS id FROM und)
       |  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $nWalks
       |), s0 AS MATERIALIZED (
       |  SELECT id AS walk_id, 0 AS step, id AS node FROM starts
       |),
       |$steps
       |$unioned""".stripMargin
  }

  /** a18 oracle: [[graft.analytics.GraphAnalytics.weightedSSSP]] unrolled —
    * weighted co-purchase edges (1/co-order count), md5-min seed
    * subquery, `rounds` carry ∪ relax → MIN CTEs, 6-dp round. */
  private def weightedSsspOracleSql(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT id, MIN(dist) AS dist FROM (
         |    SELECT id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT und.y AS id, p.dist + und.w FROM d${i - 1} p
         |    JOIN und ON und.x = p.id) t
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey AS ok, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
       |), we AS MATERIALIZED (
       |  SELECT a.l_partkey AS u, b.l_partkey AS v, 1.0::DOUBLE / COUNT(*) AS w
       |  FROM li a JOIN li b ON a.ok = b.ok
       |  WHERE a.l_partkey < b.l_partkey
       |  GROUP BY 1, 2
       |), und AS MATERIALIZED (
       |  SELECT u AS x, v AS y, w FROM we UNION ALL SELECT v, u, w FROM we
       |), seed AS (
       |  SELECT id FROM (SELECT DISTINCT x AS id FROM und)
       |  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 1
       |), d0 AS (
       |  SELECT id, 0.0::DOUBLE AS dist FROM seed
       |),
       |$rs
       |SELECT id, ROUND(dist, 6) + 0 AS dist FROM d$rounds""".stripMargin
  }

  /** t35 oracle: [[graft.functions.TextAnalysis.textRankKeywords]] — the
    * t31 chr(1)-bigram extraction (same separator-collision caveat)
    * feeding the a5 PR unroll over the canonicalized co-occurrence
    * graph. */
  private def textRankOracleSql(numIter: Int, minCount: Long): String = {
    val iters = (1 to numIter).map { i =>
      s"""pr$i AS (
         |  SELECT v.id, 0.15 + 0.85 * COALESCE(m.s, 0.0) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS id, SUM(p.rank / od.d) AS s
         |    FROM pr${i - 1} p JOIN edges e ON e.src = p.id
         |    JOIN outdeg od ON od.src = p.id
         |    GROUP BY 1) m ON m.id = v.id
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS t
       |  FROM documents
       |), pairsx AS (
       |  SELECT split_part(b, chr(1), 1) AS w1, split_part(b, chr(1), 2) AS w2 FROM (
       |    SELECT unnest([t[i] || chr(1) || t[i+1] for i in range(1, len(t))]) AS b FROM toks)
       |), canon AS MATERIALIZED (
       |  SELECT a, b FROM (
       |    SELECT LEAST(w1, w2) AS a, GREATEST(w1, w2) AS b, COUNT(*) AS c
       |    FROM pairsx WHERE w1 <> w2 GROUP BY 1, 2)
       |  WHERE c >= $minCount
       |), edges AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM canon UNION ALL SELECT b, a FROM canon
       |), verts AS (SELECT DISTINCT src AS id FROM edges),
       |outdeg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
       |pr0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS rank FROM verts),
       |$iters
       |SELECT id AS word,
       |  ROUND(rank * (SELECT COUNT(*) FROM verts) / (SELECT SUM(rank) FROM pr$numIter), 6) + 0 AS rank
       |FROM pr$numIter""".stripMargin
  }

  /** a17 oracle: [[graft.analytics.GraphAnalytics.kTrussEdges]] unrolled —
    * per round, recompute each edge's common-neighbor count over the
    * CURRENT surviving edge set (the a10/a13 witness-join body) and keep
    * edges with support ≥ k−2. Fixed rounds ≡ the engine's early-exit
    * (a no-change round recomputes the same set). */
  private def kTrussOracleSql(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""u$i AS MATERIALIZED (
         |  SELECT a AS u, b AS v FROM e${i - 1} UNION ALL SELECT b, a FROM e${i - 1}
         |), e$i AS MATERIALIZED (
         |  SELECT g.a, g.b FROM e${i - 1} g LEFT JOIN (
         |    SELECT t.a, t.b, COUNT(*) AS c FROM (
         |      SELECT e2.a, e2.b, n1.v FROM e${i - 1} e2
         |      JOIN u$i n1 ON n1.u = e2.a
         |      JOIN u$i n2 ON n2.u = e2.b AND n2.v = n1.v) t
         |    GROUP BY 1, 2) s ON s.a = g.a AND s.b = g.b
         |  WHERE COALESCE(s.c, 0) >= ${k - 2}
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
       |), e0 AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey
       |),
       |$rounds
       |SELECT a, b FROM e$iters""".stripMargin
  }

  /** Shared BFS CTE prefix of the a15/a25 oracles — mirrors
    * [[graft.analytics.GraphAnalytics]]'s private seededBfsDistances
    * (the one body both reports aggregate): md5-pivot seeds over the
    * co-purchase vertex set, maxDepth carry ∪ expand → MIN rounds.
    * Ends with the final min-dist table `d$maxDepth`; callers append
    * their own aggregation. */
  private def seededBfsOracleCtes(nSeeds: Int, maxDepth: Int): String = {
    val rounds = (1 to maxDepth).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT seed, id, MIN(dist) AS dist FROM (
         |    SELECT seed, id, dist FROM d${i - 1}
         |    UNION ALL
         |    SELECT p.seed, und.y AS id, p.dist + 1 FROM d${i - 1} p
         |    JOIN und ON und.x = p.id) t
         |  GROUP BY 1, 2
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
       |), e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey
       |), und AS MATERIALIZED (
       |  SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e
       |), seeds AS (
       |  SELECT id FROM (SELECT DISTINCT x AS id FROM und)
       |  ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $nSeeds
       |), d0 AS (
       |  SELECT id AS seed, id, CAST(0 AS BIGINT) AS dist FROM seeds
       |),
       |$rounds""".stripMargin
  }

  private def harmonicClosenessOracleSql(nSeeds: Int, maxDepth: Int): String =
    s"""${seededBfsOracleCtes(nSeeds, maxDepth)}
       |SELECT id, CAST(COUNT(CASE WHEN dist > 0 THEN 1 END) AS BIGINT) AS n_reached,
       |  ROUND(COALESCE(SUM(CASE WHEN dist > 0 THEN 1.0::DOUBLE / dist END), 0.0::DOUBLE), 6) + 0 AS harmonic
       |FROM d$maxDepth GROUP BY id""".stripMargin

  /** a25 oracle: [[graft.analytics.GraphAnalytics.eccentricitySampled]]
    * over the same BFS body — per SEED the max bounded-BFS distance and
    * reached count (all BIGINT, no rounding needed). */
  private def eccentricityOracleSql(nSeeds: Int, maxDepth: Int): String =
    s"""${seededBfsOracleCtes(nSeeds, maxDepth)}
       |SELECT seed, CAST(MAX(dist) AS BIGINT) AS ecc,
       |  CAST(COUNT(CASE WHEN dist > 0 THEN 1 END) AS BIGINT) AS n_reached
       |FROM d$maxDepth GROUP BY seed""".stripMargin

  /** a22 oracle: [[graft.analytics.GraphAnalytics.betweennessSampled]]
    * unrolled — the same md5-pivot seeds, then Brandes level by level:
    * forward rounds carry (seed, id, dist, σ) with σ summed over the
    * distance-(i−1) predecessors that discover a node (NOT EXISTS keeps
    * first-discovery semantics), backward rounds compute
    * δ(v) = Σ σ_v/σ_w·(1+δ_w) over distance-(l+1) neighbors, each
    * level LEFT-joined so zero-δ nodes stay in the slice (their 1+0
    * feeds predecessors). One SINGLE 3-dp round on the raw sum, both
    * sides (see the gate comment: an intermediate fine round measured a
    * flipped cell at the quantum boundary). */
  private def betweennessOracleSql(nSeeds: Int, maxDepth: Int): String = {
    val fwd = (1 to maxDepth).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT seed, id, dist, sigma FROM d${i - 1}
         |  UNION ALL
         |  SELECT n.seed, n.id, n.dist, n.sigma FROM (
         |    SELECT p.seed, und.y AS id, CAST($i AS BIGINT) AS dist,
         |      CAST(SUM(p.sigma) AS BIGINT) AS sigma
         |    FROM d${i - 1} p JOIN und ON und.x = p.id
         |    WHERE p.dist = ${i - 1}
         |    GROUP BY 1, 2
         |  ) n WHERE NOT EXISTS (
         |    SELECT 1 FROM d${i - 1} v WHERE v.seed = n.seed AND v.id = n.id)
         |)""".stripMargin
    }.mkString(",\n")
    val bwTop =
      s"""bw$maxDepth AS MATERIALIZED (
         |  SELECT seed, id, sigma, 0.0::DOUBLE AS delta
         |  FROM d$maxDepth WHERE dist = $maxDepth
         |)""".stripMargin
    val bwRounds = (maxDepth - 1 to 0 by -1).map { l =>
      s"""bw$l AS MATERIALIZED (
         |  SELECT v.seed, v.id, v.sigma, COALESCE(agg.delta, 0.0::DOUBLE) AS delta
         |  FROM (SELECT seed, id, sigma FROM d$maxDepth WHERE dist = $l) v
         |  LEFT JOIN (
         |    SELECT p.seed, p.id,
         |      SUM(CAST(p.sigma AS DOUBLE) / w.sigma * (1.0::DOUBLE + w.delta)) AS delta
         |    FROM (SELECT seed, id, sigma FROM d$maxDepth WHERE dist = $l) p
         |    JOIN und ON und.x = p.id
         |    JOIN bw${l + 1} w ON w.seed = p.seed AND w.id = und.y
         |    GROUP BY 1, 2
         |  ) agg ON agg.seed = v.seed AND agg.id = v.id
         |)""".stripMargin
    }.mkString(",\n")
    val allbw = (0 to maxDepth).map(l => s"SELECT seed, id, delta FROM bw$l")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH li AS MATERIALIZED (
       |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
       |), e AS MATERIALIZED (
       |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
       |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
       |  WHERE a.l_partkey < b.l_partkey
       |), und AS MATERIALIZED (
       |  SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e
       |), verts AS MATERIALIZED (
       |  SELECT DISTINCT x AS id FROM und
       |), seeds AS (
       |  SELECT id FROM verts ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT $nSeeds
       |), d0 AS (
       |  SELECT id AS seed, id, CAST(0 AS BIGINT) AS dist, CAST(1 AS BIGINT) AS sigma FROM seeds
       |),
       |$fwd,
       |$bwTop,
       |$bwRounds,
       |allbw AS MATERIALIZED (
       |  $allbw
       |)
       |SELECT v.id,
       |  ROUND(COALESCE(SUM(CASE WHEN b.id <> b.seed THEN b.delta END),
       |    0.0::DOUBLE), 3) + 0 AS betweenness
       |FROM verts v LEFT JOIN allbw b ON b.id = v.id
       |GROUP BY 1""".stripMargin
  }

  /** e14 oracle: [[graft.functions.Similarity.mmrTopK]] unrolled — the
    * top-C relevance shortlist, C²-per-query pair sims, then k greedy
    * rounds (argmax of λ·rel − (1−λ)·max-sim-to-selected, ties to the
    * smaller id). λ literals are emitted from the SAME Scala doubles
    * the engine uses, ::DOUBLE-cast so DuckDB doesn't read them as
    * DECIMAL. */
  private def mmrOracleSql(k: Int, lambda: Double, candidates: Int): String = {
    val lam = s"${lambda}::DOUBLE"
    val oneMinus = s"${1.0 - lambda}::DOUBLE"
    val rounds = (2 to k).map { i =>
      s"""r$i AS (
         |  SELECT query_id, id, $i AS mmr_rank, score FROM (
         |    SELECT p.query_id, p.id, $lam * p.rel - $oneMinus * p.pen AS score,
         |      ROW_NUMBER() OVER (PARTITION BY p.query_id
         |        ORDER BY $lam * p.rel - $oneMinus * p.pen DESC, p.id) AS rn
         |    FROM (
         |      SELECT c.query_id, c.id, c.rel, MAX(ps.sim) AS pen
         |      FROM cands c
         |      JOIN pairsim ps ON ps.query_id = c.query_id AND ps.a = c.id
         |      JOIN s${i - 1} s ON s.query_id = ps.query_id AND s.id = ps.b
         |      WHERE NOT EXISTS (SELECT 1 FROM s${i - 1} x
         |        WHERE x.query_id = c.query_id AND x.id = c.id)
         |      GROUP BY 1, 2, 3) p) WHERE rn = 1
         |), s$i AS MATERIALIZED (
         |  SELECT * FROM s${i - 1} UNION ALL SELECT * FROM r$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH cands AS MATERIALIZED (
       |  SELECT query_id, id, rel FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS id,
       |      list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS rel,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rn
       |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |    WHERE q.vec_id < 50) t WHERE rn <= $candidates
       |), pairsim AS MATERIALIZED (
       |  SELECT c1.query_id, c1.id AS a, c2.id AS b,
       |    list_cosine_similarity(CAST(e1.embedding AS DOUBLE[]), CAST(e2.embedding AS DOUBLE[])) AS sim
       |  FROM cands c1 JOIN cands c2 ON c1.query_id = c2.query_id AND c1.id <> c2.id
       |  JOIN embeddings e1 ON e1.vec_id = c1.id
       |  JOIN embeddings e2 ON e2.vec_id = c2.id
       |), s1 AS MATERIALIZED (
       |  SELECT query_id, id, 1 AS mmr_rank, $lam * rel AS score FROM (
       |    SELECT query_id, id, rel,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, id) AS rn
       |    FROM cands) WHERE rn = 1
       |),
       |$rounds
       |SELECT query_id, id AS neighbor_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
       |  ROUND(score, 6) + 0 AS mmr_score FROM s$k""".stripMargin
  }

  /** t32 oracle: [[graft.functions.TextAnalysis.bpeMerges]] unrolled —
    * word-frequency table, chr(2)/chr(3)-wrapped symbol strings, each
    * round one pair count (chr(1)-joined, split back for the (c desc,
    * x, y) argmax), one LEFT JOIN ON TRUE apply (an empty argmax —
    * nothing left to merge — passes states through and emits no row,
    * matching the engine's early stop). */
  private def bpeCtes(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { i =>
      s"""p$i AS (
         |  SELECT split_part(pr, chr(1), 1) AS x, split_part(pr, chr(1), 2) AS y,
         |    CAST(SUM(freq) AS BIGINT) AS c
         |  FROM (
         |    SELECT freq, unnest([s[j] || chr(1) || s[j+1] for j in range(1, len(s))]) AS pr
         |    FROM (SELECT freq, string_split(substr(repr, 2, len(repr) - 2), chr(3) || chr(2)) AS s
         |          FROM w${i - 1})
         |  ) GROUP BY 1, 2
         |), b$i AS (SELECT x, y, c FROM p$i ORDER BY c DESC, x, y LIMIT 1),
         |w$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    CASE WHEN b.x IS NULL THEN repr
         |      ELSE replace(repr, chr(2) || b.x || chr(3) || chr(2) || b.y || chr(3),
         |        chr(2) || b.x || b.y || chr(3)) END AS repr
         |  FROM w${i - 1} LEFT JOIN b$i b ON TRUE
         |)""".stripMargin
    }.mkString(",\n")
    s"""wf AS (
       |  SELECT w AS word, count(*) AS freq FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS w
       |    FROM documents) GROUP BY 1
       |), w0 AS MATERIALIZED (
       |  SELECT word, freq,
       |    array_to_string([chr(2) || word[i] || chr(3) for i in range(1, len(word) + 1)], '') AS repr
       |  FROM wf
       |),
       |$rounds""".stripMargin
  }

  private def bpeOracleSql(nMerges: Int): String = {
    val union = (1 to nMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS rank, x AS \"left\", y AS \"right\", c AS pair_count FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""WITH ${bpeCtes(nMerges)}
       |$union""".stripMargin
  }

  /** t33 oracle: the t32 CTE chain's FINAL word states (w<nMerges>)
    * joined back onto the exploded corpus — per-doc real BPE token
    * counts under the learned merges. */
  private def bpeTokenCountOracleSql(nMerges: Int): String =
    s"""WITH ${bpeCtes(nMerges)},
       |syms AS (
       |  SELECT word, CAST(len(string_split(substr(repr, 2, len(repr) - 2), chr(3) || chr(2))) AS BIGINT) AS ns
       |  FROM w$nMerges
       |), tok AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'), x -> len(x) > 0)) AS w
       |  FROM documents
       |), agg AS (
       |  SELECT doc_id, count(*) AS n_words, CAST(SUM(syms.ns) AS BIGINT) AS n_bpe_tokens
       |  FROM tok JOIN syms ON syms.word = tok.w GROUP BY 1
       |)
       |SELECT d.doc_id, COALESCE(agg.n_words, 0) AS n_words,
       |  COALESCE(agg.n_bpe_tokens, 0) AS n_bpe_tokens
       |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin

  /** e13 oracle: the [[graft.functions.Similarity.randomProject]] parity
    * contract — the SAME projectionPlanes call that the engine uses
    * emits the matrix as SQL double literals (Double.toString
    * round-trips, so both engines hold bit-identical planes); 6-dp
    * round absorbs dot-accumulation order. UNNESTED to one scalar row
    * per (vec_id, plane) — a UNION ALL branch per plane — mirroring the
    * gate's posexplode (no ARRAY columns in gate outputs); null
    * embeddings keep every position with a null value. */
  private def randomProjectOracleSql(dim: Int, outDim: Int, seed: Long): String = {
    val planes = graft.functions.Similarity.projectionPlanes(dim, outDim, seed)
    val branches = planes.zipWithIndex.map { case (p, i) =>
      val lits = p.map(_.toString).mkString("[", ", ", "]")
      s"""SELECT vec_id, CAST($i AS BIGINT) AS pos,
         |  CASE WHEN embedding IS NULL THEN NULL
         |    ELSE ROUND(list_dot_product(v, $lits) / sqrt($outDim.0), 6) + 0
         |  END AS value
         |FROM base""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH base AS (
       |  SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |$branches""".stripMargin
  }

  /** e12 oracle: the [[graft.functions.Similarity.kmeansAssign]] parity
    * contract unrolled — md5-ordered seed pick, argmin of the
    * c·c − 2·x·c expansion with cid tie-break, per-dim AVG centroids
    * ROUNDED 6 DP at every boundary (the rounding is what makes the two
    * engines carry bit-identical centroids between rounds; dim is
    * unrolled as 64 ROUND(AVG(v[i])) columns). */
  private def kmeansOracleSql(k: Int, iters: Int, dim: Int): String = {
    val centroid = (1 to dim).map(i => s"ROUND(AVG(v[$i]), 6) + 0")
      .mkString("list_value(", ", ", ")")
    def assignCte(name: String, cents: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT vec_id, cid AS cluster FROM (
         |    SELECT e.vec_id, s.cid,
         |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |        ORDER BY list_dot_product(s.c, s.c) - 2 * list_dot_product(e.v, s.c), s.cid) AS rn
         |    FROM emb e CROSS JOIN $cents s) WHERE rn = 1
         |)""".stripMargin
    def updateCte(name: String, asg: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT cluster AS cid, $centroid AS c
         |  FROM $asg JOIN emb USING (vec_id) GROUP BY 1
         |)""".stripMargin
    val rounds = (1 to iters).flatMap { i =>
      Seq(assignCte(s"a$i", if (i == 1) "seeds" else s"c${i - 1}"),
        updateCte(s"c$i", s"a$i"))
    }.mkString(",\n")
    s"""WITH emb AS MATERIALIZED (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE embedding IS NOT NULL
       |    AND list_dot_product(CAST(embedding AS DOUBLE[]),
       |                         CAST(embedding AS DOUBLE[])) < 'infinity'::DOUBLE
       |), seeds AS (
       |  SELECT vec_id AS cid, v AS c FROM emb
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k
       |),
       |$rounds,
       |${assignCte("afinal", s"c$iters")}
       |SELECT vec_id, cluster FROM afinal""".stripMargin
  }

  /** a12 oracle: Newman modularity of the a9 LPA communities — canonical
    * a<b edges from the same und, q_c = e_c/m − (d_c/2m)², BIGINT-cast
    * count sums (the t14 rule: DuckDB SUM(BIGINT) is HUGEINT). */
  private def modularityOracleSql(numIter: Int): String =
    s"""WITH
       |${lpaCtes(numIter)},
       |cane AS MATERIALIZED (SELECT DISTINCT v AS a, w AS b FROM und WHERE v < w),
       |mm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM cane),
       |degs AS (SELECT n, count(*) AS d FROM (
       |  SELECT a AS n FROM cane UNION ALL SELECT b FROM cane) u GROUP BY 1),
       |intra AS (
       |  SELECT la.label, count(*) AS intra_edges
       |  FROM cane e JOIN l$numIter la ON la.id = e.a JOIN l$numIter lb ON lb.id = e.b
       |  WHERE la.label = lb.label GROUP BY 1),
       |degc AS (
       |  SELECT l.label, count(*) AS n_nodes, CAST(SUM(COALESCE(d.d, 0)) AS BIGINT) AS total_degree
       |  FROM l$numIter l LEFT JOIN degs d ON d.n = l.id GROUP BY 1)
       |SELECT dc.label, n_nodes,
       |  CAST(COALESCE(i.intra_edges, 0) AS BIGINT) AS intra_edges, total_degree,
       |  ROUND(COALESCE(i.intra_edges, 0) / mm.m - POW(total_degree / (2 * mm.m), 2), 6) + 0 AS q
       |FROM degc dc LEFT JOIN intra i ON i.label = dc.label, mm""".stripMargin

  /** a11 oracle: HITS unrolled as the same mutual recursion the engine
    * runs — per iteration a raw in-sum of hubs (ar), a raw out-sum of
    * those raw authorities (hr), and ONE L1 normalization (h). auth's
    * division commutes through the linear sums, so the engine and this
    * oracle both defer it to the final projection (norm(A·norm(Aᵀh)) ≡
    * norm(A·Aᵀh) exactly; fp noise absorbed by the 6-dp round).
    * MATERIALIZED throughout (the kCore lesson: inlined CTEs
    * re-evaluate the prefix per reference — exponential in iterations).
    * Score vectors stay sparse through the iteration (an absent vertex
    * is an exact 0 that contributes nothing to any sum); vertices never
    * reached COALESCE to 0 in the final dense projection, matching the
    * engine's left-join + 0-fill. */
  private def hitsOracleSql(numIter: Int): String = {
    val iters = (1 to numIter).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst AS id, SUM(h.hub) AS s
         |  FROM h${i - 1} h JOIN edges e ON e.src = h.id GROUP BY 1
         |), hr$i AS MATERIALIZED (
         |  SELECT e.src AS id, SUM(a.s) AS s
         |  FROM ar$i a JOIN edges e ON e.dst = a.id GROUP BY 1
         |), h$i AS MATERIALIZED (
         |  SELECT id, s / (SELECT SUM(s) FROM hr$i) AS hub FROM hr$i
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH
       |edges AS MATERIALIZED (
       |  SELECT CAST(o_custkey AS BIGINT) AS src, CAST(o_orderkey + 10000000 AS BIGINT) AS dst FROM orders
       |  UNION ALL
       |  SELECT CAST(o_orderkey + 10000000 AS BIGINT), CAST(nxt + 10000000 AS BIGINT) FROM (
       |    SELECT o_orderkey, LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
       |    FROM orders) t WHERE nxt IS NOT NULL
       |),
       |verts AS MATERIALIZED (SELECT DISTINCT id FROM (SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges) u),
       |h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub FROM verts),
       |$iters
       |SELECT v.id,
       |  CASE WHEN (SELECT COALESCE(SUM(s), 0) FROM ar$numIter) > 0
       |       THEN ROUND(COALESCE(a.s, 0.0) / (SELECT SUM(s) FROM ar$numIter), 6) + 0
       |       ELSE 0.0 END AS auth,
       |  ROUND(COALESCE(h.hub, 0.0), 6) + 0 AS hub
       |FROM verts v LEFT JOIN ar$numIter a ON a.id = v.id
       |LEFT JOIN h$numIter h ON h.id = v.id""".stripMargin
  }

  /** Oracle rounding convention (driver hashes at bit/string level):
    * every rounded DOUBLE in oracle SQL is written `ROUND(x, n) + 0`.
    * DuckDB's ROUND preserves IEEE signed zero (ROUND(-1e-9, 6) →
    * -0.0) while Spark's round goes through BigDecimal, which has no
    * signed zero (→ 0.0); `+ 0` normalizes (-0.0 + 0 = 0.0 in IEEE
    * 754) and is a bit-exact no-op on every other value, including
    * NULL. Round-11's a12 red gate was exactly this: 4/1502 rows
    * differing only in the sign of zero. Second gate-output rule:
    * scalar columns only — the driver's pandas row sorter cannot
    * order ARRAY cells (round-11 e13); emit arrays unnested. Both
    * conventions are pinned by OracleConventionSpec. */
  val oracles: Map[String, String] = Map(
    "a11_hits" -> hitsOracleSql(5),
    "a12_modularity" -> modularityOracleSql(4),
    "a13_adamic_adar" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |), und AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), degs AS (
        |  SELECT u AS n, count(*) AS d FROM und GROUP BY 1
        |), sup AS (
        |  SELECT t.a, t.b, COUNT(*) AS s, ROUND(SUM(1.0 / LN(dg.d)), 6) + 0 AS aa FROM (
        |    SELECT e.a, e.b, n1.v FROM e
        |    JOIN und n1 ON n1.u = e.a
        |    JOIN und n2 ON n2.u = e.b AND n2.v = n1.v) t
        |  JOIN degs dg ON dg.n = t.v
        |  GROUP BY 1, 2
        |)
        |SELECT e.a, e.b, CAST(COALESCE(sup.s, 0) AS BIGINT) AS support,
        |  COALESCE(sup.aa, 0.0) AS aa
        |FROM e LEFT JOIN sup ON sup.a = e.a AND sup.b = e.b""".stripMargin,
    "a15_harmonic_closeness" -> harmonicClosenessOracleSql(8, 4),
    "a25_eccentricity" -> eccentricityOracleSql(8, 4),
    "a22_betweenness" -> betweennessOracleSql(8, 4),
    // SCC = mutual reachability: scc(v) = MAX u with v→*u and u→*v (v
    // itself always qualifies via the (id,id) seed, so singletons label
    // themselves). Same CSV as miw/cw; same id<400 cut as the gate;
    // self-loops dropped for propagation, endpoints kept as vertices.
    "a23_scc" ->
      """WITH RECURSIVE raw AS MATERIALIZED (
        |  SELECT src, dst FROM read_csv('/tmp/graft_mail_data.txt', header=false, delim=' ',
        |    columns={'src':'BIGINT','dst':'BIGINT'})
        |  WHERE src < 400 AND dst < 400
        |), verts AS MATERIALIZED (
        |  SELECT src AS id FROM raw UNION SELECT dst FROM raw
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM raw WHERE src <> dst
        |), reach(a, b) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
        |)
        |SELECT r1.a AS id, MAX(r1.b) AS scc
        |FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        |GROUP BY 1""".stripMargin,
    // a23's closure chained into condensation arcs + longest-path layers:
    // paths(d, len) enumerates distinct (endpoint, length) pairs over the
    // cross-SCC DAG (bounded by |SCCs|·depth), layer = MAX len per SCC
    "a24_condensation_layers" ->
      """WITH RECURSIVE raw AS MATERIALIZED (
        |  SELECT src, dst FROM read_csv('/tmp/graft_mail_data.txt', header=false, delim=' ',
        |    columns={'src':'BIGINT','dst':'BIGINT'})
        |  WHERE src < 400 AND dst < 400
        |), verts AS MATERIALIZED (
        |  SELECT src AS id FROM raw UNION SELECT dst FROM raw
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM raw WHERE src <> dst
        |), reach(a, b) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
        |), scc AS MATERIALIZED (
        |  SELECT r1.a AS id, MAX(r1.b) AS scc
        |  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
        |  GROUP BY 1
        |), arcs AS MATERIALIZED (
        |  SELECT DISTINCT sa.scc AS s, sb.scc AS d
        |  FROM e JOIN scc sa ON sa.id = e.src JOIN scc sb ON sb.id = e.dst
        |  WHERE sa.scc <> sb.scc
        |), paths(d, len) AS (
        |  SELECT DISTINCT scc, 0 FROM scc
        |  UNION
        |  SELECT arcs.d, p.len + 1 FROM paths p JOIN arcs ON arcs.s = p.d
        |), layer AS (
        |  SELECT d AS scc, CAST(MAX(len) AS BIGINT) AS layer FROM paths GROUP BY 1
        |)
        |SELECT scc.id AS id, scc.scc AS scc, layer.layer AS layer
        |FROM scc JOIN layer USING (scc)""".stripMargin,
    "a16_random_walks" -> randomWalkOracleSql(16, 6, 42L),
    "a17_ktruss" -> kTrussOracleSql(4, 3),
    "a18_weighted_sssp" -> weightedSsspOracleSql(4),
    "a21_assortativity" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |), und AS MATERIALIZED (
        |  SELECT a AS x, b AS y FROM e UNION ALL SELECT b, a FROM e
        |), deg AS (
        |  SELECT x AS n, COUNT(*) AS d FROM und GROUP BY 1
        |)
        |SELECT ROUND(corr(d1.d, d2.d), 6) + 0 AS assortativity
        |FROM und JOIN deg d1 ON d1.n = und.x JOIN deg d2 ON d2.n = und.y""".stripMargin,
    "a20_clustering_coefficient" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |), deg AS (
        |  SELECT node, COUNT(*) AS degree FROM (
        |    SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1
        |), t AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |), tc AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
        |    SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
        |  GROUP BY 1
        |)
        |SELECT d.node, d.degree, COALESCE(tc.n_triangles, 0) AS n_triangles,
        |  CASE WHEN d.degree >= 2
        |    THEN ROUND(2.0 * COALESCE(tc.n_triangles, 0) / (d.degree * (d.degree - 1)), 6) + 0
        |    ELSE 0.0 END AS clustering_coef
        |FROM deg d LEFT JOIN tc USING (node)""".stripMargin,
    "a19_bipartite_projection" ->
      """WITH li AS MATERIALIZED (
        |  SELECT DISTINCT l_orderkey AS l, l_partkey AS r
        |  FROM lineitem WHERE l_orderkey % 4 = 0
        |)
        |SELECT a.r AS u, b.r AS v, COUNT(*) AS weight
        |FROM li a JOIN li b ON a.l = b.l
        |WHERE a.r < b.r GROUP BY 1, 2""".stripMargin,
    "a14_jaccard_links" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |), und AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), degs AS (
        |  SELECT u AS n, count(*) AS d FROM und GROUP BY 1
        |), sup AS (
        |  SELECT t.a, t.b, COUNT(*) AS s FROM (
        |    SELECT e.a, e.b, n1.v FROM e
        |    JOIN und n1 ON n1.u = e.a
        |    JOIN und n2 ON n2.u = e.b AND n2.v = n1.v) t
        |  GROUP BY 1, 2
        |)
        |SELECT e.a, e.b, CAST(COALESCE(sup.s, 0) AS BIGINT) AS support,
        |  CASE WHEN da.d + db.d - 2 - COALESCE(sup.s, 0) > 0
        |    THEN ROUND(CAST(COALESCE(sup.s, 0) AS DOUBLE)
        |      / (da.d + db.d - 2 - COALESCE(sup.s, 0)), 6) + 0
        |    ELSE 0.0 END AS jaccard
        |FROM e LEFT JOIN sup ON sup.a = e.a AND sup.b = e.b
        |JOIN degs da ON da.n = e.a JOIN degs db ON db.n = e.b""".stripMargin,
    "a10_edge_support" ->
      """WITH li AS MATERIALIZED (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
        |), e AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |), und AS MATERIALIZED (
        |  SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
        |), sup AS (
        |  SELECT t.a, t.b, COUNT(*) AS s FROM (
        |    SELECT e.a, e.b, n1.v FROM e
        |    JOIN und n1 ON n1.u = e.a
        |    JOIN und n2 ON n2.u = e.b AND n2.v = n1.v) t
        |  GROUP BY 1, 2
        |)
        |SELECT e.a, e.b, CAST(COALESCE(sup.s, 0) AS BIGINT) AS support
        |FROM e LEFT JOIN sup ON sup.a = e.a AND sup.b = e.b""".stripMargin,
    "a9_label_propagation" -> lpaOracleSql(4),
    "a5_pagerank" -> pageRankOracleSql(5),
    "a8_ppr" -> pprOracleSql(1L, 5),
    "a7_kcore" -> kCoreOracleSql(16, 6),
    // canonical a<b edges; each triangle x<y<z found once as
    // e(x,y)+e(y,z)+e(x,z); per-node counts via 3-way unpivot
    "a6_triangles" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 4 = 0
        |), e AS (
        |  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |  WHERE a.l_partkey < b.l_partkey
        |), t AS (
        |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
        |  FROM e e1 JOIN e e2 ON e2.a = e1.b
        |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
        |)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT x AS node FROM t UNION ALL SELECT y FROM t UNION ALL SELECT z FROM t)
        |GROUP BY node""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS count_order,
        |SUM(l_quantity) AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE) AS sum_disc_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_revenue_by_nation" ->
      """SELECT n_name, COUNT(*) AS n_orders,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name""".stripMargin,
    "q3_top_customers" ->
      """SELECT c_custkey, c_name, total_spent FROM (
        |SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent
        |FROM orders GROUP BY o_custkey) t JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_spent DESC, c_custkey LIMIT 10""".stripMargin,
    "q4_first_events_per_user" ->
      """SELECT user_id, event_id, event_type, rn FROM (
        |SELECT user_id, event_id, event_type,
        |ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
        |FROM events) t WHERE rn <= 3""".stripMargin,
    "q5_customers_with_orders" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)",
    "q6_customers_without_orders" ->
      "SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)",
    "q7_events_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
        |event_type, COUNT(*) AS n FROM events GROUP BY 1, 2""".stripMargin,
    "q8_orders_by_year_priority" ->
      """SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year, o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin,
    "q9_rollup_totals" ->
      """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS o_year, o_orderpriority, COUNT(*) AS n,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(1, 2)""".stripMargin,
    "q10_scalar_functions" ->
      """SELECT o_orderkey, UPPER(o_orderpriority) AS prio_u,
        |SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
        |CAST(LENGTH(o_orderpriority) AS BIGINT) AS prio_len,
        |CONCAT_WS('-', o_orderstatus, o_orderpriority) AS status_prio,
        |CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
        |CAST(QUARTER(o_orderdate) AS BIGINT) AS o_quarter
        |FROM orders""".stripMargin,
    "q11_analytic_windows" ->
      """SELECT o_custkey, o_orderkey,
        |COALESCE(LAG(o_totalprice, 1) OVER w, 0.0) AS prev_price,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
        |  (PARTITION BY o_custkey ORDER BY o_orderkey
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total,
        |COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders
        |FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)""".stripMargin,
    "g1_building_customer_orders" ->
      """SELECT CAST(c_custkey AS BIGINT) AS n0, CAST(o_orderkey + 10000000 AS BIGINT) AS n1
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'""".stripMargin,
    "g2_parts_of_customer_orders" ->
      """SELECT DISTINCT CAST(c_custkey AS BIGINT) AS n0, CAST(l_partkey + 20000000 AS BIGINT) AS n2
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey WHERE c_custkey <= 20""".stripMargin,
    // the quick twin's replay: planned ≡ quick is the hashed claim
    "g15_planned_strategy" ->
      """SELECT DISTINCT CAST(o_custkey AS BIGINT) AS n0,
        |  CAST(o_orderkey + 10000000 AS BIGINT) AS n1,
        |  CAST(l_partkey + 20000000 AS BIGINT) AS n2
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE l_partkey BETWEEN 1 AND 40""".stripMargin,
    // both where_ forms as SQL WHEREs: the node-id predicate on hop 1,
    // the label predicate on hop 2 (= only Contains rows join)
    "g16_where_predicate" ->
      """SELECT DISTINCT CAST(o_custkey AS BIGINT) AS n0,
        |  CAST(o_orderkey + 10000000 AS BIGINT) AS n1,
        |  CAST(l_partkey + 20000000 AS BIGINT) AS n2
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE (o_orderkey + 10000000) % 3 = 0""".stripMargin,
    // the quick twin's replay: planned-from-the-middle ≡ quick is the
    // hashed claim (n0 = the customer the Placed edge resolves — every
    // order has exactly one, so the customer join is o_custkey itself)
    "g18_planned_middle" ->
      """SELECT DISTINCT CAST(o_custkey AS BIGINT) AS n0,
        |  CAST(o_orderkey + 10000000 AS BIGINT) AS n1,
        |  CAST(l_partkey + 20000000 AS BIGINT) AS n2
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderkey BETWEEN 1 AND 40""".stripMargin,
    // the in-memory twin's SQL: reload ≡ original is the hashed claim
    "g17_bucketed_reopen" ->
      """SELECT DISTINCT CAST(c_custkey AS BIGINT) AS n0, CAST(l_partkey + 20000000 AS BIGINT) AS n2
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey WHERE c_custkey <= 20""".stripMargin,
    "g3_out_degrees" ->
      """SELECT CAST(o_custkey AS BIGINT) AS src, 1 AS label, COUNT(*) AS degree
        |FROM orders GROUP BY 1, 2
        |UNION ALL
        |SELECT CAST(l_orderkey + 10000000 AS BIGINT) AS src, 2 AS label,
        |COUNT(DISTINCT l_partkey) AS degree FROM lineitem GROUP BY 1, 2""".stripMargin,
    "g4_union_overlap" ->
      """SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
        |CAST(o_orderkey + 10000000 AS BIGINT) AS dst
        |FROM orders WHERE o_orderstatus = 'O' OR o_totalprice > 100000.0""".stripMargin,
    "g5_second_next_order" ->
      """WITH chain AS (
        |SELECT CAST(o_orderkey + 10000000 AS BIGINT) AS src,
        |CAST(LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) + 10000000 AS BIGINT) AS dst
        |FROM orders)
        |SELECT a.src AS n0, b.dst AS n1 FROM chain a
        |JOIN chain b ON a.dst = b.src WHERE b.dst IS NOT NULL""".stripMargin,
    "g6_orders_to_customer_backedges" ->
      """SELECT CAST(o_orderkey + 10000000 AS BIGINT) AS order_node,
        |CAST(o_custkey AS BIGINT) AS cust_node FROM orders""".stripMargin,
    // the subset rule's complement: exactly the NON-overlaid pairs
    "g11_orth_overlay_match" ->
      """SELECT CAST(o_custkey AS BIGINT) AS n0,
        |  CAST(o_orderkey + 10000000 AS BIGINT) AS n1
        |FROM orders WHERE o_orderkey % 103 <> 0""".stripMargin,
    // both hop edge sets under the full-match constraint, union-distinct
    // like the engine's per-step projection → semi-join recovery
    "g10_graph_query_subgraph" ->
      """WITH placed AS MATERIALIZED (
        |  SELECT CAST(o_custkey AS BIGINT) AS src,
        |    CAST(o_orderkey + 10000000 AS BIGINT) AS dst
        |  FROM orders WHERE o_custkey <= 20
        |), cont AS MATERIALIZED (
        |  SELECT DISTINCT CAST(l_orderkey + 10000000 AS BIGINT) AS src,
        |    CAST(l_partkey + 20000000 AS BIGINT) AS dst
        |  FROM lineitem
        |)
        |SELECT p.src, p.dst, 1 AS label FROM placed p
        |WHERE EXISTS (SELECT 1 FROM cont c WHERE c.src = p.dst)
        |UNION ALL
        |SELECT DISTINCT c.src, c.dst, 2 AS label FROM cont c
        |JOIN placed p ON p.dst = c.src""".stripMargin,
    // the dictionary rule replayed: same skip filter, same distinct name
    // set, ids = 0-based rank under binary string ordering (Spark
    // orderBy ≡ DuckDB default VARCHAR collation), same two resolve joins
    "g9_csv_dict_ingest" ->
      """WITH pairs AS MATERIALIZED (
        |  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS sname,
        |    'o' || CAST(o_orderkey AS VARCHAR) AS dname
        |  FROM orders WHERE o_orderkey % 3 <> 0
        |), names AS (
        |  SELECT DISTINCT name FROM (
        |    SELECT sname AS name FROM pairs UNION ALL SELECT dname FROM pairs)
        |), dict AS MATERIALIZED (
        |  SELECT name, ROW_NUMBER() OVER (ORDER BY name) - 1 AS id FROM names
        |)
        |SELECT ds.id AS src, dd.id AS dst FROM pairs
        |JOIN dict ds ON ds.name = pairs.sname
        |JOIN dict dd ON dd.name = pairs.dname""".stripMargin,
    // the DML sequence replayed as SQL set ops: base forward Placed rows
    // → node-delete filter (customers x77) → edge-delete anti (every
    // 97th order) → upsert (remove exact-key dupes, union the 101st-
    // order inserts from customer 1) → attrMask OR 64 on the 103rd-
    // order pairs. Forward rows only, like the gate's dir filter.
    "g8_dml_roundtrip" ->
      """WITH base AS MATERIALIZED (
        |  SELECT CAST(o_custkey AS BIGINT) AS src,
        |    CAST(o_orderkey + 10000000 AS BIGINT) AS dst,
        |    1 AS label, CAST(2 AS BIGINT) AS attrMask
        |  FROM orders
        |), d1 AS (
        |  SELECT * FROM base
        |  WHERE src NOT IN (77, 177, 277, 377, 477, 577, 677, 777, 877,
        |    977, 1077, 1177, 1277, 1377, 1477)
        |), d2 AS (
        |  SELECT * FROM d1 WHERE NOT EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_orderkey % 97 = 0
        |      AND d1.src = CAST(o.o_custkey AS BIGINT)
        |      AND d1.dst = CAST(o.o_orderkey + 10000000 AS BIGINT))
        |), ins AS (
        |  SELECT CAST(1 AS BIGINT) AS src,
        |    CAST(o_orderkey + 10000000 AS BIGINT) AS dst,
        |    1 AS label, CAST(2 AS BIGINT) AS attrMask
        |  FROM orders WHERE o_orderkey % 101 = 0
        |), d3 AS (
        |  SELECT * FROM d2 WHERE NOT EXISTS (
        |    SELECT 1 FROM ins i WHERE i.src = d2.src AND i.dst = d2.dst)
        |  UNION ALL SELECT * FROM ins
        |)
        |SELECT src, dst, label,
        |  CASE WHEN EXISTS (
        |    SELECT 1 FROM orders o WHERE o.o_orderkey % 103 = 0
        |      AND d3.src = CAST(o.o_custkey AS BIGINT)
        |      AND d3.dst = CAST(o.o_orderkey + 10000000 AS BIGINT))
        |    THEN attrMask | 64 ELSE attrMask END AS attrMask
        |FROM d3""".stripMargin,
    // g13: the `***` closure as a recursive CTE over the same CSV and
    // cut; UNION (not UNION ALL) is the oracle's own cycle termination.
    // dst <> 6 mirrors the engine's visited-seeded start exclusion.
    "g13_unbounded_reachability" ->
      """WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT src, dst FROM read_csv('/tmp/graft_mail_data.txt', header=false, delim=' ',
        |    columns={'src':'BIGINT','dst':'BIGINT'})
        |  WHERE src < 400 AND dst < 400
        |), r AS (
        |  SELECT dst FROM e WHERE src = 6
        |  UNION
        |  SELECT e.dst FROM r JOIN e ON e.src = r.dst
        |)
        |SELECT DISTINCT dst AS id FROM r WHERE dst <> 6""".stripMargin,
    // g12: createMem's GraphDiff replayed as SQL set ops — trav = the
    // appl-remapped traversal triples, newe = trav minus the stored
    // Placed set (the upsert's append side), dele = stored forward
    // Placed edges whose (src, label, dir) slot a new edge overwrites
    "g12_createmem_diff" ->
      """WITH placed AS MATERIALIZED (
        |  SELECT CAST(o_custkey AS BIGINT) AS src,
        |    CAST(o_orderkey + 10000000 AS BIGINT) AS dst
        |  FROM orders
        |), trav AS MATERIALIZED (
        |  SELECT DISTINCT src, 10000000 + ((dst - 10000000) % 1000) AS dst FROM placed
        |), newe AS MATERIALIZED (
        |  SELECT t.src, t.dst FROM trav t
        |  WHERE NOT EXISTS (SELECT 1 FROM placed p WHERE p.src = t.src AND p.dst = t.dst)
        |)
        |SELECT 'new' AS kind, src, dst, 1 AS label FROM newe
        |UNION ALL
        |SELECT 'del' AS kind, p.src, p.dst, 1 AS label FROM placed p
        |WHERE EXISTS (SELECT 1 FROM newe n WHERE n.src = p.src)""".stripMargin,
    // g14: temp's per-layer nested views flattened — LEFT joins keep
    // dried-up prefixes (orderless customers) as (-1)-child rows,
    // exactly the explode_outer contract on the Spark side
    "g14_temp_nested_layers" ->
      """WITH custs AS MATERIALIZED (
        |  SELECT CAST(c_custkey AS BIGINT) AS n0 FROM customer WHERE c_custkey <= 20
        |), hop1 AS MATERIALIZED (
        |  SELECT DISTINCT c.n0, CAST(o.o_orderkey + 10000000 AS BIGINT) AS n1
        |  FROM custs c JOIN orders o ON CAST(o.o_custkey AS BIGINT) = c.n0
        |), hop2 AS MATERIALIZED (
        |  SELECT DISTINCT h.n0, h.n1, CAST(l.l_partkey + 20000000 AS BIGINT) AS n2
        |  FROM hop1 h JOIN lineitem l ON CAST(l.l_orderkey + 10000000 AS BIGINT) = h.n1
        |)
        |SELECT CAST(1 AS BIGINT) AS layer, c.n0, CAST(-1 AS BIGINT) AS n1,
        |  COALESCE(h.n1, -1) AS child
        |FROM custs c LEFT JOIN hop1 h ON h.n0 = c.n0
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS layer, h.n0, h.n1, COALESCE(p.n2, -1) AS child
        |FROM hop1 h LEFT JOIN hop2 p ON p.n0 = h.n0 AND p.n1 = h.n1""".stripMargin,
    "g7_part_suppliers_3hop" ->
      """SELECT DISTINCT CAST(c_custkey AS BIGINT) AS n0,
        |CAST(sup.l_suppkey + 30000000 AS BIGINT) AS n3
        |FROM customer JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem li ON li.l_orderkey = o_orderkey
        |JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) sup
        |  ON sup.l_partkey = li.l_partkey
        |WHERE c_custkey <= 5""".stripMargin,
    "t1_token_counts" ->
      """SELECT doc_id, CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        |FROM documents""".stripMargin,
    "t2_dedup_exact" ->
      """SELECT MD5(text) AS text_hash, MIN(doc_id) AS keeper, COUNT(*) AS n_copies
        |FROM documents WHERE text IS NOT NULL GROUP BY 1""".stripMargin,
    "t3_doc_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
        |MAX(n_chars) AS max_chars, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2""".stripMargin,
    "d3_ngram_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct([t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] for i in range(1, len(t) - 1)])) AS gram
        |  FROM toks
        |), pruned AS (
        |  SELECT doc_id, gram FROM grams
        |  WHERE gram IN (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 10000)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM pruned a JOIN pruned b USING (gram) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.3""".stripMargin,
    // d14 shares d3's oracle verbatim: the banded route reproduces the
    // exact tier bit-for-bit at its gate config (equality-pinned in
    // PipelineSpec; miss odds ~1e-10/pair at threshold 0.3, bands=64/r=1)
    "d14_ngram_jaccard_banded" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct([t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] for i in range(1, len(t) - 1)])) AS gram
        |  FROM toks
        |), pruned AS (
        |  SELECT doc_id, gram FROM grams
        |  WHERE gram IN (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 10000)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM pruned a JOIN pruned b USING (gram) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.3""".stripMargin,
    // d3's CTEs with the containment math: one ordered row per direction
    "d13_containment_pairs" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct([t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] for i in range(1, len(t) - 1)])) AS gram
        |  FROM toks
        |), pruned AS (
        |  SELECT doc_id, gram FROM grams
        |  WHERE gram IN (SELECT gram FROM grams GROUP BY gram HAVING count(*) <= 10000)
        |), sizes AS (SELECT doc_id, count(*) AS sz FROM pruned GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM pruned a JOIN pruned b USING (gram) WHERE a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), sized AS (
        |  SELECT doc_a, doc_b, i, sa.sz AS sz_a, sb.sz AS sz_b
        |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |)
        |SELECT doc_id, other_id, containment FROM (
        |  SELECT doc_a AS doc_id, doc_b AS other_id, CAST(i AS DOUBLE) / sz_a AS containment FROM sized
        |  UNION ALL
        |  SELECT doc_b, doc_a, CAST(i AS DOUBLE) / sz_b FROM sized
        |) WHERE containment >= 0.5""".stripMargin,
    // same gram identity as d3 (lowercase, \s+ split, \x01-joined,
    // per-doc distinct); df aggregated per gram, never self-joined
    "d10_dup_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    [t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] || chr(1) || t[i+3] || chr(1) || t[i+4]
        |     for i in range(1, len(t) - 3)])) AS gram
        |  FROM toks
        |), dfreq AS (SELECT gram, count(*) AS dfc FROM grams GROUP BY 1)
        |SELECT doc_id, count(*) AS n_ngrams,
        |  CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_ngrams,
        |  ROUND(CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) + 0
        |    AS dup_ngram_frac
        |FROM grams JOIN dfreq USING (gram) GROUP BY doc_id""".stripMargin,
    // same tokenization as d10 (\s+ split, empties kept, lowercased gram
    // identity); positions 0-based; output rejoins surviving original-case
    // tokens with single spaces
    "d11_dup_ngram_removal" ->
      """WITH toks AS (
        |  SELECT doc_id, coalesce(string_split_regex(text, '\s+'), []) AS t FROM documents
        |), occ AS (
        |  SELECT doc_id, unnest([{'pos': i-1, 'gram': lower(
        |    t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] || chr(1) || t[i+3] || chr(1) || t[i+4])}
        |    for i in range(1, len(t)-3)], recursive := true)
        |  FROM toks
        |), dupg AS (
        |  SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS df FROM occ GROUP BY 1)
        |  WHERE df >= 2
        |), cov AS (
        |  SELECT DISTINCT doc_id, cpos FROM (
        |    SELECT o.doc_id, unnest(range(o.pos, o.pos+5)) AS cpos
        |    FROM occ o JOIN dupg USING (gram))
        |), toku AS (
        |  SELECT doc_id, unnest([{'pos': i-1, 'tok': t[i]} for i in range(1, len(t)+1)],
        |    recursive := true) FROM toks
        |), kept AS (
        |  SELECT k.doc_id, k.pos, k.tok FROM toku k
        |  ANTI JOIN cov c ON k.doc_id = c.doc_id AND k.pos = c.cpos
        |), reb AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |         string_agg(tok, ' ' ORDER BY pos) AS text_dedup
        |  FROM kept GROUP BY 1
        |)
        |SELECT s.doc_id, coalesce(r.text_dedup, '') AS text_dedup,
        |       CAST(len(s.t) AS BIGINT) AS n_tokens,
        |       CAST(len(s.t) - coalesce(r.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM toks s LEFT JOIN reb r USING (doc_id)""".stripMargin,
    "e1_ann_bruteforce_topk" ->
      """SELECT query_id, neighbor_id, rank FROM (
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |WHERE q.vec_id < 50) t WHERE rank <= 10""".stripMargin,
    "e3_embedding_cluster_stats" ->
      "SELECT label, COUNT(*) AS n FROM embeddings GROUP BY 1",
    "e16_mutual_knn" ->
      """WITH knn AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id) t
        |  WHERE rank <= 10
        |)
        |SELECT k1.query_id AS a, k1.neighbor_id AS b
        |FROM knn k1
        |JOIN knn k2 ON k2.query_id = k1.neighbor_id AND k2.neighbor_id = k1.query_id
        |WHERE k1.query_id < k1.neighbor_id""".stripMargin,
    // e18 = e16's SQL over the planted-corpus parquet (the SAME file the
    // Spark gate reads — the mail-CSV discipline). DOUBLE[] cast matches
    // Spark's promote-then-accumulate-in-double dot product (the d6
    // convention); rank ties break on vec_id on both sides.
    "e18_mutual_knn_planted_exact" ->
      """WITH emb AS MATERIALIZED (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding
        |  FROM read_parquet('/tmp/graft_planted_embeddings_n2000_c10.parquet/*.parquet')
        |), knn AS MATERIALIZED (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |    FROM emb q JOIN emb c ON q.vec_id <> c.vec_id) t
        |  WHERE rank <= 10
        |)
        |SELECT k1.query_id AS a, k1.neighbor_id AS b
        |FROM knn k1
        |JOIN knn k2 ON k2.query_id = k1.neighbor_id AND k2.neighbor_id = k1.query_id
        |WHERE k1.query_id < k1.neighbor_id""".stripMargin,
    "e12_kmeans_clusters" -> kmeansOracleSql(8, 2, 64),
    "e13_random_projection" -> randomProjectOracleSql(64, 16, 42L),
    "e14_mmr_rerank" -> mmrOracleSql(5, 0.7, 20),
    "e11_ann_filtered_topk" ->
      """SELECT query_id, neighbor_id, rank FROM (
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |WHERE q.vec_id < 50 AND c.label % 2 = 0) t WHERE rank <= 10""".stripMargin,
    // exact-equivalence gates: full-probe IVF and single-bucket LSH must
    // equal brute-force top-k (same oracle as e1)
    "e5_ann_ivf_exact" ->
      """SELECT query_id, neighbor_id, rank FROM (
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |WHERE q.vec_id < 50) t WHERE rank <= 10""".stripMargin,
    "e6_ann_lsh_exact" ->
      """SELECT query_id, neighbor_id, rank FROM (
        |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |  ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rank
        |FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |WHERE q.vec_id < 50) t WHERE rank <= 10""".stripMargin,
    // exhaustive cosine-threshold pairs. Both engines must do the math in
    // DOUBLE: Spark promotes each float element to double before the
    // sequential dot/norm accumulation, so the oracle casts the arrays to
    // DOUBLE[] (float-space cosine differs ~1e-7 → rounding boundaries)
    // and rounds in double space (ROUND on a FLOAT returns FLOAT, whose
    // nearest value to 0.350084 prints as 0.35008400678…).
    // exact-match decontamination: the Bloom tier is a prefilter only —
    // after the verify join the result must equal the plain text semi-join
    "d16_exact_dedup_against" ->
      """SELECT doc_id FROM documents
        |WHERE text IS NOT NULL AND text IN (
        |  SELECT text FROM documents WHERE doc_id % 5 = 0 AND text IS NOT NULL)""".stripMargin,
    "d15_semantic_decontam" ->
      """SELECT a.vec_id AS doc_id, b.vec_id AS ref_id,
        |ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) + 0 AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < 400 AND b.vec_id >= 400
        |AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35""".stripMargin,
    "d6_embedding_dups_exact" ->
      """SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) + 0 AS cosine
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 1000 AND b.vec_id < 1000
        |AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35""".stripMargin,
    "a4_degree_histogram" ->
      """WITH fwd AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS src FROM orders
        |  UNION ALL
        |  SELECT CAST(l_orderkey + 10000000 AS BIGINT) FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |  UNION ALL
        |  SELECT CAST(l_partkey + 20000000 AS BIGINT) FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
        |  UNION ALL
        |  SELECT CAST(o_orderkey + 10000000 AS BIGINT) FROM (
        |    SELECT o_orderkey, LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
        |    FROM orders) WHERE nxt IS NOT NULL
        |), deg AS (SELECT src, COUNT(*) AS degree FROM fwd GROUP BY 1)
        |SELECT degree, COUNT(*) AS n_nodes FROM deg GROUP BY 1""".stripMargin,
    "s12_session_stats" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > 3600000000000 THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |), per AS (
        |  SELECT user_id, sid, COUNT(*) AS n_events,
        |    COUNT(*) FILTER (event_type = 'purchase') AS n_purchases,
        |    MAX(epoch_us(ts)) - MIN(epoch_us(ts)) AS dur_us
        |  FROM sess GROUP BY user_id, sid
        |)
        |SELECT CASE WHEN n_events = 1 THEN '1' WHEN n_events <= 4 THEN '2-4'
        |            WHEN n_events <= 9 THEN '5-9' ELSE '10+' END AS len_bucket,
        |  COUNT(*) AS n_sessions,
        |  CAST(COUNT(*) FILTER (n_purchases > 0) AS BIGINT) AS n_converted,
        |  ROUND(COUNT(*) FILTER (n_purchases > 0) / COUNT(*)::DOUBLE, 6) + 0 AS conversion_rate,
        |  ROUND(AVG(dur_us) / 1000000.0, 6) + 0 AS mean_duration_s
        |FROM per GROUP BY 1""".stripMargin,
    // the batch twin's SQL: the hashed frame is the STREAM's output
    // (readStream file source + flatMapGroupsWithState + event-time
    // timeouts), so stream ≡ batch ≡ SQL is the checked chain
    "s13_sessionize_stream" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > 3600000000000 THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id, MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
        |  CAST(COUNT(*) AS INT) AS n_events,
        |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS INT) AS n_purchases
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "s2_user_sessions" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN epoch_ns(ts) - LAG(epoch_ns(ts)) OVER w > 3600000000000 THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM marked
        |)
        |SELECT user_id, MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us,
        |  CAST(COUNT(*) AS INT) AS n_events,
        |  CAST(COUNT(*) FILTER (event_type = 'purchase') AS INT) AS n_purchases
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "s1_sliding_window_counts" ->
      """WITH grid AS (
        |  SELECT user_id, (ts_ns // 1800000000000) * 1800 AS s1 FROM
        |  (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts_ns FROM events))
        |SELECT win_s, user_id, COUNT(*) AS n_events FROM (
        |  SELECT user_id, s1 AS win_s FROM grid
        |  UNION ALL
        |  SELECT user_id, s1 - 1800 AS win_s FROM grid
        |) GROUP BY 1, 2""".stripMargin,
    // the batch twin's SQL (= s1's): the hashed frame is the STREAM's
    // output — readStream file source + watermarked sliding-window
    // aggregation — so stream ≡ batch ≡ SQL is the checked chain
    "s14_sliding_window_stream" ->
      """WITH grid AS (
        |  SELECT user_id, (ts_ns // 1800000000000) * 1800 AS s1 FROM
        |  (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts_ns FROM events))
        |SELECT win_s, user_id, COUNT(*) AS n_events FROM (
        |  SELECT user_id, s1 AS win_s FROM grid
        |  UNION ALL
        |  SELECT user_id, s1 - 1800 AS win_s FROM grid
        |) GROUP BY 1, 2""".stripMargin,
    // native ASOF JOIN — DuckDB's own operator is the oracle for ours
    // the reference inequality join the bucketed form must reproduce
    // exactly (µs-truncated comparisons on both sides)
    "s4_event_pairs" ->
      """SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND (epoch_us(b.ts) > epoch_us(a.ts)
        |      OR (epoch_us(b.ts) = epoch_us(a.ts) AND b.event_id > a.event_id))
        | AND epoch_us(b.ts) - epoch_us(a.ts) <= CAST(1800000000 AS BIGINT)""".stripMargin,
    "s7_type_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events
        |)
        |SELECT from_type, to_type, COUNT(*) AS n FROM seq
        |WHERE to_type IS NOT NULL GROUP BY 1, 2""".stripMargin,
    "s11_trending_types" ->
      """WITH e AS (
        |  SELECT event_type, CAST(epoch_ns(ts) AS BIGINT) // 21600000000000 AS bucket FROM events
        |), c AS (
        |  SELECT bucket, event_type, count(*) AS cnt FROM e GROUP BY 1, 2
        |)
        |SELECT bucket, rank, event_type, cnt, share FROM (
        |  SELECT bucket, event_type, cnt,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY cnt DESC, event_type) AS BIGINT) AS rank,
        |    ROUND(cnt::DOUBLE / SUM(cnt) OVER (PARTITION BY bucket), 6) + 0 AS share
        |  FROM c) t WHERE rank <= 3""".stripMargin,
    "s10_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, CAST(epoch_ns(ts) AS BIGINT) AS t, event_type FROM events
        |), tgt AS (
        |  SELECT event_id, user_id, t FROM e WHERE event_type = 'purchase'
        |), src AS (
        |  SELECT event_id, user_id, t FROM e WHERE event_type = 'click'
        |), best AS (
        |  SELECT t.event_id AS tid, s.event_id AS sid, s.t AS st,
        |    ROW_NUMBER() OVER (PARTITION BY t.event_id ORDER BY s.t DESC, s.event_id DESC) AS rn
        |  FROM tgt t JOIN src s ON s.user_id = t.user_id
        |    AND s.t < t.t AND s.t >= t.t - 21600000000000
        |)
        |SELECT tgt.event_id, tgt.user_id, tgt.t AS ts,
        |  b.sid AS source_event_id, b.st AS source_ts,
        |  CASE WHEN b.sid IS NULL THEN NULL ELSE tgt.t - b.st END AS lag_ns,
        |  b.sid IS NOT NULL AS attributed
        |FROM tgt LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.tid = tgt.event_id""".stripMargin,
    "s9_active_users" ->
      """SELECT CAST(epoch_ns(ts) AS BIGINT) // 86400000000000 AS bucket,
        |  count(DISTINCT user_id) AS active_users, count(*) AS n_events
        |FROM events GROUP BY 1""".stripMargin,
    "s8_window_anomalies" ->
      """WITH e AS (
        |  SELECT event_type, CAST(epoch_ns(ts) AS BIGINT) // 3600000000000 AS bucket FROM events
        |), c AS (SELECT event_type, bucket, count(*) AS cnt FROM e GROUP BY 1, 2),
        |w AS (
        |  SELECT event_type, bucket, cnt,
        |    avg(cnt) OVER win AS mu,
        |    stddev_samp(cnt) OVER win AS sd,
        |    count(*) OVER win AS np
        |  FROM c
        |  WINDOW win AS (PARTITION BY event_type ORDER BY bucket
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT event_type, bucket, cnt,
        |  ROUND(CASE WHEN np >= 2 AND sd > 0 THEN (cnt - mu) / sd END, 6) + 0 AS zscore,
        |  COALESCE((CASE WHEN np >= 2 AND sd > 0 THEN (cnt - mu) / sd END) >= 2.0, FALSE) AS anomaly
        |FROM w""".stripMargin,
    "s6_retention_cohorts" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) // 604800000000000 AS b FROM events
        |), f AS (SELECT user_id, MIN(b) AS cohort FROM ev GROUP BY 1)
        |SELECT f.cohort, ev.b - f.cohort AS week_offset,
        |  CAST(COUNT(DISTINCT ev.user_id) AS BIGINT) AS n_users
        |FROM ev JOIN f ON ev.user_id = f.user_id GROUP BY 1, 2""".stripMargin,
    "s5_event_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(CAST(epoch_ns(ts) AS BIGINT)) AS t1
        |  FROM events WHERE event_type = 'view' GROUP BY 1
        |), s2 AS (
        |  SELECT s1.user_id, s1.t1,
        |    MIN(CASE WHEN CAST(epoch_ns(e.ts) AS BIGINT) > s1.t1
        |        THEN CAST(epoch_ns(e.ts) AS BIGINT) END) AS t2
        |  FROM s1 LEFT JOIN events e
        |    ON e.user_id = s1.user_id AND e.event_type = 'click'
        |  GROUP BY 1, 2
        |), s3 AS (
        |  SELECT s2.user_id, s2.t1, s2.t2,
        |    MIN(CASE WHEN CAST(epoch_ns(e.ts) AS BIGINT) > s2.t2
        |        THEN CAST(epoch_ns(e.ts) AS BIGINT) END) AS t3
        |  FROM s2 LEFT JOIN events e
        |    ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |  GROUP BY 1, 2, 3
        |)
        |SELECT user_id, t1, t2, t3,
        |  CAST(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
        |         + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS n_steps,
        |  CAST(CASE WHEN t3 IS NOT NULL AND t3 - t1 <= 86400000000000
        |       THEN 1 ELSE 0 END AS BIGINT) AS converted
        |FROM s3""".stripMargin,
    "s3_asof_join" ->
      """WITH purchases AS (
        |  SELECT user_id, ts, MAX(value) AS p_value FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1, 2
        |), views AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
        |)
        |SELECT v.event_id, v.user_id, epoch_us(v.ts) AS ts_us,
        |  epoch_us(p.ts) AS p_us, p.p_value
        |FROM views v ASOF JOIN purchases p
        |  ON v.user_id = p.user_id AND v.ts >= p.ts""".stripMargin,
    "a1_reachable_orders" ->
      """WITH ranked AS (
        |  SELECT CAST(o_orderkey + 10000000 AS BIGINT) AS id,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey = 1)
        |SELECT id FROM ranked WHERE rn > 1""".stripMargin,
    "a2_shortest_hops" ->
      """WITH ranked AS (
        |  SELECT CAST(o_orderkey + 10000000 AS BIGINT) AS id,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |  FROM orders WHERE o_custkey = 1)
        |SELECT id, CAST(rn - 1 AS BIGINT) AS dist FROM ranked""".stripMargin,
    // general undirected min-label propagation (recursive closure pruned to
    // labels smaller than their target — only candidates for the MIN
    // survive) over the same Placed+NextOrder edge set the Spark side feeds
    // to GraphX; GraphX's component id = min vertex id of the component.
    "a3_connected_components" ->
      """WITH RECURSIVE
        |fwd AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS a, CAST(o_orderkey + 10000000 AS BIGINT) AS b FROM orders
        |  UNION ALL
        |  SELECT CAST(o_orderkey + 10000000 AS BIGINT), CAST(nxt + 10000000 AS BIGINT) FROM (
        |    SELECT o_orderkey, LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS nxt
        |    FROM orders) t WHERE nxt IS NOT NULL
        |),
        |e AS (SELECT a, b FROM fwd UNION SELECT b, a FROM fwd),
        |verts AS (SELECT DISTINCT a AS id FROM e),
        |reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN e ON e.a = r.id WHERE r.comp < e.b
        |)
        |SELECT id, MIN(comp) AS component FROM reach GROUP BY id""".stripMargin,
    "m1_media_features" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id, CAST(strlen(text) AS INT) AS n_bytes
        |FROM documents""".stripMargin,
    "m2_media_near_dups" ->
      """WITH derived AS (
        |  SELECT doc_id, CASE WHEN doc_id % 50 = 0
        |    THEN 'planted duplicate payload' ELSE text END AS text
        |  FROM documents
        |)
        |SELECT a.doc_id AS media_a, b.doc_id AS media_b
        |FROM derived a JOIN derived b
        |  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id""".stripMargin,
    // the audio stub path is the same FNV-over-payload function as m2's,
    // so Hamming-0 ≡ byte-equal payloads ≡ md5 text equality
    "m4_audio_near_dups" ->
      """WITH derived AS (
        |  SELECT doc_id, CASE WHEN doc_id % 47 = 0
        |    THEN 'planted audio payload' ELSE text END AS text
        |  FROM documents
        |)
        |SELECT a.doc_id AS media_a, b.doc_id AS media_b
        |FROM derived a JOIN derived b
        |  ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id""".stripMargin,
    // phash Hamming <= 3 ≡ payload byte-equality on the stub path (the m2
    // equivalence), so the keep/drop decision reduces to per-modality
    // md5-equality keepers
    "m3_crossmodal_dedup" ->
      """WITH derived AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 41 = 0 THEN 'planted text duplicate'
        |         ELSE COALESCE(text, '') END AS dtext,
        |    CASE WHEN doc_id % 50 = 0 THEN 'planted duplicate payload'
        |         ELSE COALESCE(text, '') END AS payload
        |  FROM documents),
        |tmin AS (SELECT md5(dtext) AS th, MIN(doc_id) AS tkeeper
        |         FROM derived GROUP BY 1),
        |pmin AS (SELECT md5(payload) AS ph, MIN(doc_id) AS pkeeper
        |         FROM derived GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN t.tkeeper < d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS dup_text,
        |  CAST(CASE WHEN p.pkeeper < d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS dup_media,
        |  CAST(CASE WHEN t.tkeeper >= d.doc_id AND p.pkeeper >= d.doc_id
        |       THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM derived d
        |JOIN tmin t ON md5(d.dtext) = t.th
        |JOIN pmin p ON md5(d.payload) = p.ph""".stripMargin,
    // the mail corpus is a deterministic generated file (MailGraph.generate,
    // fixed xorshift seed) — the oracle reads the same file back
    "miw_bulk_ingest" ->
      """SELECT src, dst FROM read_csv('/tmp/graft_mail_data.txt', header=false, delim=' ',
        |  columns={'src':'BIGINT','dst':'BIGINT'})""".stripMargin,
    "cw_mailed_1hop" ->
      """SELECT CAST(128 AS BIGINT) AS n0, CAST(1 AS INT) AS e1_label, dst AS n1
        |FROM read_csv('/tmp/graft_mail_data.txt', header=false, delim=' ',
        |  columns={'src':'BIGINT','dst':'BIGINT'})
        |WHERE src = 128""".stripMargin,
    // incremental appends must reproduce the bulk-ingest row set exactly
    // (duplicates preserved) — same oracle as miw by design
    "siw_incremental_ingest" ->
      """SELECT src, dst FROM read_csv('/tmp/graft_mail_data.txt', header=false, delim=' ',
        |  columns={'src':'BIGINT','dst':'BIGINT'})""".stripMargin,
    "qwfn_find_neighbours" ->
      """SELECT src AS n0, COUNT(*) AS n_neighbours
        |FROM read_csv('/tmp/graft_mail_data.txt', header=false, delim=' ',
        |  columns={'src':'BIGINT','dst':'BIGINT'})
        |GROUP BY 1""".stripMargin,
    "qwfa_find_adjacent" ->
      """SELECT DISTINCT src, dst, CAST(0 AS INT) AS src_label, CAST(0 AS INT) AS dst_label
        |FROM read_csv('/tmp/graft_mail_data.txt', header=false, delim=' ',
        |  columns={'src':'BIGINT','dst':'BIGINT'})""".stripMargin,
    // BFS hop distances from node 128. The recursive term joins the LAST
    // frontier only; UNION dedups (id, dist) rows so cycles terminate at
    // the dist cap. Cap 8 ≫ the mail graph's eccentricity from 128 (the
    // graph is a dense xorshift-random digraph, avg out-degree ~37 →
    // everything is within ~4 hops), so MIN(dist) below the cap is the
    // true distance.
    "qwfs_find_shortest" ->
      """WITH RECURSIVE r AS (
        |  SELECT CAST(128 AS BIGINT) AS id, 0 AS dist
        |  UNION
        |  SELECT e.dst, r.dist + 1
        |  FROM r JOIN read_csv('/tmp/graft_mail_data.txt', header=false, delim=' ',
        |    columns={'src':'BIGINT','dst':'BIGINT'}) e ON e.src = r.id
        |  WHERE r.dist < 8
        |)
        |SELECT id, CAST(MIN(dist) AS BIGINT) AS dist FROM r GROUP BY 1""".stripMargin,
    "t4_quality_scores" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks,
        |    CAST(length(text) AS DOUBLE) AS n_char,
        |    CAST(length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) AS n_nopunct,
        |    CAST(length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS DOUBLE) AS n_noalpha
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, n_char,
        |    CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CAST(len(list_filter(toks, x -> x IN ('the','a','an','and','or','of','to','in','is','it','that','for','on','with','as','this','by','at','from'))) AS DOUBLE) AS n_stop,
        |    n_char - n_nopunct AS n_punct,
        |    n_char - n_noalpha AS n_alpha,
        |    CAST(len(list_distinct(toks)) AS DOUBLE) AS n_distinct
        |  FROM f
        |), h AS (
        |  SELECT doc_id, n_tok AS n_tokens,
        |    CASE WHEN n_tok > 0 THEN (n_char - (n_tok - 1)) / n_tok ELSE 0.0 END AS mean_word_len,
        |    CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stopword_ratio,
        |    CASE WHEN n_char > 0 THEN n_punct / n_char ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_char > 0 THEN n_alpha / n_char ELSE 0.0 END AS alpha_ratio,
        |    CASE WHEN n_tok > 0 THEN 1.0 - n_distinct / n_tok ELSE 0.0 END AS repetition,
        |    n_char
        |  FROM g
        |)
        |SELECT doc_id, n_tokens, mean_word_len, stopword_ratio, punct_ratio, alpha_ratio, repetition,
        |  (CASE WHEN n_char BETWEEN 100 AND 100000 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN mean_word_len BETWEEN 3.0 AND 12.0 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN alpha_ratio >= 0.6 THEN 0.25 ELSE 0.0 END
        |   + CASE WHEN repetition <= 0.5 THEN 0.25 ELSE 0.0 END) AS quality_score
        |FROM h""".stripMargin,
    // exact char-5-shingle Jaccard (the d3 postings pattern on character
    // shingles): valid as the d1 oracle because at the 0.8 bar the LSH
    // pipeline's recall vs this exact pair set is verified 100% (and
    // deterministic — fixed xxhash64 seeds), so LSH+exact-verify == the
    // exact pair set; Jaccard values are integer ratios → bit-identical
    "d1_minhash_near_dups" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(text)-4, 1)+1),
        |    i -> substr(lower(text), i::INT, 5)))) AS g
        |  FROM documents
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |)
        |SELECT doc_a, doc_b, i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.8""".stripMargin,
    // md5-winnowing fingerprint: shingle→md5, keep first-nibble-'0' sample,
    // fingerprint = md5 of sorted sample joined by ','
    "t6_fingerprints" ->
      """SELECT doc_id,
        |  md5(COALESCE(array_to_string(list_sort(list_distinct(list_filter(
        |    list_transform(
        |      list_distinct(list_transform(
        |        range(1, greatest(length(text)-7, 1)+1),
        |        i -> substr(lower(text), i::INT, 8))),
        |      sh -> md5(sh)),
        |    h -> substr(h, 1, 1) = '0'))), ','), '')) AS fp,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]')) AS INT) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    // md5-nibble SimHash: nibble value = strpos(hex alphabet, char) - 1;
    // bit b = bit (b%4) of nibble (b/4); signature = Σ 2^b over positive
    // bit-sums (disjoint powers ≡ the engine's OR fold)
    "d2_simhash_signatures" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
        |  FROM documents
        |), h AS (
        |  SELECT doc_id, md5(tok) AS hx FROM toks
        |), bits AS (
        |  SELECT doc_id, b,
        |    ((strpos('0123456789abcdef', substr(hx, CAST(b // 4 + 1 AS INT), 1)) - 1)
        |      // CAST(power(2, b % 4) AS INT)) % 2 AS bit
        |  FROM h, (SELECT unnest(range(0, 60)) AS b) g
        |), s AS (
        |  SELECT doc_id, b, SUM(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS sb
        |  FROM bits GROUP BY 1, 2
        |)
        |SELECT doc_id AS id,
        |  CAST(SUM(CASE WHEN sb > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        |FROM s GROUP BY doc_id""".stripMargin,
    "t10_interleave_sources" ->
      """WITH ranked AS (
        |  SELECT source AS shard, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS src_rank,
        |    CASE source WHEN 'src0' THEN 4 WHEN 'src1' THEN 2 WHEN 'src2' THEN 1 END AS w
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |)
        |SELECT shard, doc_id, src_rank,
        |  CAST((src_rank - 1) * (4 // w) AS BIGINT) AS mix_key
        |FROM ranked""".stripMargin,
    "t9_decontamination" ->
      """WITH probes AS (
        |  SELECT doc_id AS probe_id, substr(text, 20, 40) AS probe
        |  FROM documents WHERE doc_id < 5 AND length(substr(text, 20, 40)) = 40
        |)
        |SELECT d.doc_id, p.probe_id FROM documents d, probes p
        |WHERE contains(d.text, p.probe)""".stripMargin,
    "t11_repetition" ->
      """WITH arrs AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), l -> len(l) > 0) AS ls,
        |    list_filter(string_split(text, chr(10)||chr(10)), p -> len(p) > 0) AS ps
        |  FROM documents
        |), lf AS (
        |  SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        |    CASE WHEN len(ls) > 0 THEN 1.0 - len(list_distinct(ls))::DOUBLE / len(ls) ELSE 0.0 END AS dup_line_frac,
        |    CASE WHEN len(ps) > 0 THEN 1.0 - len(list_distinct(ps))::DOUBLE / len(ps) ELSE 0.0 END AS dup_para_frac
        |  FROM arrs
        |), toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS g FROM documents
        |), tc AS (SELECT doc_id, g, count(*) AS c FROM toks GROUP BY 1, 2),
        |tt AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS f FROM tc GROUP BY 1),
        |bt0 AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS t FROM documents),
        |bg AS (SELECT doc_id, unnest([t[i] || chr(1) || t[i+1] for i in range(1, len(t))]) AS g FROM bt0),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |bt AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS f FROM bc GROUP BY 1)
        |SELECT lf.doc_id, n_lines, dup_line_frac, dup_para_frac,
        |  COALESCE(tt.f, 0.0) AS top_token_frac, COALESCE(bt.f, 0.0) AS top_bigram_frac
        |FROM lf LEFT JOIN tt ON tt.doc_id = lf.doc_id LEFT JOIN bt ON bt.doc_id = lf.doc_id""".stripMargin,
    "t28_c4_filters" ->
      """WITH derived AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    substr(text, 1, 40) || '.',
        |    substr(text, 41, 20),
        |    'short one.',
        |    CASE WHEN doc_id % 7 = 0 THEN 'enable javascript to view.' ELSE substr(text, 61, 30) || '?' END,
        |    CASE WHEN doc_id % 11 = 0 THEN 'lorem ipsum dolor sit amet.' ELSE substr(text, 91, 25) || '!' END,
        |    CASE WHEN doc_id % 13 = 0 THEN 'function f() { return 1; }' ELSE '' END) AS text
        |  FROM documents
        |), ls AS (
        |  SELECT doc_id, text,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines
        |  FROM derived
        |), kl AS (
        |  SELECT doc_id, text, lines,
        |    list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
        |      AND len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM ls
        |), agg AS (
        |  SELECT doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |    array_to_string(kept, chr(10)) AS kept_text,
        |    contains(lower(text), 'lorem ipsum') AS has_lorem,
        |    contains(text, '{') AS has_brace
        |  FROM kl
        |)
        |SELECT doc_id, n_lines, n_kept_lines,
        |  CAST(len(kept_text) - len(regexp_replace(kept_text, '[.!?]', '', 'g')) AS BIGINT) AS n_sentences,
        |  has_lorem, has_brace,
        |  (len(kept_text) - len(regexp_replace(kept_text, '[.!?]', '', 'g')) >= 3
        |    AND NOT has_lorem AND NOT has_brace) AS keep,
        |  kept_text
        |FROM agg""".stripMargin,
    "t32_bpe_merges" -> bpeOracleSql(12),
    "t33_bpe_token_counts" -> bpeTokenCountOracleSql(12),
    "t35_textrank" -> textRankOracleSql(5, 5),
    "t38_readability" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS toks
        |  FROM documents
        |), feat AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    GREATEST(1, CAST(len(list_filter(string_split_regex(text, '[.!?]+'), x -> len(trim(x)) > 0)) AS BIGINT)) AS n_sentences,
        |    CAST(COALESCE(list_sum(list_transform(toks, w -> len(regexp_extract_all(w, '[aeiouy]+')))), 0) AS BIGINT) AS n_syllables
        |  FROM base
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CASE WHEN n_words > 0 THEN
        |    ROUND(206.835 - 1.015 * (n_words::DOUBLE / n_sentences)
        |          - 84.6 * (n_syllables::DOUBLE / n_words), 4) + 0
        |  END AS flesch
        |FROM feat""".stripMargin,
    // same window arithmetic as the engine: nChunks = max(1,
    // ceil((n-16)/48)), window i = tokens [i*48+1, i*48+64] (list_slice
    // clamps the tail), re-joined with single spaces
    "t41_chunking" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS tk
        |  FROM documents WHERE text IS NOT NULL
        |), sized AS (
        |  SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0
        |), win AS (
        |  SELECT doc_id, tk,
        |    unnest(range(0, GREATEST(1, CAST(ceil((n - 16) / 48.0) AS BIGINT)))) AS chunk_idx
        |  FROM sized
        |)
        |SELECT doc_id, chunk_idx,
        |  CAST(len(list_slice(tk, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS BIGINT) AS n_tokens,
        |  array_to_string(list_slice(tk, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ') AS chunk_text
        |FROM win""".stripMargin,
    // same rate derivation as the engine: share = w / 2.5 (the sorted-key
    // sum of the gate's weights), rate = least(1, share·3000/src_tokens)
    // reaching the md5 keep rule UNROUNDED (IEEE-exact ops only, same
    // left-assoc structure), 6-dp round for the emitted column only
    "t42_mixture_rebalance" ->
      """WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL
        |), nz AS (
        |  SELECT * FROM base WHERE n_tokens > 0
        |), rates AS (
        |  SELECT source,
        |    least(1.0,
        |      (CASE source WHEN 'src0' THEN 2.0 WHEN 'src1' THEN 0.25
        |                   WHEN 'src2' THEN 0.125 WHEN 'src3' THEN 0.125
        |                   ELSE 0.0 END)
        |        / 2.5 * 3000.0 / CAST(sum(n_tokens) AS DOUBLE)) AS rate
        |  FROM nz GROUP BY source
        |)
        |SELECT nz.doc_id, nz.source, nz.n_tokens, ROUND(r.rate, 6) + 0 AS rate
        |FROM nz JOIN rates r ON nz.source = r.source
        |WHERE r.rate > 0.0
        |  AND substr(md5(CAST(nz.doc_id AS VARCHAR)), 1, 8)
        |   <= lpad(lower(to_hex(CAST(floor(r.rate * 4294967295.0) AS BIGINT))), 8, '0')""".stripMargin,
    "t39_distinct_tokens" ->
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents
        |)
        |SELECT source, COUNT(DISTINCT token) AS n_distinct_tokens
        |FROM toks GROUP BY 1""".stripMargin,
    // wordNgrams' exact convention (split(lower(text)), NO trim/empty
    // filter — the t13 gram builder), distinct per (source, gram)
    "t43_source_overlap" ->
      """WITH dt AS (
        |  SELECT source, string_split_regex(lower(text), '\s+') AS t
        |  FROM documents WHERE text IS NOT NULL
        |), dg AS (
        |  SELECT DISTINCT source,
        |    unnest([t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] for i in range(1, len(t) - 1)]) AS g
        |  FROM dt
        |), sz AS (
        |  SELECT source, count(*) AS sz FROM dg GROUP BY 1
        |), sized AS (
        |  SELECT s.source, COALESCE(z.sz, 0) AS sz
        |  FROM (SELECT DISTINCT source FROM documents) s LEFT JOIN sz z USING (source)
        |), inter AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS i
        |  FROM dg a JOIN dg b USING (g) WHERE a.source < b.source GROUP BY 1, 2
        |)
        |SELECT sa.source AS src_a, sb.source AS src_b,
        |  sa.sz AS grams_a, sb.sz AS grams_b,
        |  COALESCE(i.i, 0) AS intersection,
        |  CASE WHEN sa.sz + sb.sz - COALESCE(i.i, 0) > 0
        |    THEN ROUND(COALESCE(i.i, 0)::DOUBLE / (sa.sz + sb.sz - COALESCE(i.i, 0)), 6) + 0
        |    ELSE 0.0 END AS jaccard,
        |  CASE WHEN sa.sz > 0
        |    THEN ROUND(COALESCE(i.i, 0)::DOUBLE / sa.sz, 6) + 0
        |    ELSE 0.0 END AS cont_a_in_b,
        |  CASE WHEN sb.sz > 0
        |    THEN ROUND(COALESCE(i.i, 0)::DOUBLE / sb.sz, 6) + 0
        |    ELSE 0.0 END AS cont_b_in_a
        |FROM sized sa JOIN sized sb ON sa.source < sb.source
        |LEFT JOIN inter i ON i.src_a = sa.source AND i.src_b = sb.source""".stripMargin,
    "t37_vocab" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS token
        |  FROM documents
        |), counts AS (
        |  SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1 HAVING COUNT(*) >= 2
        |)
        |SELECT token,
        |  CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) + 3 AS BIGINT) AS id,
        |  cnt
        |FROM counts""".stripMargin,
    "t36_perplexity_buckets" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents
        |), freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM freq),
        |sc AS (
        |  SELECT doc_id, -ln(CAST(c AS DOUBLE) / (SELECT t FROM tot)) AS s
        |  FROM toks JOIN freq USING (tok)
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n, ROUND(AVG(s), 6) + 0 AS m FROM sc GROUP BY 1
        |), scored AS (
        |  SELECT d.doc_id, d.lang, COALESCE(agg.n, 0) AS n_tokens,
        |    COALESCE(agg.m, 0.0) AS surprisal
        |  FROM documents d LEFT JOIN agg USING (doc_id)
        |), tiled AS (
        |  SELECT doc_id, lang, n_tokens, surprisal,
        |    CAST(NTILE(3) OVER (PARTITION BY lang ORDER BY surprisal, doc_id) AS BIGINT) AS bucket
        |  FROM scored
        |)
        |SELECT doc_id, lang, n_tokens, surprisal, bucket,
        |  CASE WHEN bucket = 1 THEN 'head' WHEN bucket = 3 THEN 'tail'
        |       ELSE 'middle' END AS tier
        |FROM tiled""".stripMargin,
    "t34_naive_bayes" ->
      """WITH toks AS MATERIALIZED (
        |  SELECT doc_id, source AS cls,
        |    unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents WHERE text IS NOT NULL
        |), tf AS (
        |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        |), ctok AS (
        |  SELECT cls, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
        |), ctot AS (
        |  SELECT cls, COUNT(*) AS tot FROM toks GROUP BY 1
        |), vocab AS (SELECT DISTINCT tok FROM toks
        |), vsize AS (SELECT COUNT(*) AS v FROM vocab
        |), prior AS (
        |  SELECT source AS cls,
        |    LN(COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM documents WHERE text IS NOT NULL)) AS lp
        |  FROM documents WHERE text IS NOT NULL GROUP BY 1
        |), lik AS MATERIALIZED (
        |  SELECT c.cls, vb.tok, LN((COALESCE(ct.cnt, 0) + 1.0) / (c.tot + vs.v)) AS llh
        |  FROM vocab vb CROSS JOIN ctot c CROSS JOIN vsize vs
        |  LEFT JOIN ctok ct ON ct.cls = c.cls AND ct.tok = vb.tok
        |), scored AS (
        |  SELECT tf.doc_id, l.cls, p.lp + SUM(tf.tf * l.llh) AS s
        |  FROM tf JOIN lik l ON l.tok = tf.tok
        |  JOIN prior p ON p.cls = l.cls
        |  GROUP BY 1, 2, p.lp
        |)
        |SELECT doc_id, cls AS predicted, ROUND(s, 4) + 0 AS score FROM (
        |  SELECT doc_id, cls, s,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, cls) AS rn
        |  FROM scored) WHERE rn = 1""".stripMargin,
    "t31_collocations" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents
        |), uc AS (
        |  SELECT w, count(*) AS c FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
        |), nt AS (SELECT CAST(sum(c) AS BIGINT) AS nt FROM uc),
        |pf AS (
        |  SELECT b, count(*) AS c12 FROM (
        |    SELECT unnest([t[i] || chr(1) || t[i+1] for i in range(1, len(t))]) AS b FROM toks)
        |  GROUP BY 1
        |), np AS (SELECT CAST(sum(c12) AS BIGINT) AS np FROM pf)
        |SELECT split_part(b, chr(1), 1) AS w1, split_part(b, chr(1), 2) AS w2, c12,
        |  ROUND(LN((c12::DOUBLE / np) / ((u1.c::DOUBLE / nt) * (u2.c::DOUBLE / nt))), 6) + 0 AS pmi
        |FROM pf CROSS JOIN nt CROSS JOIN np
        |JOIN uc u1 ON u1.w = split_part(b, chr(1), 1)
        |JOIN uc u2 ON u2.w = split_part(b, chr(1), 2)
        |WHERE c12 >= 5""".stripMargin,
    "t30_gopher_filters" ->
      """WITH derived AS (
        |  SELECT doc_id, concat_ws(chr(10),
        |    CASE WHEN doc_id % 7 = 0 THEN '- ' || substr(text, 1, 60) ELSE substr(text, 1, 60) END,
        |    CASE WHEN doc_id % 7 = 0 THEN '- ' || substr(text, 61, 30) ELSE substr(text, 61, 30) END,
        |    CASE WHEN doc_id % 11 = 0 THEN substr(text, 91, 20) || '...' ELSE substr(text, 91, 20) END,
        |    CASE WHEN doc_id % 5 = 0 THEN 'big data scan merge sort' ELSE 'it was the best of times and that i have been with you to see more' END,
        |    CASE WHEN doc_id % 13 = 0 THEN '# # # # # # # # # # # #' ELSE '' END) AS text
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, text,
        |    list_filter(string_split_regex(trim(text), '\s+'), x -> len(x) > 0) AS words,
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)), x -> len(x) > 0) AS lines
        |  FROM derived
        |), f AS (
        |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
        |    CASE WHEN len(words) > 0
        |      THEN ROUND(list_sum(list_transform(words, x -> len(x)))::DOUBLE / len(words), 6) + 0
        |      ELSE 0.0 END AS mean_word_len,
        |    CASE WHEN len(words) > 0
        |      THEN ROUND((len(text) - len(replace(text, '#', ''))
        |        + (len(text) - len(replace(text, '...', ''))) // 3)::DOUBLE / len(words), 6) + 0
        |      ELSE 0.0 END AS symbol_ratio,
        |    CASE WHEN len(words) > 0
        |      THEN ROUND(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(words), 6) + 0
        |      ELSE 0.0 END AS alpha_word_frac,
        |    CASE WHEN len(lines) > 0
        |      THEN ROUND(len(list_filter(lines, l -> regexp_matches(l, '^[-*]')))::DOUBLE / len(lines), 6) + 0
        |      ELSE 0.0 END AS bullet_frac,
        |    CASE WHEN len(lines) > 0
        |      THEN ROUND(len(list_filter(lines, l -> regexp_matches(l, '\.\.\.$')))::DOUBLE / len(lines), 6) + 0
        |      ELSE 0.0 END AS ellipsis_frac,
        |    CAST(len(list_filter(['the','be','to','of','and','that','have','with'],
        |      s -> list_contains(list_transform(words, x -> lower(x)), s))) AS BIGINT) AS stop_hits
        |  FROM w
        |)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_word_frac,
        |  bullet_frac, ellipsis_frac, stop_hits,
        |  (n_words >= 25 AND n_words <= 100000
        |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND symbol_ratio <= 0.1 AND alpha_word_frac >= 0.8
        |   AND bullet_frac <= 0.4 AND ellipsis_frac <= 0.2
        |   AND stop_hits >= 2) AS keep
        |FROM f""".stripMargin,
    "t29_corpus_entropy" ->
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok FROM documents
        |), vocab AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM vocab GROUP BY 1)
        |SELECT t.source, t.n AS total_tokens, t.v AS distinct_tokens,
        |  ROUND(-SUM((c::DOUBLE / n) * LN(c::DOUBLE / n)), 6) + 0 AS entropy,
        |  CASE WHEN t.v > 1
        |    THEN ROUND(-SUM((c::DOUBLE / n) * LN(c::DOUBLE / n)) / LN(t.v::DOUBLE), 6) + 0
        |    ELSE 0.0 END AS norm_entropy
        |FROM vocab JOIN tot t USING (source)
        |GROUP BY 1, 2, 3""".stripMargin,
    "t27_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok FROM documents
        |), f AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM f)
        |SELECT tok, cnt, cnt::DOUBLE / tot AS frac
        |FROM f, tot WHERE cnt >= tot * 0.002""".stripMargin,
    "t14_token_stats" ->
      """WITH toks AS (
        |  SELECT source, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok FROM documents
        |), vocab AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |ts AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS total_tokens, count(*) AS distinct_tokens,
        |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_tokens
        |  FROM vocab GROUP BY 1
        |), nd AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
        |SELECT nd.source, n_docs, COALESCE(total_tokens, 0) AS total_tokens,
        |  COALESCE(distinct_tokens, 0) AS distinct_tokens, COALESCE(hapax_tokens, 0) AS hapax_tokens,
        |  CASE WHEN total_tokens > 0 THEN hapax_tokens::DOUBLE / total_tokens ELSE 0.0 END AS hapax_frac
        |FROM nd LEFT JOIN ts ON ts.source = nd.source""".stripMargin,
    "t15_length_stats" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(min(length(text)) AS BIGINT) AS min_chars,
        |  ROUND(quantile_cont(length(text), 0.5)::DOUBLE, 6) + 0 AS p50_chars,
        |  ROUND(quantile_cont(length(text), 0.9)::DOUBLE, 6) + 0 AS p90_chars,
        |  CAST(max(length(text)) AS BIGINT) AS max_chars,
        |  ROUND(avg(length(text))::DOUBLE, 6) + 0 AS mean_chars
        |FROM documents GROUP BY 1""".stripMargin,
    "t16_pii" -> {
      // oracle built from the SAME pattern constants as the Spark side —
      // the shared Java/RE2 dialect is the whole point of piiPatterns
      val Seq(e, i, p) = graft.functions.TextAnalysis.piiPatterns.map(_._2)
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$i')) AS BIGINT) AS n_ipv4s,
         |  CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text, '$e', '<EMAIL>', 'g'), '$i', '<IP>', 'g'), '$p', '<PHONE>', 'g') AS text_redacted
         |FROM documents""".stripMargin
    },
    "t12_normalize" ->
      """SELECT doc_id, trim(regexp_replace(nfc_normalize(text), '[ \t\n\r]+', ' ', 'g')) AS text_norm
        |FROM documents""".stripMargin,
    "t13_ngram_decontam" ->
      """WITH probes AS (
        |  SELECT doc_id AS probe_id, substr(text, 20, 80) AS probe
        |  FROM documents WHERE doc_id < 5
        |), pt AS (SELECT probe_id, string_split_regex(lower(probe), '\s+') AS t FROM probes),
        |pg AS (SELECT probe_id, unnest(list_distinct([t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] for i in range(1, len(t) - 1)])) AS g FROM pt),
        |dt AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents),
        |dg AS (SELECT doc_id, unnest(list_distinct([t[i] || chr(1) || t[i+1] || chr(1) || t[i+2] for i in range(1, len(t) - 1)])) AS g FROM dt)
        |SELECT DISTINCT doc_id, probe_id FROM dg JOIN pg USING (g)""".stripMargin,
    "t7_deterministic_sample" ->
      """SELECT doc_id FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'""".stripMargin,
    "t8_pack_sequences" ->
      """WITH tok AS (
        |  SELECT source AS shard, doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        |  FROM documents
        |), c AS (
        |  SELECT shard, doc_id, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM tok
        |)
        |SELECT shard, doc_id, n_tokens,
        |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS chunk_id,
        |  CAST((cum - n_tokens) % 2048 AS BIGINT) AS offset_in_chunk
        |FROM c""".stripMargin,
    // duplicate families over the same exact ≥0.8 pair set as the d1
    // oracle, clustered by the a3 recursive min-label propagation pattern
    "d5_dedup_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(text)-4, 1)+1),
        |    i -> substr(lower(text), i::INT, 5)))) AS g
        |  FROM documents
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |), p AS (
        |  SELECT CAST(doc_a AS BIGINT) AS a, CAST(doc_b AS BIGINT) AS b
        |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.8
        |), e AS (
        |  SELECT a, b FROM p UNION SELECT b, a FROM p
        |), verts AS (
        |  SELECT DISTINCT a AS id FROM e
        |), reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN e ON e.a = r.id WHERE r.comp < e.b
        |)
        |SELECT id AS doc_id, MIN(comp) AS cluster_id,
        |  CAST(id = MIN(comp) AS INT) AS keep
        |FROM reach GROUP BY id""".stripMargin,
    // d8: d5's family computation, then keep = min-id representative
    // (docs in no family pass through)
    "d8_dedup_keepers" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(text)-4, 1)+1),
        |    i -> substr(lower(text), i::INT, 5)))) AS g
        |  FROM documents
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |), p AS (
        |  SELECT CAST(doc_a AS BIGINT) AS a, CAST(doc_b AS BIGINT) AS b
        |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.8
        |), e AS (
        |  SELECT a, b FROM p UNION SELECT b, a FROM p
        |), verts AS (
        |  SELECT DISTINCT a AS id FROM e
        |), reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN e ON e.a = r.id WHERE r.comp < e.b
        |), fam AS (
        |  SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id
        |)
        |SELECT d.doc_id FROM documents d LEFT JOIN fam f ON f.doc_id = d.doc_id
        |WHERE f.doc_id IS NULL OR f.cluster_id = d.doc_id""".stripMargin,
    // leakage-safe split: d5's family computation (same pair set, same
    // min-label CC), singletons defaulting to their own id, then the t7
    // md5-hex threshold applied to the FAMILY id (testFrac 0.25 →
    // round(0.25·2³²) = 0x40000000, strict <)
    "d12_leakage_split" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(text)-4, 1)+1),
        |    i -> substr(lower(text), i::INT, 5)))) AS g
        |  FROM documents
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b USING (g) WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        |), p AS (
        |  SELECT CAST(doc_a AS BIGINT) AS a, CAST(doc_b AS BIGINT) AS b
        |  FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.8
        |), e AS (
        |  SELECT a, b FROM p UNION SELECT b, a FROM p
        |), verts AS (
        |  SELECT DISTINCT a AS id FROM e
        |), reach(id, comp) AS (
        |  SELECT id, id FROM verts
        |  UNION
        |  SELECT e.b, r.comp FROM reach r JOIN e ON e.a = r.id WHERE r.comp < e.b
        |), fam AS (
        |  SELECT id AS doc_id, MIN(comp) AS cluster_id FROM reach GROUP BY id
        |)
        |SELECT d.doc_id,
        |  COALESCE(f.cluster_id, d.doc_id) AS cluster_id,
        |  CASE WHEN substr(md5(CAST(COALESCE(f.cluster_id, d.doc_id) AS VARCHAR)), 1, 8) < '40000000'
        |       THEN 'test' ELSE 'train' END AS split
        |FROM documents d LEFT JOIN fam f ON f.doc_id = d.doc_id""".stripMargin,
    // cross-corpus dedup: exact char-5-shingle jaccard between the odd
    // ("new") and even ("reference") halves — the d1 oracle restricted to
    // cross-parity pairs (recall pinning carries over: subset of d1's set)
    "d7_dedup_against" ->
      """WITH sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(length(text)-4, 1)+1),
        |    i -> substr(lower(text), i::INT, 5)))) AS g
        |  FROM documents
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1
        |), inter AS (
        |  SELECT a.doc_id AS doc_id, b.doc_id AS ref_id, count(*) AS i
        |  FROM sh a JOIN sh b USING (g)
        |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 GROUP BY 1, 2
        |)
        |SELECT inter.doc_id AS doc_id, ref_id, i / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
        |FROM inter JOIN sizes sa ON sa.doc_id = inter.doc_id JOIN sizes sb ON sb.doc_id = ref_id
        |WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= 0.8""".stripMargin,
    "t17_token_budget" ->
      """WITH tok AS (
        |  SELECT source, doc_id,
        |    CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT source, doc_id, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM tok
        |)
        |SELECT source, doc_id, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 800""".stripMargin,
    "t18_length_filter" ->
      """WITH b AS (
        |  SELECT source,
        |    ROUND(quantile_cont(length(text), 0.05)::DOUBLE, 6) + 0 AS lo_chars,
        |    ROUND(quantile_cont(length(text), 0.95)::DOUBLE, 6) + 0 AS hi_chars
        |  FROM documents GROUP BY 1
        |)
        |SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_chars, lo_chars, hi_chars
        |FROM documents JOIN b USING (source)
        |WHERE length(text) >= lo_chars AND length(text) <= hi_chars""".stripMargin,
    "t19_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents
        |), freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM freq),
        |sc AS (
        |  SELECT doc_id, -ln(CAST(c AS DOUBLE) / (SELECT t FROM tot)) AS s
        |  FROM toks JOIN freq USING (tok)
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n, ROUND(AVG(s), 6) + 0 AS m FROM sc GROUP BY 1
        |)
        |SELECT d.doc_id, COALESCE(agg.n, 0) AS n_tokens, COALESCE(agg.m, 0.0) AS surprisal
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    // token identity shared with t19 (lowercase, trim, \s+, empties
    // dropped); smooth idf = ln((N+1)/(df+1)) + 1; rank on the UNROUNDED
    // weight with term tiebreak, round 6dp only in the output
    "t21_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS term
        |  FROM documents
        |), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |sc AS (
        |  SELECT doc_id, term, tf, df,
        |         tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS w
        |  FROM tf JOIN dfq USING (term) CROSS JOIN n
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rk FROM sc
        |)
        |SELECT doc_id, term, tf, df, ROUND(w, 6) + 0 AS tfidf FROM ranked WHERE rk <= 10""".stripMargin,
    // BM25 (Okapi, Lucene non-negative idf), k1=1.2 b=0.75; identical
    // expression STRUCTURE to the Spark side so the double is
    // reproduced bit-for-bit (integer-exact sum/count for avg_dl, same
    // operator grouping); rank on unrounded w, term tiebreak
    "t22_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS term
        |  FROM documents
        |), tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |dls AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |ad AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avg_dl FROM dls),
        |sc AS (
        |  SELECT doc_id, term, tf, df, dl,
        |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * (tf * 2.2)
        |           / (tf + 1.2 * (0.25 + 0.75 * dl / avg_dl)) AS w
        |  FROM tf JOIN dfq USING (term) JOIN dls USING (doc_id) CROSS JOIN n CROSS JOIN ad
        |), ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY w DESC, term) AS rk FROM sc
        |)
        |SELECT doc_id, term, tf, df, dl, ROUND(w, 6) + 0 AS bm25 FROM ranked WHERE rk <= 10""".stripMargin,
    // DSIR hashed-unigram importance weights: t21's tokenization, buckets
    // = first 2 hex chars of md5(token), add-one smoothing over 256
    // buckets; expression STRUCTURE mirrors the Spark side (same +1.0 /
    // +256.0 placement) so doubles agree well inside ROUND 6
    "t23_dsir_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0)) AS tok
        |  FROM documents
        |), tb AS (SELECT doc_id, substr(md5(tok), 1, 2) AS b FROM toks),
        |docb AS (SELECT doc_id, b, count(*) AS n FROM tb GROUP BY 1, 2),
        |rawb AS (SELECT b, CAST(sum(n) AS BIGINT) AS c_raw FROM docb GROUP BY 1),
        |tgtb AS (SELECT b, count(*) AS c_tgt FROM tb WHERE doc_id % 3 = 0 GROUP BY 1),
        |nr AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw FROM rawb),
        |nt AS (SELECT COALESCE(CAST(sum(c_tgt) AS BIGINT), 0) AS n_tgt FROM tgtb),
        |ratio AS (
        |  SELECT b, ln((COALESCE(c_tgt, 0) + 1.0) / (n_tgt + 256.0))
        |          - ln((c_raw + 1.0) / (n_raw + 256.0)) AS lr
        |  FROM rawb LEFT JOIN tgtb USING (b) CROSS JOIN nr CROSS JOIN nt
        |)
        |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  ROUND(sum(n * lr), 6) + 0 AS dsir_logweight
        |FROM docb JOIN ratio USING (b) GROUP BY 1""".stripMargin,
    // t19's shape with a 2-token key: p(w|u) = c(u,w)/Σ_x c(u,x), no
    // smoothing (the corpus scores itself); chr(1) is the repo-wide
    // n-gram separator, split_part recovers the context
    "t26_bigram_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> len(x) > 0) AS t
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id, unnest([t[i] || chr(1) || t[i+1] for i in range(1, len(t))]) AS b FROM toks
        |), freq AS (SELECT b, count(*) AS c FROM bg GROUP BY 1),
        |ctx AS (SELECT split_part(b, chr(1), 1) AS u, CAST(sum(c) AS BIGINT) AS cc FROM freq GROUP BY 1),
        |sc AS (
        |  SELECT doc_id, -ln(CAST(c AS DOUBLE) / CAST(cc AS DOUBLE)) AS s
        |  FROM bg JOIN freq USING (b) JOIN ctx ON ctx.u = split_part(b, chr(1), 1)
        |), agg AS (SELECT doc_id, COUNT(*) AS n, ROUND(AVG(s), 6) + 0 AS m FROM sc GROUP BY 1)
        |SELECT d.doc_id, COALESCE(agg.n, 0) AS n_bigrams, COALESCE(agg.m, 0.0) AS bigram_surprisal
        |FROM documents d LEFT JOIN agg USING (doc_id)""".stripMargin,
    // per-stratum t7 rule: 0.5/0.25/0.125 → round(f·2³²) as 8-hex-char
    // thresholds, strict <; the 17 unnamed strata ride the 0.25 default
    "t24_stratified_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE source WHEN 'src0' THEN '80000000' WHEN 'src1' THEN '40000000'
        |              WHEN 'src2' THEN '20000000' ELSE '40000000' END""".stripMargin,
    // weight-proportional acceptance: per-row threshold = weight·(2³²−1)
    // floored, 8-char lowercase hex, <= (weight 1.0 keeps every key incl.
    // 'ffffffff'). Weight = min(1, tokens/128) with t1's exact space-count
    // tokens; n/128 and ·4294967295 stay inside 53 mantissa bits, so the
    // doubles are EXACT in both engines
    "t25_weighted_sample" ->
      """WITH q AS (
        |  SELECT doc_id,
        |    least(1.0, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS DOUBLE) / 128.0) AS keep_weight
        |  FROM documents
        |)
        |SELECT doc_id, keep_weight FROM q
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |  <= lpad(lower(to_hex(CAST(floor(keep_weight * 4294967295.0) AS BIGINT))), 8, '0')""".stripMargin,
    // CCNet line dedup over in-query synthetic multi-line docs (see the
    // t20 Spark side): drop every non-blank normalized line appearing in
    // >= 2 distinct docs, keep blanks and within-doc repeats, rebuild in
    // original line order.
    "t20_line_dedup" ->
      """WITH base AS (
        |  SELECT CAST(doc_id AS BIGINT) // 5 AS bid, doc_id AS did,
        |         substr(text, 1, 24) || chr(10) AS piece
        |  FROM documents WHERE text IS NOT NULL
        |), synth AS (
        |  SELECT bid AS doc_id, string_agg(piece, chr(10) ORDER BY did) AS text
        |  FROM base GROUP BY bid
        |), lines AS (
        |  SELECT doc_id, u.idx AS line_idx, u.line AS line FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(l)+1),
        |      i -> {'idx': i, 'line': l[i]})) AS u
        |    FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM synth))
        |), boiler AS (
        |  SELECT lower(trim(line)) AS nl FROM lines
        |  WHERE length(trim(line)) > 0
        |  GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
        |), kept AS (
        |  SELECT l.doc_id, l.line_idx, l.line FROM lines l
        |  LEFT JOIN boiler b ON lower(trim(l.line)) = b.nl WHERE b.nl IS NULL
        |), reb AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
        |         string_agg(line, chr(10) ORDER BY line_idx) AS text_clean
        |  FROM kept GROUP BY doc_id
        |), tot AS (
        |  SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_total
        |  FROM synth
        |)
        |SELECT s.doc_id AS doc_id, COALESCE(r.text_clean, '') AS text_clean,
        |       CAST(COALESCE(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
        |       CAST(t.n_total - COALESCE(r.n_lines_kept, 0) AS BIGINT) AS n_lines_removed
        |FROM synth s JOIN tot t ON s.doc_id = t.doc_id
        |LEFT JOIN reb r ON s.doc_id = r.doc_id""".stripMargin,
    "t5_lang_id" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split_regex(lower(text), '\s+') AS t FROM documents
        |), scores AS (
        |  SELECT doc_id,
        |    len(list_filter(t, x -> x IN ('the','and','of','to','is','with','that','this'))) AS s_en,
        |    len(list_filter(t, x -> x IN ('der','die','das','und','ist','mit','nicht','ein'))) AS s_de,
        |    len(list_filter(t, x -> x IN ('le','la','les','et','est','dans','pour','que'))) AS s_fr,
        |    len(list_filter(t, x -> x IN ('el','los','las','es','y','en','por','para'))) AS s_es,
        |    len(list_filter(t, x -> x IN ('il','gli','di','che','per','con','una','sono'))) AS s_it
        |  FROM toks
        |)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_en,s_de,s_fr,s_es,s_it) = 0 THEN 'und'
        |       WHEN s_it = greatest(s_en,s_de,s_fr,s_es,s_it) THEN 'it'
        |       WHEN s_fr = greatest(s_en,s_de,s_fr,s_es,s_it) THEN 'fr'
        |       WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_it) THEN 'es'
        |       WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_it) THEN 'en'
        |       ELSE 'de' END AS lang_pred
        |FROM scores""".stripMargin
  )
}
