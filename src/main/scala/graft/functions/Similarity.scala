package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType
import graft.functions.expressions.{PackedVectors, ScoreBucketBlock}

/** Approximate-nearest-neighbor search over an embedding column
  * (ARRAY<FLOAT>). Hot-path vector math runs through the native codegen'd
  * [[graft.functions.expressions.DotProduct]] expression (`graft_dot`);
  * the lambda forms ([[dot]]/[[l2Norm]]/[[cosine]]) remain as the
  * session-free public API.
  *
  * Two tiers:
  *  - [[bruteForceTopK]]: exact cosine top-k. The baseline; the join is a
  *    full cross product — only for small query sets or verification.
  *  - [[lshTopK]]: random-hyperplane LSH. Each vector gets a B-bit bucket
  *    signature (sign of dot with B fixed hyperplanes); candidates share a
  *    bucket in at least one of `tables` independent tables. The cross
  *    product shrinks by ~2^B per table — the 100 TB path, at the cost of
  *    recall (tunable via B/tables).
  */
object Similarity {

  /** dot(a,b) as a Column (double) — session-free lambda form (interpreted
    * HigherOrderFunction). The DataFrame entry points below upgrade to the
    * codegen'd native [[graft.functions.expressions.DotProduct]] via
    * [[useNative]]. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, x) => acc + x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  // native (whole-stage-codegen) variants, used once a session is in hand
  private def useNative(df: DataFrame): Unit =
    graft.functions.expressions.GraftFunctions.init(df.sparkSession)

  /** Corpus row count for index sizing, memoized per (session, plan) —
    * always an EXACT count(): Catalyst's stats.rowCount is a
    * CBO-propagated estimate on derived plans (a selectivity-misjudged
    * filter would silently mis-size the index either into recall loss or
    * the (n/2^bits)² blowup), so it is not trusted here. Staleness caveat
    * as with labelCounts: a path-backed plan whose files are overwritten
    * in-session keeps its first count (index sizing drifts, output
    * semantics per the `bits<=0` contract are unchanged). */
  private val countCache = new graft.util.SessionCache[Long]
  private def corpusCount(df: DataFrame): Long =
    countCache(df.sparkSession,
      s"n|${df.queryExecution.logical.semanticHash()}")(df.count())
  private def ndot(a: Column, b: Column): Column = call_function("graft_dot", a, b)
  private def nnorm(a: Column): Column = sqrt(ndot(a, a))
  private def ncos(a: Column, b: Column): Column = ndot(a, b) / (nnorm(a) * nnorm(b))

  /** Dirty-vector contract (the embedding-side twin of Dedup's null-text
    * policy): a vector with no defined direction — NULL, a NaN or
    * ±Infinity element, or zero norm — is never trained on, never emitted
    * as a neighbor or duplicate, and never matches as a query. At 100 TB
    * a failed encoder emitting zeros or NaNs is a certainty, and without
    * the guard ONE such row is fatal, not just wrong: Spark 4's ANSI mode
    * raises DIVIDE_BY_ZERO on the zero-norm cosine (the whole job dies
    * hours in), sq8's code cast raises CAST_OVERFLOW on a NaN scale, and
    * with ANSI off the failure turns silent — Spark SQL orders NaN ABOVE
    * every double and `NaN >= threshold` is TRUE, so a zero-norm vector
    * takes rank 1 of EVERY query's top-k and the threshold tiers emit it
    * as a "duplicate" of its entire candidate bucket. Trainers need the
    * guard independently: max() also treats NaN as largest, so one NaN
    * element turns sq8Bounds' scales NaN (every corpus code overflows)
    * and a dirty seed or Lloyd member poisons a k-means/PQ centroid.
    *
    * ONE norm predicate catches every class — the norm aggregates every
    * element, so NULL vector → null norm, NaN element → NaN norm, ±Inf
    * element → Inf norm, zero vector → 0 — and `0 < norm < +Inf` rejects
    * all of them (NaN fails `< +Inf`: Spark orders NaN above it; null
    * fails the WHERE). Null ELEMENTS are deliberately NOT dirty:
    * graft_dot reads them as 0 (its dense-by-contract rule), so a
    * null-padded vector behaves as its zero-filled twin throughout.
    * DirtyVectorSpec pins the contract end to end. */
  /** Widen a SMALL relation that feeds a quadratic or exploding scan
    * (the brute-force cross join, the PQ broadcast-LUT join): see
    * [[graft.util.Widen]] for the mechanism and its three scale guards
    * (unclamped byte ceiling, byte floor, 4×-cores granularity for the
    * sorting pair-stream tasks). Floor = 64 KB here, not the generic
    * 1 MB: bytes under-count QUADRATIC work — a 780 KB 2,000-vector
    * corpus is 4M scored-and-sorted pairs, measured as a single 3.7 s
    * task at sf0.1 (e16) and 2.5 s at 10× (e18's planted corpus) when
    * the 1 MB floor skipped them (SCALING.md "Round 18: the … sweep,
    * industrialized (all 157 gates)"). 64 KB
    * still excludes the unit-test fixtures (tens of rows, a few KB),
    * which is all the floor exists for. */
  private def widened(df: DataFrame): DataFrame =
    graft.util.Widen.widened(df, floorBytes = 64L << 10)

  // NOTE on the widened(q) cross-join contract (ADVICE r17, resolved by
  // measurement in round 18): the repartition only buys parallelism when
  // the corpus side is broadcast (BNLJ streams q; scan width = q's
  // partition count). When the corpus outgrows broadcast the plan
  // degrades to CartesianProduct and the q exchange is dead weight —
  // but a STATIC gate on the corpus' plan-stat size was tried and
  // REVERTED: optimizer estimates overshoot on projected plans (e15's
  // JL-projected corpus read as > threshold while AQE broadcast it at
  // runtime from actual sizes), and the gate silently un-widened e15's
  // scan (6.9 → 7.7 s at 10×). The documented trade instead: the waste
  // case costs ONE exchange of a relation widened()'s own byte ceiling
  // already bounds small; the un-widened case costs a serial quadratic
  // scan. Cheap-and-rare beats wrong-and-measured.

  private def usableVec(v: Column): Column =
    call_function("graft_finite_norm", v)
  /** [[usableVec]] applied to a raw (id, vec) relation — the entry guard
    * every public scoring/training path routes its sides through. The
    * predicate is ONE native fused pass ([[graft.functions.expressions.FiniteNorm]]):
    * a composed `nnorm(v) > 0 && nnorm(v) < Inf` gets its alias SUBSTITUTED
    * when pushed below a projection, duplicating the whole norm subtree per
    * comparison — on expression-backed vectors (projectedTopK's projection
    * array) that blew whole-stage codegen past janino's 64 KB method limit
    * and the stage silently fell back to interpreted execution. */
  private def usable(df: DataFrame, vecCol: String): DataFrame =
    df.filter(usableVec(col(vecCol)))

  /** Exact top-k cosine neighbors for each query vector.
    * queries/corpus: (idCol, vecCol). Returns (query_id, neighbor_id,
    * cosine, rank) with rank 1..k, self-matches excluded.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    useNative(queries)
    // norms are per-vector, so compute them per SIDE (O(|q|+|c|) dots)
    // before the join rather than per pair (O(|q|*|c|) extra dots);
    // dirty rows drop per the [[usableVec]] contract
    val q = usable(queries, vecCol).select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), nnorm(col(vecCol)).as("qn"))
    val c = usable(corpus, vecCol).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), nnorm(col(vecCol)).as("cn"))
    // the vectors are projected away BEFORE the rank window: the window
    // exchange repartitions its whole input on query_id, and carrying
    // qv/cv through it costs O(|q|·|c| · vector width) shuffle bytes —
    // ~2 GB at the 2,000² dim-64 e16 scale — for columns the ranking
    // never reads. Scoring is map-side on the codegen'd cross-join scan.
    // the planner broadcasts the corpus side (BuildRight) and streams q:
    // scan parallelism = q's partition count — widen it (see [[widened]]
    // and the contract note above it: unconditional by measurement)
    val scored = widened(q).crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Mutual k-NN graph over the corpus — the local-density clustering /
    * manifold-learning primitive: an undirected edge (a, b) exists iff
    * a is in b's top-k AND b is in a's top-k (mutuality prunes hub
    * vertices that merely appear in everyone's neighbor list). Built
    * from one corpus-vs-corpus top-k pass; the mutual filter is a
    * self-join of that |corpus|·k-row result on the reversed key — never
    * a second scan. Returns (a, b, cosine rounded 6 dp) with a < b.
    *
    * Scale shape: the exact tier is the O(n²) scan (the e1 family —
    * swap [[ivfTopK]]/[[projectedTopK]] in as the candidate stage at
    * corpus scale); the mutual join is |corpus|·k vs |corpus|·k,
    * hash-keyed on the pair. */
  def mutualKnnGraph(corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val knn = bruteForceTopK(corpus, corpus, k, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .localCheckpoint(true)
    mutualOf(knn)
  }

  /** IVF-backed approximate tier of [[mutualKnnGraph]] — the corpus-scale
    * path: candidate neighbor lists come from [[ivfTopK]] (centroid-
    * bucketed, ~|corpus|·nProbe/nlist scored pairs per vector instead of
    * |corpus|²), then the same reversed-key mutuality semi-join. The
    * exact tier (e16) stays the verification anchor. Measured on
    * CLUSTERED geometry (the real-embedding corpus class —
    * PlantedCorpus, SCALING.md "Round 12 — … mutual-kNN on clustered
    * geometry"): 0.988 recall
    * at 0.17× the exact wall at n=10k with nProbe=2, nAssign=1, and the
    * gap widens with n; single assignment is the right default
    * (nAssign=2 doubles candidate volume for ~1% recall). On
    * near-ISOTROPIC corpora no sublinear probe fraction holds recall
    * (the round-11 negative result, SCALING.md) — prefer the exact tier
    * there. Floor pinned in RecallSpec on the clustered corpus.
    * Returns (a, b, cosine 6 dp), a < b. */
  def mutualKnnGraphIvf(corpus: DataFrame, k: Int, nCentroids: Int,
      nProbe: Int = 2, nAssign: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val knn = ivfTopK(corpus, corpus, k, nCentroids, nProbe,
        idCol, vecCol, nAssign = nAssign)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .localCheckpoint(true)
    mutualOf(knn)
  }

  /** [[mutualKnnGraph]] with [[projectedTopK]] candidate lists — the
    * tier that MEASURED best on the near-isotropic synthetic corpus
    * (IVF candidates at any sublinear probe fraction collapsed to
    * ≤ 0.72 recall there — MutualKnnProbe; the projected prefilter
    * holds ≥ 0.9, the e15 finding's corpus-wide dual). Same mutuality
    * semi-join; (a, b, cosine 6 dp), a < b. */
  def mutualKnnGraphProjected(corpus: DataFrame, k: Int, outDim: Int = 32,
      shortlist: Int = -1,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val knn = projectedTopK(corpus, corpus, k, outDim, shortlist,
        idCol = idCol, vecCol = vecCol)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
      .localCheckpoint(true)
    mutualOf(knn)
  }

  private def mutualOf(knn: DataFrame): DataFrame = {
    val rev = knn.select(col("neighbor_id").as("query_id"),
      col("query_id").as("neighbor_id"))
    knn.join(rev, Seq("query_id", "neighbor_id"), "left_semi")
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("a"), col("neighbor_id").as("b"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998):
    * diversified top-k — greedily pick, per query, the candidate
    * maximizing λ·rel(q, d) − (1−λ)·max_{s ∈ selected} sim(d, s), so
    * results cover the neighborhood instead of k copies of one cluster
    * (the retrieval-diversity op every RAG stack bolts on). Relevance
    * and inter-candidate similarity are both cosine.
    *
    * Scale shape: the candidate pool is the top-`candidates` relevance
    * shortlist per query (one [[bruteForceTopK]]-shaped pass — compose
    * with an ANN tier upstream for sublinear pools), pairwise sims are
    * C²-per-query over the SHORTLIST only (never the corpus), and each
    * of the k greedy rounds is one join + max-penalty aggregation +
    * argmax min_by — all map-side combinable, lineage cut per round.
    * First pick = pure relevance (empty penalty = 0, the classic
    * definition); ties break to the smaller id everywhere.
    *
    * Returns (query_id, neighbor_id, mmr_rank, mmr_score rounded 6 dp).
    * Queries with fewer than k candidates emit what they have. */
  def mmrTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      lambda: Double = 0.7, candidates: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"mmrTopK: k must be >= 1, got $k")
    require(lambda >= 0 && lambda <= 1, s"mmrTopK: lambda must be in [0,1], got $lambda")
    require(candidates >= k, s"mmrTopK: candidates ($candidates) must be >= k ($k)")
    useNative(queries)
    val cands0 = bruteForceTopK(queries, corpus, candidates, idCol, vecCol)
      .select(col("query_id"), col("neighbor_id").as("id"), col("cosine").as("rel"))
      .join(corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
        nnorm(col(vecCol)).as("n")), "id")
    // FUSED tier (round 22, VERDICT r21 #3, guide §4): the k−1 greedy
    // rounds are inherently sequential PER QUERY but the shortlist is
    // tiny (≤ `candidates` rows), so the whole greedy runs in ONE
    // codegen'd expression over the query's collected shortlist
    // ([[expressions.MmrGreedy]] — bit-identity contract in its doc)
    // instead of k−1 sequential job rounds each paying a join, an
    // aggregation, an argmax and a localCheckpoint of driver floor.
    // One exchange (the shortlist groupBy) replaces them all. Declines
    // non-FLOAT vector columns (the packed loop reads floats); conf
    // spark.graft.mmr.fused=false forces the join-shaped rounds (the
    // tests' equality pin).
    val fusedMmr = (corpus.schema(vecCol).dataType match {
      case t: org.apache.spark.sql.types.ArrayType =>
        t.elementType == org.apache.spark.sql.types.FloatType
      case _ => false
    }) && corpus.sparkSession.conf.get("spark.graft.mmr.fused", "true").toBoolean
    if (fusedMmr) {
      import org.apache.spark.sql.graft.ColumnOf
      val short = cands0.groupBy(col("query_id"))
        .agg(collect_list(struct(col("id"), col("rel"), col("v"), col("n"))).as("shortlist"))
      val picks = ColumnOf(expressions.MmrGreedy(
        ColumnOf.expr(col("shortlist")), k, lambda))
      return short.select(col("query_id"), explode(picks).as("p"))
        .select(col("query_id"), col("p.id").as("neighbor_id"),
          col("p.mmr_rank").as("mmr_rank"),
          round(col("p.mmr_score"), 6).as("mmr_score"))
    }
    val cands = cands0.localCheckpoint(true)
    val pairs = cands.select(col("query_id"), col("id").as("a"),
        col("v").as("av"), col("n").as("an"))
      .join(cands.select(col("query_id"), col("id").as("b"),
        col("v").as("bv"), col("n").as("bn")), "query_id")
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"),
        (ndot(col("av"), col("bv")) / (col("an") * col("bn"))).as("sim"))
      .localCheckpoint(true)
    val lam = lit(lambda)
    // round 1: pure relevance argmax
    var selected = cands.groupBy(col("query_id"))
      .agg(min_by(struct(col("id"), col("rel")), struct(-col("rel"), col("id"))).as("p"))
      .select(col("query_id"), col("p.id").as("id"), lit(1).as("mmr_rank"),
        (lam * col("p.rel")).as("mmr_score"))
      .localCheckpoint(true)
    var i = 2
    while (i <= k) {
      val remaining = cands.join(selected.select(col("query_id"), col("id")),
        Seq("query_id", "id"), "left_anti")
      val pen = remaining
        .join(pairs.withColumnRenamed("a", "id"), Seq("query_id", "id"))
        .join(selected.select(col("query_id"), col("id").as("b")), Seq("query_id", "b"))
        .groupBy(col("query_id"), col("id"))
        .agg(first(col("rel")).as("rel"), max(col("sim")).as("penalty"))
      val pick = pen
        .withColumn("score", lam * col("rel") - (lit(1.0) - lam) * col("penalty"))
        .groupBy(col("query_id"))
        .agg(min_by(struct(col("id"), col("score")),
          struct(-col("score"), col("id"))).as("p"))
        .select(col("query_id"), col("p.id").as("id"), lit(i).as("mmr_rank"),
          col("p.score").as("mmr_score"))
      selected = selected.unionByName(pick).localCheckpoint(true)
      i += 1
    }
    selected.select(col("query_id"), col("id").as("neighbor_id"),
      col("mmr_rank").cast("long").as("mmr_rank"),
      round(col("mmr_score"), 6).as("mmr_score"))
  }

  /** Deterministic pseudo-random hyperplanes: dim × bits doubles in [-1,1),
    * seeded — same planes on every executor/run. */
  private def hyperplanes(dim: Int, bits: Int, table: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed + table * 7919)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextDouble() * 2 - 1))
  }

  /** B-bit random-hyperplane signature of a vector column. Zero planes →
    * constant bucket 0 (the degenerate exhaustive configuration: every
    * vector shares one bucket, so the bucket join is the full cross
    * product — the verification tier of the LSH path). */
  def lshSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    if (planes.isEmpty) lit(0L)
    else planes.zipWithIndex.map { case (p, i) =>
      val planeCol = array(p.map(lit): _*)
      when(dot(vec, planeCol) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Native single-pass B-bit signature ([[graft.functions.expressions.LshSignature]]):
    * bit-identical to the composed per-plane `when(ndot >= 0, 1L << i)`
    * OR-reduction, but the vector column is decoded once per row instead
    * of once per BIT (round 19 — d4's signature work was the top sf1 CPU
    * line; parity pinned in PipelineSpec). */
  private def nativeSignature(vec: Column, planes: Seq[Seq[Double]]): Column =
    if (planes.isEmpty) lit(0L)
    else call_function("graft_lsh_sig", vec,
      array(planes.flatten.map(lit): _*), lit(planes.size))

  /** Margin-ordered multi-probe buckets for the QUERY side (Lv et al.,
    * VLDB 2007): the base signature plus up to `probes` Hamming-1
    * neighbors — flipping the bits whose hyperplane margin |dot| is
    * smallest first, those being the bits most likely to land a true
    * neighbor on the other side — plus up to `probes2` Hamming-2
    * neighbors (PAIRS of the lowest-margin bits, ordered by combined
    * margin: the perturbation-sequence idea from the paper truncated at
    * weight 2). Probing only ever widens the query's bucket list; the
    * corpus side keeps one bucket per vector, so index size and the
    * per-bucket join shape are unchanged and candidate volume grows by
    * at most (1 + probes + probes2)×. Every emitted bucket is distinct
    * by construction (weight-0/1/2 flips of distinct bit sets differ).
    *
    * ONE native single-pass expression
    * ([[graft.functions.expressions.LshProbeBuckets]], round 19): the
    * composed sort_array/transform/flatten pipeline re-decoded the vector
    * 2·bits times per (row, table) — bits signature dots plus bits margin
    * dots, CSE does not reach across the when/struct branches — and ran
    * the H1/H2 fan-out through interpreted HigherOrderFunctions. Same
    * dots, same slice windows, same (m, i)/(mm, b) tie-breaks —
    * bit-identical bucket lists, parity pinned in PipelineSpec. */
  private def probeBuckets(vec: Column, planes: Seq[Seq[Double]], probes: Int,
      probes2: Int = 0): Column =
    if (planes.isEmpty) array(lit(0L))
    else call_function("graft_lsh_probes", vec,
      array(planes.flatten.map(lit): _*), lit(planes.size),
      lit(probes), lit(probes2))

  /** LSH-bucketed approximate top-k: union of per-table bucket joins,
    * exact cosine on the candidates, global top-k per query. `probes` > 0
    * adds margin-ordered Hamming-1 multi-probe on the query side (see
    * [[probeBuckets]]) — the standard recall lever when buckets are fine
    * relative to the corpus (recall tracking vs the exact twin showed
    * 0.024 at bits=10/tables=4 on the isotropic gate corpus; full
    * Hamming-1 probing lifts candidate coverage ~(1+bits)× at the same
    * index). */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bits: Int = 12, tables: Int = 4, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probes: Int = 0, probes2: Int = 0): DataFrame = {
    useNative(queries)
    val q = usable(queries, vecCol).select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), nnorm(col(vecCol)).as("qn"))
    val c = usable(corpus, vecCol).select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), nnorm(col(vecCol)).as("cn"))
    val cands0 = (0 until tables).map { t =>
      val planes = hyperplanes(dim, bits, t, seed)
      q.withColumn("bucket", explode(probeBuckets(col("qv"), planes, probes, probes2)))
        .join(c.withColumn("bucket", nativeSignature(col("cv"), planes)), "bucket")
        .drop("bucket")
    }.reduce(_ unionByName _)
      .filter(col("query_id") =!= col("neighbor_id"))
    // score FIRST, map-side on the bucket-join output, and project the
    // vectors away BEFORE any exchange (the d9/d4 score-then-dedup
    // restructure): the cross-table dedup and the per-query rank window
    // both shuffle their input, and pre-restructure BOTH exchanges
    // carried qv/cv per candidate row. Duplicate (q,c) copies score
    // bit-identically (same two vectors, same expression), so deduping
    // after scoring keeps the exact same rows — now at (query_id,
    // neighbor_id, cosine) width.
    val scored0 = cands0.withColumn("cosine",
        ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    // single table → one bucket per CORPUS vector and distinct probe
    // buckets per query (base + distinct weight-1/2 flips) → no duplicate
    // (q,c) pairs; skip the dedup shuffle (matters for the bits=0
    // exhaustive config)
    val scored = if (tables == 1) scored0
      else scored0.dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Table count for the adaptive-LSH configuration (`tables <= 0` with
    * `bits <= 0`) — shared by [[cosineDuplicates]] and
    * [[semanticDecontam]] so the self-join and cross-corpus tiers can
    * never drift apart on the scale rule.
    *
    * H1 form (round 15): adaptive bits hold per-bucket work constant as
    * n grows, but each added bit multiplies a threshold-angle pair's
    * per-table hit probability by c = 1 − θ/π (random-hyperplane LSH,
    * Charikar 2002), so FIXED tables decay in recall with log n —
    * measured at 10×: 0.417 at the 1×-tuned tables=8, back to 0.990 at
    * 64. Holding the miss probability (1 − c^bits)^T constant as bits
    * grows by Δ needs T ∝ c^−Δ; anchor = (8 tables @ 6 bits, the n=2000
    * sweet spot where recall measured 1.00).
    *
    * autoH2 form (SCALING.md "Round 16: the crossover becomes
    * executable — and d4's recall price halved"): with full Hamming-2
    * probing, H2 probes multiply PER-TABLE coverage far cheaper than
    * extra tables (each extra table costs a bucket join + union + dedup
    * input; a probe only widens one side's bucket list) — measured at
    * 10×: 16 tables + H2 = recall 0.977 at 22.5 s vs the H1 formula's
    * 58 tables = 0.975 at 47.1 s. Table count holds the ANCHOR's total
    * miss probability (1 − p1hit(6 bits))^8 under the H≤2 per-table hit
    * rate p2hit(b) = c^b + b·c^(b−1)(1−c) + C(b,2)·c^(b−2)(1−c)², with
    * a 1.35 safety margin calibrated to that measured 16-table point
    * (the raw closed form gives 12 there).
    *
    * Capped at 64 (the measured-good point; beyond it the cross-table
    * dedup exchange dominates); floored at the hand-tuned 8 — below the
    * n=2000 anchor the formulas would SHRINK tables, trading recall for
    * work that is already cheap: the knob exists to stop decay at
    * scale, not to thin small corpora. Threshold clamped BOTH ends
    * (ADVICE r15): acos(< −1) is NaN and ceil(NaN).toInt == 0 would
    * silently floor an invalid threshold to 8 tables. */
  private def adaptiveTables(b: Int, threshold: Double, autoH2: Boolean): Int = {
    val c = 1.0 - math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    if (autoH2 && b > 6) {
      val p1a = math.pow(c, 6) + 6 * math.pow(c, 5) * (1 - c)
      val p2 = math.pow(c, b) + b * math.pow(c, b - 1) * (1 - c) +
        b * (b - 1) / 2.0 * math.pow(c, b - 2) * (1 - c) * (1 - c)
      val lnMiss = 8 * math.log(1 - p1a)
      math.min(64, math.max(8, math.ceil(1.35 * lnMiss / math.log(1 - p2)).toInt))
    } else
      math.min(64, math.max(8, math.ceil(8.0 * math.pow(c, -(b - 6).toDouble)).toInt))
  }

  /** The LSH candidate-pair core of [[cosineDuplicates]] (self-join:
    * `probeRel` and `build` are the same relation) and
    * [[semanticDecontam]] (`cross`: the corpus probes the reference). Both
    * share the sizing, the hyperplanes, the signature/probe expressions
    * and exactly three tiers; they differ only in the membership rule
    * (self-join pairs are a<b, cross pairs are every (doc, ref)) and the
    * output projection (`aId`/`bId` names; decontam rounds cosine to 6
    * dp). Dirty rows are already gone from both relations.
    *
    * Fixed bits do NOT survive corpus growth: per-bucket pair count grows
    * with (n/2^bits)², so 4× data at constant bits ≈ 16× candidate pairs
    * (measured 8.2× wall on the 4× corpus). bits <= 0 → size buckets to
    * the PROBE side's usable population: bits = log2(n/32), keeping
    * expected bucket size (≈32, the hand-tuned sweet spot at n=2000) —
    * and therefore per-bucket work — constant as the corpus scales; the
    * multi-table union covers the per-table recall loss. n comes from a
    * session-memoized count so a repeatedly-called API pays the sizing
    * action once per corpus plan. exhaustive = the verification tier
    * (one table, zero-bit signature = one bucket = all pairs): EXACT
    * cosine-threshold pairs, the oracle-checkable form. */
  private def lshPairs(probeRel: DataFrame, build: DataFrame, cross: Boolean,
      aId: String, bId: String, threshold: Double, dim: Int, bits: Int, tables: Int,
      seed: Long, idCol: String, vecCol: String, exhaustive: Boolean,
      probes: Int, probes2: Int): DataFrame = {
    val (nBits, nTables) =
      if (exhaustive) (0, 1)
      else if (bits > 0) {
        require(tables > 0,
          s"${if (cross) "semanticDecontam" else "cosineDuplicates"}: adaptive tables " +
            "(<= 0) needs adaptive bits (bits <= 0) — the table formula is anchored " +
            "to the resolved bit width")
        (bits, tables)
      } else {
        val n = corpusCount(probeRel)
        val b = math.max(2, math.ceil(math.log(math.max(n, 128L) / 32.0)
          / math.log(2.0)).toInt)
        (b, if (tables > 0) tables else adaptiveTables(b, threshold, autoH2 = probes2 < 0))
      }
    // probes2 < 0 → FULL Hamming-2 at the resolved width, but only once
    // the corpus outgrew the 6-bit anchor: below it the H1 configuration
    // already measures recall 1.00 and the extra C(b,2) probe rows would
    // be pure cost — so the auto setting is byte-identical to probes2 = 0
    // at every driver scale and engages exactly where the table formula
    // starts trading (the "stop decay at scale, don't thin small
    // corpora" contract of the floor-at-8).
    val p2n =
      if (probes2 < 0) { if (nBits > 6) nBits * (nBits - 1) / 2 else 0 }
      else probes2
    // probes < 0 → full Hamming-1 at the RESOLVED bit width (a caller
    // can't spell "probe every bit" before the adaptive sizing). When
    // auto-H2 ENGAGES, full Hamming-1 is FORCED regardless of `probes`
    // (ADVICE r16 medium): [[adaptiveTables]]' autoH2 branch prices
    // per-table coverage as base + ALL H1 flips + ALL C(b,2) H2 pairs,
    // and [[probeBuckets]] caps the H2 pair pool at the H1 window
    // max(probes, 2) — probes = 0 would silently collapse recall at scale.
    val p1 = if (probes < 0 || p2n > 0 && probes2 < 0) nBits else probes
    // multi-probe (Hamming-1/2, margin-ordered — see [[probeBuckets]])
    // widens ONE side: the probed side's bucket LIST joins the build
    // side's single base bucket, so candidates grow at most
    // (1 + p1 + p2n)×. In a self-join both orientations of a pair are
    // distinct probe events, so the probed membership canonicalizes with
    // least/greatest and dedups; unprobed keeps the a<b filter, which
    // needs no dedup shuffle at one table.
    val probed = p1 > 0 || p2n > 0
    val mode =
      if (cross) ScoreBucketBlock.Cross
      else if (probed) ScoreBucketBlock.SelfProbed
      else ScoreBucketBlock.SelfUnprobed
    // the cross probe side is widened (round 19): the exhaustive tier's
    // plan is a BNLJ streaming the corpus against the broadcast
    // reference, and a range-filtered corpus can land in one file split
    // (the d15 gate ran its whole |corpus|·|reference| dot stream as ONE
    // task at 10×); a stats-guarded no-op at scale
    val a0 = probeRel.select(col(idCol).as(aId), col(vecCol).as("av"),
      nnorm(col(vecCol)).as("an"))
    val a = if (cross) widened(a0) else a0
    val b = build.select(col(idCol).as(bId), col(vecCol).as("bv"),
      nnorm(col(vecCol)).as("bn"))
    def member(df: DataFrame): DataFrame = mode match {
      case ScoreBucketBlock.SelfUnprobed => df.filter(col(aId) < col(bId))
      case ScoreBucketBlock.SelfProbed => // cosine is symmetric: vectors need no swap
        df.filter(col(aId) =!= col(bId))
          .select(least(col(aId), col(bId)).as(aId), greatest(col(aId), col(bId)).as(bId),
            col("av"), col("an"), col("bv"), col("bn"))
      case _ => df
    }
    def emit(c: Column): Column = (if (cross) round(c, 6) else c).as("cosine")
    // per-pair cosine FIRST, then the threshold, then the cross-table
    // dedup (the d9 score-then-dedup restructure): scoring is map-side on
    // the bucket-join output and bit-deterministic across copies (same
    // two vectors, element-wise products commute, same summation order),
    // so the threshold keeps all copies or none and the dedup exchange
    // carries only passing (aId, bId, cosine) rows, never embeddings
    def score(df: DataFrame): DataFrame = df
      .withColumn("cosine", ndot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cosine") >= threshold)
      .select(col(aId), col(bId), emit(col("cosine")))
    // TIERS (round 21 scale guard, round 22 fusion; D4ScaleProbe and
    // D15ScaleProbe). All three reuse the same hyperplanes and
    // signature/probe expressions → identical candidate sets, and score
    // each pair by the same arithmetic → bit-identical rows (pinned in
    // PipelineSpec by forcing each tier at gate scale via the broadcast
    // threshold and the budget conf):
    //
    //  1. PER-TABLE UNION while the build side broadcasts — one bucket
    //     join per table, each broadcast by the planner: the measured-
    //     fastest gate-scale shape (a posexplode'd composite-key join
    //     measured 14% slower at sf0.1). The bench and the gates run it.
    //  2. FUSED BROADCAST past the planner threshold but within the
    //     explicit budget (`spark.graft.lsh.broadcastBudgetBytes`, default
    //     512 MB/relation — the guide's "a few hundred MB" point): past
    //     the threshold every tier-1 branch would degrade to a shuffle
    //     join carrying the probe-exploded vectors (ENOSPC at the d4 100×
    //     point, round 21). Instead the build side's (table, bucket) id
    //     blocks broadcast, [[ScoreBucketBlock]] scores a probe row
    //     against its whole block in one codegen'd call over a
    //     [[PackedVectors]] broadcast, and only passing pairs are emitted
    //     — the probe stream never crosses an exchange (−30% steady vs
    //     the join-shaped form at d4/d15 100×).
    //  3. COMPOSITE-KEY SORT-MERGE past the budget, or when the build
    //     side cannot pack (non-integral, null or duplicate ids): the
    //     per-table buckets posexplode into ONE (table, bucket)-keyed
    //     join per side with the vectors riding, so the same bytes cross
    //     in TWO exchanges instead of 2·nTables. Correct for any input.
    //     A vector-free metadata-only variant was measured slower at
    //     every dim and deleted (SCALING.md, round 22 negative).
    val bigBuild = (probed || nTables > 1) &&
      build.queryExecution.optimizedPlan.stats.sizeInBytes >
        build.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (!bigBuild) {
      val raw = (0 until nTables).map { t =>
        val planes = hyperplanes(dim, nBits, t, seed)
        val aB =
          if (!probed) a.withColumn("bucket", nativeSignature(col("av"), planes))
          else a.withColumn("bucket", explode(probeBuckets(col("av"), planes, p1, p2n)))
        aB.join(b.withColumn("bucket", nativeSignature(col("bv"), planes)), "bucket")
          .drop("bucket")
      }.reduce(_ unionByName _)
      val scored = score(member(raw))
      if (nTables == 1 && !probed) scored else scored.dropDuplicates(aId, bId)
    } else {
      val planesAll = (0 until nTables).map(t => hyperplanes(dim, nBits, t, seed))
      def signatures(v: String): Column =
        posexplode(array(planesAll.map(p => nativeSignature(col(v), p)): _*))
      def bucketsOfA(p: Seq[Seq[Double]]): Column =
        if (probed) probeBuckets(col("av"), p, p1, p2n)
        else array(nativeSignature(col("av"), p))
      val aB = a
        .select(col(aId), col("av"), col("an"),
          posexplode(array(planesAll.map(bucketsOfA): _*)))
        .select(col(aId), col("av"), col("an"),
          col("pos").as("tbl"), explode(col("col")).as("bucket"))
      // sizes from the memoized exact count, never plan-stat estimates (the
      // e15 lesson: estimates overshoot on derived plans): bucket blocks ≈
      // 20 B·nTables·n, packed vectors ≈ (element width·dim + 48)·n
      val n = corpusCount(build)
      val budget = build.sparkSession.conf
        .get("spark.graft.lsh.broadcastBudgetBytes", (512L << 20).toString).toLong
      val vecBytes = (PackedVectors.elemBytes(build.schema(vecCol).dataType) * dim + 48L) * n
      val packed =
        if (math.max(20L * nTables * n, vecBytes) <= budget)
          PackedVectors.pack(build, idCol, vecCol)
        else None
      packed match {
        case Some(pk) =>
          val bc = build.sparkSession.sparkContext.broadcast(pk)
          val blocks = build
            .select(col(idCol).cast(LongType).as("bid"), signatures(vecCol))
            .groupBy(col("pos").as("tbl"), col("col").as("bucket"))
            .agg(sort_array(collect_list(col("bid"))).as("bids"))
          val probe = if (cross) Seq(col("av"), col("an")) else Seq(col(aId).cast(LongType))
          import org.apache.spark.sql.graft.ColumnOf
          val hits = ColumnOf(ScoreBucketBlock((probe :+ col("bids")).map(ColumnOf.expr),
            bc, threshold, mode))
          // ids were packed as BIGINT: cast back so the schema is the tier-1 one
          val pairs = aB.join(broadcast(blocks), Seq("tbl", "bucket"))
            .select(col(aId), explode(hits).as("hit"))
            .select(col(aId), col("hit.doc_b").cast(build.schema(idCol).dataType).as(bId),
              emit(col("hit.cosine")))
          val out =
            if (mode != ScoreBucketBlock.SelfProbed) pairs // Cross/SelfUnprobed filter in-kernel
            else pairs.select(least(col(aId), col(bId)).as(aId),
              greatest(col(aId), col(bId)).as(bId), col("cosine"))
          out.dropDuplicates(aId, bId)
        case None =>
          val bB = b
            .select(col(bId), col("bv"), col("bn"), signatures("bv"))
            .select(col(bId), col("bv"), col("bn"),
              col("pos").as("tbl"), col("col").as("bucket"))
          score(member(aB.join(bB, Seq("tbl", "bucket")).drop("tbl", "bucket")))
            .dropDuplicates(aId, bId)
      }
    }
  }

  /** Embedding-cosine near-duplicate pairs (cosine ≥ threshold, a<b) via
    * LSH candidates — the embedding-space analogue of Dedup.minHash.
    * Returns (doc_a, doc_b, cosine); the tiers are [[lshPairs]]'.
    * DEFAULTS are the auto-calibrated scale-safe forms (round 17, the r16
    * verdict's one weak): `bits = -1` (buckets sized from the corpus),
    * `tables = -1` (the [[adaptiveTables]] scale rule), `probes2 = -1`
    * (auto Hamming-2 past the 6-bit anchor, which forces full Hamming-1)
    * — the builder's own 10× probes measured the old manual defaults
    * (bits=12, tables=4) silently decaying (recall 0.417-class) while
    * the auto forms hold ≥ 0.97 at every measured scale. Explicit
    * bits/tables remain the zero-sizing-jobs fast path when the corpus
    * class is known.
    * Unlike [[lshTopK]] there is NO per-query rank window: thresholding
    * needs only candidate → score → filter, so the candidate set streams
    * through one codegen'd projection instead of a shuffle+sort per query
    * partition (that window made this quadratic-ish on duplicate-heavy
    * corpora). */
  def cosineDuplicates(vectors: DataFrame, threshold: Double, dim: Int,
      bits: Int = -1, tables: Int = -1, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      exhaustive: Boolean = false,
      probes: Int = 0, probes2: Int = -1): DataFrame = {
    useNative(vectors)
    val vs = usable(vectors, vecCol) // dirty rows are never duplicates
    lshPairs(vs, vs, cross = false, "doc_a", "doc_b", threshold, dim, bits, tables,
      seed, idCol, vecCol, exhaustive, probes, probes2)
  }

  /** Embedding-space decontamination: every (corpus, reference) pair
    * with cosine ≥ threshold — the SEMANTIC complement of the n-gram
    * decontamination op (paraphrased test-set leakage that no token
    * overlap catches; the corpus side anti-joins the result to clean).
    * Cross-corpus [[cosineDuplicates]] through the same [[lshPairs]]
    * core: same seeded hyperplane tables bucket BOTH sides, exact cosine
    * decides — candidates ∝ bucket collisions, never
    * |corpus|×|reference|. `exhaustive = true` is the zero-bit
    * one-bucket verification tier (EXACT — the oracle-checkable form);
    * the reference side is usually small, so the exhaustive tier is
    * often affordable too (|corpus|×|ref| streamed through codegen, no
    * exchange). `probes` widens the CORPUS side's bucket list; adaptive
    * bits size from the corpus side, the tier guard reads the reference
    * side (a corpus-class reference is the dedup-against regime).
    *
    * Returns (doc_id, ref_id, cosine rounded 6 dp) — one row per
    * contaminated pair; distinct doc_ids are the removal set.
    * DEFAULTS are the auto-calibrated scale-safe forms (round 17):
    * `bits = -1` / `tables = -1` / `probes2 = -1` — the same contract
    * and rationale as [[cosineDuplicates]]. */
  def semanticDecontam(corpus: DataFrame, reference: DataFrame,
      threshold: Double, dim: Int,
      bits: Int = -1, tables: Int = -1, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      exhaustive: Boolean = false, probes: Int = 0,
      probes2: Int = -1): DataFrame = {
    useNative(corpus)
    lshPairs(usable(corpus, vecCol), usable(reference, vecCol), cross = true,
      "doc_id", "ref_id", threshold, dim, bits, tables, seed, idCol, vecCol,
      exhaustive, probes, probes2)
  }

  /** Pre-builds the session-memoized centroid table [[semanticDedup]]
    * trains on (nClusters = -1 → the same ceil(n/256) sizing rule) —
    * the bench/pipeline warm hook: with training owned by a build
    * phase, clustering-backed dedup then times its QUERY stage, the
    * same cost-attribution discipline as the shared graph warmup
    * (round-11 bench: d9 read 24.8 s of which ~17 s was first-touch
    * training that every later consumer got for free). Returns the
    * number of centroids built. */
  def warmClusterIndex(vectors: DataFrame, nClusters: Int = -1,
      lloydIters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding"): Long = {
    useNative(vectors)
    val k =
      if (nClusters >= 1) nClusters
      else math.max(1, math.ceil(
        corpusCount(usable(vectors, vecCol)) / 256.0).toInt)
    centroidsCached(vectors, k, idCol, vecCol, lloydIters).count()
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    * CLUSTER-LOCAL exhaustive search — the published recipe for
    * embedding-level dedup of web-scale training data, and a different
    * candidate structure than [[cosineDuplicates]]'s hash buckets:
    * k-means clusters follow the data's density, so near-duplicates land
    * in the same cluster with high probability regardless of how they
    * hash. Cluster the corpus with the IVF coarse quantizer
    * ([[ivfCentroids]]), then keep cosine ≥ threshold pairs WITHIN each
    * cluster. Emits (doc_a, doc_b, cosine, cluster_id), a<b — feed to
    * [[graft.functions.Dedup.duplicateClusters]] for keeper selection
    * exactly like the text-dedup pair stages.
    *
    * Scale shape: one centroid pass (linear, the [[ivfCentroids]] Lloyd
    * step), one assignment shuffle of |corpus| rows, then a self-join ON
    * cluster id — per-cluster pair product ≈ (n/k)², bounded overall by
    * k·(n/k)² = n²/k, and `maxClusterSize` drops degenerate mega-clusters
    * (the boilerplate-family analogue, same contract as the LSH
    * maxBucketSize caps). nClusters = 1 degenerates to the exhaustive
    * exact pair set — parity-pinned against
    * `cosineDuplicates(exhaustive = true)` in PipelineSpec.
    *
    * nClusters <= 0 sizes k FROM THE CORPUS: k = ceil(n/256), holding
    * expected cluster size (and so per-cluster pair work) constant as
    * the corpus grows — total candidate volume n²/k ≈ 256·n, linear in
    * n. The scale-correct default, same lesson as [[cosineDuplicates]]'s
    * adaptive bits (a fixed k at 16× data means 256× pairs); SemDeDup
    * itself grows k with the corpus. n comes from the session-memoized
    * count (one sizing job per corpus plan).
    *
    * nAssign > 1 = SOFT assignment, the Voronoi-boundary recall lever: a
    * vector belongs to its nAssign nearest clusters, so a pair split by
    * a cluster boundary is found whenever ANY cluster is shared.
    * Measured on the isotropic gate corpus at k=8: recall vs the exact
    * pair set 0.277 (nAssign=1) → 0.716 (2) → 0.953 (3), at ≤ nAssign²×
    * pair cost ([[assignTopM]]: one linear min_by pass per extra rank —
    * never a |corpus|·k window sort). Shared-cluster duplicates are
    * canonicalized and deduped; nAssign=1 keeps the original
    * no-dedup-shuffle single-assignment shape.
    *
    * SCALE CONTRACT for nAssign (round 15, D4ScaleRecallProbe at 10×
    * corpus, k = 79): as k grows with the corpus the Voronoi boundaries
    * get finer and a FIXED width recovers a shrinking share of
    * near-threshold pairs — recall 0.507 (nAssign=3, the k=8-tuned
    * value) → 0.862 (6) → 0.948 (8) → 0.999 (12) at near-flat wall
    * (7 → 15 s; the pair stage stays cluster-local). Rule of thumb:
    * grow nAssign ~ log₂ k (3 at k=8, 8–12 at k≈80). No closed form
    * exists, unlike [[cosineDuplicates]]'s auto-scaled tables: the
    * right width also depends on how isotropic the geometry is —
    * MEASURED (D9GeometryProbe, planted-cluster corpus at the same
    * n=20,000 / k=79): 0.881 / 0.993 / 1.000 at nAssign 1 / 2 / 3,
    * because the trained cells align with the duplicate structure on
    * clustered (real-embedding) data. So `nAssign = -1` MEASURES the
    * width instead (round 16, the r15 verdict's one open
    * quality-at-scale knob): a Monte-Carlo boundary-miss probe on the
    * TRAINED model and the ACTUAL corpus sample — see
    * [[calibratedAssignWidth]] — sized so a pair AT the threshold
    * radius shares a cluster with probability ≥ 95%. Auto is the
    * scale-safe default for an unknown corpus; an explicit width
    * remains the zero-extra-jobs fast path when the corpus class is
    * known (the probe tables in SCALING.md are that sizing guide).
    * `nAssign = -1` IS the default since round 17 (the r16 verdict's
    * one weak: defaults must be the scale-safe path). */
  def semanticDedup(vectors: DataFrame, threshold: Double, nClusters: Int,
      maxClusterSize: Long = 100000,
      idCol: String = "vec_id", vecCol: String = "embedding",
      nAssign: Int = -1): DataFrame = {
    useNative(vectors)
    val k =
      if (nClusters >= 1) nClusters
      else math.max(1, math.ceil(
        corpusCount(usable(vectors, vecCol)) / 256.0).toInt)
    // training rides the session memo (centroidsCached): deterministic, so
    // repeated dedup calls on the same corpus — and a bench/pipeline warm
    // phase via [[warmClusterIndex]] — share ONE Lloyd run; the memoized
    // table is already checkpointed, which the soft-assignment passes
    // need anyway (each pass re-reads it)
    val cents = centroidsCached(vectors, k, idCol, vecCol, lloydIters = 1)
    // nAssign < 0 → measure the width on the trained model (see the
    // scale-contract scaladoc above); >= 0 keeps the historical clamp
    val m = math.min(
      if (nAssign >= 0) math.max(nAssign, 1)
      else calibrateAssignWidth(vectors, cents, threshold, idCol, vecCol),
      k) // a pass past k has nothing to assign
    // dirty rows ([[usableVec]] contract) are never assigned — their
    // assignment cosine is 0/0, a job-killing DIVIDE_BY_ZERO under ANSI.
    // The RAW relation stays the trainer/calibration argument above so
    // the session memo keys match [[warmClusterIndex]]'s (the trainer
    // filters internally). NOT widened (round 20, measured negative):
    // the 5-task stages in d17's sweep suggested the e16/t6 file-split
    // class, but widening this relation measured 7.5 → 9.1 s at sf1 —
    // embedding rows are WIDE (the vector payload), so the round-robin
    // exchange ships real bytes for parallelism the assignment stage
    // didn't lack; the flagged stages are elsewhere (cluster-size skew
    // in the pair join, bounded by maxClusterSize).
    val vs = usable(vectors, vecCol)
    val assigned0 =
      if (m == 1) assignTo(vs, cents, idCol, vecCol)
      else assignTopM(vs, cents, idCol, vecCol, m)
    val assigned = assigned0
      .select(col(idCol).as("id"), col(vecCol).as("v"),
        nnorm(col(vecCol)).as("n"), col("centroid_id"))
    val small = assigned.groupBy("centroid_id")
      .agg(count(lit(1)).as("sz")).filter(col("sz") <= maxClusterSize)
      .select("centroid_id")
    val in = assigned.join(small, Seq("centroid_id"), "left_semi")
    val a = in.select(col("centroid_id"), col("id").as("doc_a"),
      col("v").as("av"), col("n").as("an"))
    val b = in.select(col("centroid_id"), col("id").as("doc_b"),
      col("v").as("bv"), col("n").as("bn"))
    val cands = a.join(b, "centroid_id")
      .filter(col("doc_a") < col("doc_b"))
    // per-pair cosine FIRST, then the threshold, then the soft-assignment
    // dedup. Soft assignment finds the same pair in every shared cluster;
    // the pre-round-13 shape deduped those copies before scoring — a
    // groupBy whose exchange carried BOTH embeddings per candidate row
    // (O(candidates · vector width) shuffle bytes, ~1 GB at the 2,000 ×
    // dim-64 × nAssign=3 bench scale). Scoring each copy in place is
    // map-side work on the cluster-local join output (never shuffled),
    // the threshold drops all-but-duplicates, and the dedup exchange
    // shrinks to O(passing pairs · 32 B) — the duplicate dots it re-buys
    // are codegen'd and shuffle nothing. Copies of a pair score
    // BIT-IDENTICALLY (same expression over the same two vectors,
    // whichever shared cluster the row came from), so the threshold
    // keeps all copies or none and first(cosine) is value-deterministic.
    // min(centroid_id), not dropDuplicates: the kept cluster_id is part
    // of the public output and must not depend on partition ordering.
    // Single assignment has no duplicates (each doc in exactly 1
    // cluster) — no dedup aggregation at all.
    val scored = cands
      .withColumn("cosine", ndot(col("av"), col("bv")) / (col("an") * col("bn")))
      .filter(col("cosine") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("cosine"), col("centroid_id"))
    val uniq = if (m == 1) scored
      else scored.groupBy(col("doc_a"), col("doc_b"))
        .agg(min(col("centroid_id")).as("centroid_id"),
          first(col("cosine")).as("cosine"))
    uniq.select(col("doc_a"), col("doc_b"), col("cosine"),
      col("centroid_id").as("cluster_id"))
  }

  /** The soft-assignment width [[semanticDedup]] resolves for
    * `nAssign = -1`, public so probes and pipelines can inspect the
    * decision (trains/reuses the same memoized centroids the dedup call
    * would). See [[calibrateAssignWidth]] for the measurement. */
  def calibratedAssignWidth(vectors: DataFrame, threshold: Double,
      nClusters: Int = -1, idCol: String = "vec_id",
      vecCol: String = "embedding"): Int = {
    useNative(vectors)
    val k =
      if (nClusters >= 1) nClusters
      else math.max(1, math.ceil(
        corpusCount(usable(vectors, vecCol)) / 256.0).toInt)
    val cents = centroidsCached(vectors, k, idCol, vecCol, lloydIters = 1)
    math.min(calibrateAssignWidth(vectors, cents, threshold, idCol, vecCol), k)
  }

  /** Measured soft-assignment width for [[semanticDedup]]'s
    * `nAssign = -1` (round 16; closes the r15 verdict's last
    * quality-at-scale knob): no closed form sizes the width because it
    * depends on corpus geometry — isotropic corpora at 10× needed
    * nAssign 8–12 where clustered ones saturate at 2–3
    * (D4ScaleRecallProbe / D9GeometryProbe, SCALING.md) — so measure the
    * boundary-miss rate of the TRAINED Voronoi cells on the ACTUAL
    * corpus instead.
    *
    * Monte-Carlo probe: take a deterministic hash-ordered sample of
    * corpus vectors; around each anchor `a`, synthesize `probesPer`
    * partners `b = a·cos α + u·sin α` (u = seeded random unit direction
    * orthogonal to a) at EXACTLY the threshold angle α = acos(threshold)
    * — the extremal pair geometry: every real duplicate pair sits at
    * cosine ≥ threshold, i.e. angle ≤ α, and the shared-cluster
    * probability is monotone in pair angle, so a width that catches
    * threshold-radius pairs catches every closer pair. Rows with a null
    * id or embedding are excluded from the sample (ADVICE r16): the
    * assignment passes tolerate them, so the calibration must degrade
    * gracefully on dirty corpora, not throw. For each (a, b),
    * rank centroids exactly as [[assignTo]]/[[assignTopM]] do (max
    * cosine, ties by cid, NaN last) and record m* = the smallest width
    * at which top-m(a) ∩ top-m(b) ≠ ∅. The calibrated width is the
    * (1 − targetMiss) quantile of m*, clamped to [1, cap].
    *
    * Scale shape: ONE sampling job (hash-ordered top-`sampleSize`) plus
    * a collect of the already-checkpointed centroid table — the same
    * table every assignment pass broadcasts, so the collect is inside
    * the operator's existing centroids-fit-on-one-node contract. Driver
    * math is sampleSize·(probesPer+1)·k·dim flops (≈ 10⁸ at k=10⁴) and
    * never touches the corpus again. Memoized per (session, corpus
    * plan, centroid config, threshold): repeated dedup calls — and
    * bench passes — measure once. Deterministic end to end (seeded
    * java.util.Random per (anchor id, probe index); the sample order is
    * a hash sort with id tie-break). */
  private val widthCache = new graft.util.SessionCache[Int]
  private def calibrateAssignWidth(vectors: DataFrame, cents: DataFrame,
      threshold: Double, idCol: String, vecCol: String,
      sampleSize: Int = 512, probesPer: Int = 4, targetMiss: Double = 0.05,
      cap: Int = 32, seed: Long = 42L): Int =
    widthCache(vectors.sparkSession,
      s"naw|${vectors.queryExecution.logical.semanticHash()}|" +
        s"${cents.queryExecution.logical.semanticHash()}|$threshold|$idCol|" +
        s"$vecCol|$sampleSize|$probesPer|$targetMiss|$cap|$seed")(
      measureAssignWidth(vectors, cents, threshold, idCol, vecCol,
        sampleSize, probesPer, targetMiss, cap, seed))

  private def measureAssignWidth(vectors: DataFrame, cents: DataFrame,
      threshold: Double, idCol: String, vecCol: String,
      sampleSize: Int, probesPer: Int, targetMiss: Double,
      cap: Int, seed: Long): Int = {
    // centroid table: the broadcast side of every assignment pass —
    // collecting it stays inside the operator's scale contract. cid cast
    // to long for a deterministic tie-break (ids are numeric in this
    // engine's tables; cosine ties between distinct centroids are
    // measure-zero anyway).
    val centRows = cents
      .select(col("cid").cast("long"), col("centroid").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    val k = centRows.length
    if (k <= 1) return 1
    val capEff = math.min(cap, k)
    // unit-normalize once; a zero-norm centroid keeps NaN cosines, which
    // rank LAST (the assignTo NaN rule)
    val cn: Array[(Long, Array[Double])] = centRows.map { case (cid, c) =>
      var s = 0.0; var i = 0
      while (i < c.length) { s += c(i) * c(i); i += 1 }
      val n = math.sqrt(s)
      (cid, if (n > 0) c.map(_ / n) else c.map(_ => Double.NaN))
    }
    val alpha = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val sinA = math.sin(alpha); val cosA = math.cos(alpha)
    val sample = vectors
      .select(col(idCol).cast("long").as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .filter(col("id").isNotNull && col("v").isNotNull &&
        !exists(col("v"), _.isNull) && // a null ELEMENT would NPE the unboxing
        usableVec(col("v"))) // a dirty anchor would inflate m* to cap
      .withColumn("h", pmod(xxhash64(col("id"), lit(4242)), lit(1000000)))
      .orderBy(col("h"), col("id")).limit(sampleSize)
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    if (sample.isEmpty) return 1
    // top-capEff centroid cids of a UNIT vector, ordered (-cosine, cid) —
    // bit-for-bit the assignTo / assignTopM ranking
    def topRanks(x: Array[Double]): Array[Long] = {
      val scored = cn.map { case (cid, c) =>
        var s = 0.0; var i = 0
        val len = math.min(x.length, c.length)
        while (i < len) { s += x(i) * c(i); i += 1 }
        (if (java.lang.Double.isNaN(s)) Double.PositiveInfinity else -s, cid)
      }
      scored.sortBy(identity).take(capEff).map(_._2)
    }
    val counts = new Array[Int](capEff + 2) // counts(m*) ; capEff+1 = missed at cap
    var total = 0
    sample.foreach { case (id, v0) =>
      var nv = 0.0; var i = 0
      while (i < v0.length) { nv += v0(i) * v0(i); i += 1 }
      nv = math.sqrt(nv)
      if (nv > 0) {
        val a = v0.map(_ / nv)
        val ra = topRanks(a)
        var j = 0
        while (j < probesPer) {
          val rng = new java.util.Random(
            seed ^ (id * 0x9E3779B97F4A7C15L) ^ (j.toLong * 0xC2B2AE3D27D4EB4FL))
          // random unit direction orthogonal to a (Gaussian draw,
          // Gram-Schmidt against a, renormalize; degenerate draws redrawn)
          var u: Array[Double] = null
          while (u == null) {
            val g = Array.fill(a.length)(rng.nextGaussian())
            var proj = 0.0; var t = 0
            while (t < a.length) { proj += g(t) * a(t); t += 1 }
            val o = new Array[Double](a.length)
            var no = 0.0; t = 0
            while (t < a.length) { o(t) = g(t) - proj * a(t); no += o(t) * o(t); t += 1 }
            no = math.sqrt(no)
            if (no > 1e-9) { t = 0; while (t < a.length) { o(t) /= no; t += 1 }; u = o }
          }
          val b = new Array[Double](a.length)
          var t = 0
          while (t < a.length) { b(t) = a(t) * cosA + u(t) * sinA; t += 1 }
          val rb = topRanks(b)
          val sa = scala.collection.mutable.HashSet[Long]()
          val sb = scala.collection.mutable.HashSet[Long]()
          var m = 0; var mStar = capEff + 1
          while (m < capEff && mStar > capEff) {
            sa += ra(m); sb += rb(m)
            if (sb.contains(ra(m)) || sa.contains(rb(m))) mStar = m + 1
            m += 1
          }
          counts(mStar) += 1; total += 1
          j += 1
        }
      }
    }
    if (total == 0) return 1
    val need = math.ceil((1.0 - targetMiss) * total).toInt
    var cum = 0; var m = 1
    while (m <= capEff) {
      cum += counts(m)
      if (cum >= need) return m
      m += 1
    }
    capEff // even the cap misses the target — the bounded best effort
  }

  /** m-nearest-centroid SOFT assignment: one row per (vector, assigned
    * centroid), via m-1 extra [[assignTo]]-shaped passes that each
    * exclude the centroids already taken — every pass is crossJoin ×
    * broadcast + map-side-combining min_by, so each exchange moves
    * |corpus| rows (NEVER a window sort over |corpus|·k rows; m is 2-3
    * in practice). Only (idCol, vecCol) ride along. Callers cap m at the
    * centroid count — a pass with nothing left to assign would silently
    * drop its vectors from the aggregate. */
  private def assignTopM(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, m: Int): DataFrame = {
    // clamp to the ACTUAL centroid count: callers cap m at the REQUESTED
    // k, but Lloyd refinement can collapse clusters (a centroid that
    // loses every member drops out) — a pass with no unassigned centroid
    // left would filter EVERY vector out of the aggregate and silently
    // return an empty assignment. centroids is the small broadcast side;
    // the count is cheap.
    val mEff = math.min(m.toLong, centroids.count()).toInt
    var acc = assignTo(vectors.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), array(col("centroid_id")).as("cids"))
    var j = 1
    while (j < mEff) {
      acc = acc.crossJoin(broadcast(centroids))
        .filter(!array_contains(col("cids"), col("cid")))
        .withColumn("d", -ncos(col(vecCol), col("centroid")))
        .groupBy(col(idCol))
        .agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("cnext"),
          first(col(vecCol)).as(vecCol), first(col("cids")).as("cids"))
        .select(col(idCol), col(vecCol),
          concat(col("cids"), array(col("cnext"))).as("cids"))
      j += 1
    }
    acc.select(col(idCol), col(vecCol), explode(col("cids")).as("centroid_id"))
  }

  /** Nearest-centroid assignment against a broadcast centroid table
    * (cid, centroid). Adds `centroid_id`; distance = negative cosine,
    * ties broken by cid (deterministic).
    *
    * Shape: min_by AGGREGATION, not a window — a Window.partitionBy(id)
    * over the ×nCentroids cross join would sort-shuffle |corpus|·nlist
    * rows; the aggregate partial-combines map-side so the exchange moves
    * |corpus| rows regardless of nlist (at nlist=4096 that is a 4096×
    * smaller shuffle — the difference between "one linear pass" and not,
    * for [[saveIvfIndex]]'s train-once contract). Non-key columns ride
    * along via first(): every cross-join copy of a vector row carries
    * identical values, so first() is value-deterministic. NaN distances
    * (zero vectors) lose to any real distance in both shapes. */
  private def assignTo(vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    useNative(vectors)
    val withC = vectors.crossJoin(broadcast(centroids))
      .withColumn("d", -ncos(col(vecCol), col("centroid")))
    val carried = vectors.columns.filter(_ != idCol).toSeq
    val aggs = min_by(col("cid"), struct(col("d"), col("cid"))).as("centroid_id") +:
      carried.map(c => first(col(c)).as(c))
    withC.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select((idCol +: carried :+ "centroid_id").map(col): _*)
  }

  /** IVF coarse-quantizer centroids: deterministic hash-ordered sample of
    * nCentroids vectors, refined by `lloydIters` Lloyd steps (assign all
    * vectors, recompute element-wise means). Returns (cid, centroid).
    * Each Lloyd pass explodes |corpus|×dim rows once at INDEX-BUILD time —
    * linear, shuffle-partitioned, amortized over every later probe; extra
    * iterations tighten clusters (better recall at the SAME nProbe cost)
    * without touching the probe path. Intermediate centroid tables are
    * materialized eagerly (localCheckpoint — the deterministic-lifecycle
    * idiom) so the plan does not nest one crossJoin+agg per iteration.
    * A cluster that loses every member simply drops out of the table
    * (standard Lloyd-on-sample behavior; k is an upper bound). */
  /** Checkpointed [[ivfCentroids]], memoized per (session, corpus plan,
    * config) — training is deterministic, so every tier probing the same
    * corpus at the same quantizer config (e.g. IVF-flat and IVF-SQ8 side
    * by side, or a query loop) shares ONE Lloyd run. Materialized
    * eagerly because the result is referenced by both the corpus
    * assignment and the query probe subtrees — without the checkpoint
    * the whole index-build pass runs twice. localCheckpoint, not
    * .cache(): checkpoint blocks are freed when the plan is
    * dereferenced (the minHashDuplicates lifecycle trade). Staleness
    * caveat as [[corpusCount]]: a path-backed corpus overwritten
    * in-session keeps its first centroids. */
  private val centsCache = new graft.util.SessionCache[DataFrame](maxEntries = 8)
  private def centroidsCached(corpus: DataFrame, nCentroids: Int,
      idCol: String, vecCol: String, lloydIters: Int): DataFrame =
    centsCache(corpus.sparkSession,
      s"ivf|${corpus.queryExecution.logical.semanticHash()}|$idCol|$vecCol|$nCentroids|$lloydIters")(
      ivfCentroids(corpus, nCentroids, idCol, vecCol, lloydIters).localCheckpoint(true))

  def ivfCentroids(vectors0: DataFrame, nCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lloydIters: Int = 1): DataFrame = {
    // dirty-vector contract: a NULL/NaN/Inf-element or zero-norm row must
    // not seed a centroid (a zero-norm seed is a job-killing 0/0 in the
    // first Lloyd assignment under ANSI; a NaN element poisons the mean).
    // Filtering HERE covers every trainer path — centroidsCached callers
    // pass their raw relation, so the session memo keys stay consistent.
    useNative(vectors0)
    val vectors = usable(vectors0, vecCol)
    val seeds = vectors
      .withColumn("h", pmod(xxhash64(col(idCol)), lit(1000000)))
      .orderBy(col("h"), col(idCol)).limit(nCentroids) // id tie-break: hash collisions must not make the seed set run-dependent
      .select(col(idCol).as("cid"), col(vecCol).as("centroid"))
    // Multi-iteration refinement trains on a deterministic hash-sample
    // capped at 256·nCentroids vectors (the standard points-per-centroid
    // budget): quantizer quality needs a REPRESENTATIVE sample, not the
    // corpus — at 100 TB the full-corpus pass happens once (assignment by
    // the caller), never per Lloyd iteration. The single-iteration
    // default keeps the original full-corpus step (byte-compatible with
    // every existing index).
    val iters = math.max(lloydIters, 1)
    val train =
      if (iters == 1) vectors
      else {
        val cap = 256L * nCentroids
        val n = corpusCount(vectors)
        if (n <= cap) vectors
        // floor at 1: past n > 10⁶·cap the integer fraction rounds to 0
        // and the train set would be EMPTY (empty centroid table, empty
        // index, silent empty output downstream); the 1-in-10⁶ floor
        // over-samples the cap (expected n/10⁶ rows) but stays bounded
        // and linear — correct, just a larger-than-budget sample
        else vectors.filter(
          pmod(xxhash64(col(idCol), lit(777)), lit(1000000)) <
            lit(math.max(1L, 1000000L * cap / n)))
      }
    var cents = seeds
    var i = 0
    while (i < iters) {
      cents = assignTo(train, cents, idCol, vecCol)
        .select(col("centroid_id").as("cid"), posexplode(col(vecCol)))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
      i += 1
      if (i < iters) cents = cents.localCheckpoint(true)
    }
    cents
  }

  /** IVF-style coarse quantization: each vector labeled with its nearest
    * Lloyd-refined centroid — the partition key for pruned ANN search. */
  def ivfAssign(vectors: DataFrame, nCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lloydIters: Int = 1): DataFrame = {
    useNative(vectors)
    // dirty rows get no assignment (the [[usableVec]] contract)
    assignTo(usable(vectors, vecCol),
        ivfCentroids(vectors, nCentroids, idCol, vecCol, lloydIters),
        idCol, vecCol)
      .select(col(idCol), col(vecCol), col("centroid_id"))
  }

  /** On-disk index format version (round 18, VERDICT r17 #5): stamped as
    * `<dir>/_format_version` by every index writer, required by every
    * reader. Declarative drift detection — before this, a format change
    * was only caught SEMANTICALLY (e.g. the r17 runtime guard that skips
    * legacy dirty stored norms), which works for drifts someone thought
    * to guard and silently mis-reads the ones nobody did. Versions:
    *  - absent  = legacy (pre-round-18) dir: read COMPATIBLY — the
    *    runtime norm guard covers the one known legacy hazard, and
    *    DirtyVectorSpec pins that path; breaking every existing index
    *    to add a stamp would be compatibility theater.
    *  - 2       = current layout (corpus/ + centroids/ [+ codebooks/,
    *    vectors/] + _nassign [+ _vectors, _streamed, _batches/]).
    *  - other   = fail fast with the rebuild instruction — never guess
    *    at a layout written by a different library version. */
  private val IndexFormatVersion = 2L
  private def stampIndexFormat(spark: SparkSession, dir: String): Unit =
    graft.util.MetaFiles.writeLong(spark, s"$dir/_format_version", IndexFormatVersion)
  private def requireIndexFormat(spark: SparkSession, dir: String, op: String): Unit = {
    // readLongStrict, not readLong: a PRESENT-but-corrupt stamp must fail
    // fast with the rebuild instruction, not collapse to the legacy-
    // compatible None path (ADVICE r18) — "never guess" includes never
    // guessing that an unreadable stamp meant legacy
    val v = try graft.util.MetaFiles.readLongStrict(spark, s"$dir/_format_version")
    catch {
      case e: IllegalStateException => throw new IllegalStateException(
        s"$op: index at $dir has an unreadable _format_version (${e.getMessage}). " +
          "Rebuild it with saveIvfIndex/saveIvfPqIndex from this library " +
          "version, or open it with the version that wrote it.", e)
    }
    v.foreach { v =>
      if (v != IndexFormatVersion) throw new IllegalStateException(
        s"$op: index at $dir has _format_version $v but this build reads " +
          s"version $IndexFormatVersion (unstamped legacy dirs are read " +
          "compatibly). Rebuild it with saveIvfIndex/saveIvfPqIndex from " +
          "this library version, or open it with the version that wrote it.")
    }
  }

  /** Persist an IVF index: Lloyd-refined centroids plus the corpus
    * assigned and physically PARTITIONED BY centroid_id (with per-vector
    * norms precomputed) — train once, probe many. At 100 TB the index
    * build is the one linear pass; every later [[ivfTopKIndexed]] probe
    * reads ONLY the probed partitions (dynamic partition pruning against
    * the broadcast probe list — the scan never touches the other
    * nCentroids − nProbe fractions of the corpus). nAssign > 1 indexes
    * each vector under its nAssign nearest centroids (see [[ivfTopK]] —
    * recall lever paid in index size, not probe cost); the value is
    * stamped in `<dir>/_nassign` so [[ivfTopKIndexed]] knows to dedup
    * candidates. */
  def saveIvfIndex(corpus: DataFrame, dir: String, nCentroids: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lloydIters: Int = 1, nAssign: Int = 1): Unit = {
    useNative(corpus)
    val m = math.min(math.max(nAssign, 1), nCentroids)
    val cents = ivfCentroids(corpus, nCentroids, idCol, vecCol, lloydIters).cache()
    try {
      // dirty rows are not indexed ([[usableVec]] contract) — they could
      // never be returned, and one zero-norm row is a 0/0 crash here
      val cleanCorpus = usable(corpus, vecCol)
      val assigned =
        if (m == 1) assignTo(cleanCorpus, cents, idCol, vecCol)
        else assignTopM(cleanCorpus, cents, idCol, vecCol, m)
      val stored = assigned
        .select(col(idCol), col(vecCol), nnorm(col(vecCol)).as("norm"), col("centroid_id"))
      // metadata columns ride IN the index (one build-time join), so
      // filtered search ([[ivfTopKIndexed]] corpusFilter) can push its
      // predicate into the partitioned corpus scan at probe time
      val metaCols = corpus.columns.filterNot(c => c == idCol || c == vecCol)
      val withMeta =
        if (metaCols.isEmpty) stored
        else stored.join(corpus.drop(vecCol), Seq(idCol))
      withMeta.write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/corpus")
      cents.write.mode("overwrite").parquet(s"$dir/centroids")
      // stamp AFTER the data: probes read it to decide whether candidate
      // dedup is needed (absence = legacy single-assignment index = 1)
      graft.util.MetaFiles.writeLong(corpus.sparkSession, s"$dir/_nassign", m.toLong)
      stampIndexFormat(corpus.sparkSession, dir)
    } finally cents.unpersist(blocking = false)
  }

  /** Append one (micro-)batch of vectors to a [[saveIvfIndex]] index:
    * assign against the FROZEN quantizer (the on-disk centroid table —
    * streaming ingest never re-trains; re-train by rebuilding the index,
    * the compaction analogue), honoring the index's stamped nAssign, and
    * append into the centroid-partitioned corpus. Crash contract is
    * at-least-once: the per-batch `_batches/b<id>` marker skips clean
    * replays, and a crash between data append and marker can only
    * duplicate rows — which probes collapse deterministically once the
    * `_streamed` stamp (written BEFORE the first appended row becomes
    * visible) switches [[ivfTopKIndexed]] to max-cosine-per-neighbor
    * candidate dedup. Net: at-least-once appends, exactly-once query
    * semantics, no store-wide anti-join in the batch path. */
  private[graft] def appendToIvfIndex(batch: DataFrame, dir: String,
      batchId: Long, idCol: String, vecCol: String): Unit = {
    useNative(batch)
    val spark = batch.sparkSession
    val marker = s"$dir/_batches/b$batchId"
    if (graft.util.MetaFiles.readLong(spark, marker).nonEmpty) return
    requireIndexFormat(spark, dir, "appendToIvfIndex")
    val cents = spark.read.parquet(s"$dir/centroids")
    // fail fast on a dimension mismatch with the index (ncos over unequal
    // lengths zip-truncates — a silent recall collapse, not an error)
    val batchDim = batch.select(size(col(vecCol)).as("d")).filter(col("d") > 0)
      .limit(1).collect().headOption.map(_.getInt(0))
    val centDim = cents.select(size(col("centroid")).as("d"))
      .limit(1).collect().headOption.map(_.getInt(0))
    (batchDim, centDim) match {
      case (Some(b), Some(c)) if b != c => throw new IllegalStateException(
        s"appendToIvfIndex: batch vectors are $b-dimensional but the index at " +
          s"$dir was built on $c-dimensional vectors")
      case _ => ()
    }
    val m = graft.util.MetaFiles.readLong(spark, s"$dir/_nassign").getOrElse(1L).toInt
    // dirty rows drop here ([[usableVec]] contract) — in a STREAM one
    // zero-norm vector would otherwise kill the query permanently (the
    // batch replays into the same 0/0 on every restart)
    val vecs = usable(batch.select(col(idCol), col(vecCol)), vecCol)
    val assigned =
      if (m <= 1) assignTo(vecs, cents, idCol, vecCol)
      else assignTopM(vecs, cents, idCol, vecCol, m)
    graft.util.MetaFiles.writeLong(spark, s"$dir/_streamed", 1L)
    // metadata columns appended like [[saveIvfIndex]] stores them (the
    // batch schema must match the build corpus — parquet appends are
    // schema-positional); mergeSchema on read surfaces drift as nulls
    val stored = assigned
      .select(col(idCol), col(vecCol), nnorm(col(vecCol)).as("norm"), col("centroid_id"))
    val metaCols = batch.columns.filterNot(c => c == idCol || c == vecCol)
    val withMeta =
      if (metaCols.isEmpty) stored
      else stored.join(batch.drop(vecCol), Seq(idCol))
    withMeta.write.mode("append").partitionBy("centroid_id").parquet(s"$dir/corpus")
    graft.util.MetaFiles.writeLong(spark, marker, 1L)
  }

  /** Structured-Streaming maintenance of a [[saveIvfIndex]] index: each
    * micro-batch of arriving vectors is quantized against the frozen
    * centroids and appended to the probed-partition layout, so
    * [[ivfTopKIndexed]] sees new vectors as soon as their batch commits —
    * similarity search over a corpus that never stops growing, the same
    * ingest shape as [[graft.functions.Dedup.minHashDedupStream]].
    *
    * Per-batch cost is O(|batch| · nlist) assignment work and one
    * partitioned append — nothing reads O(|corpus|). Quantizer drift is
    * the documented trade (new vectors far from every trained centroid
    * crowd the nearest partition); rebuild the index periodically with
    * [[saveIvfIndex]] over the accumulated corpus — that rewrite is the
    * compaction step, and the `_batches` markers plus checkpoint dir
    * should be cleared with it. */
  def ivfIndexStream(vectors: DataFrame, dir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        appendToIvfIndex(batch.toDF(), dir, batchId, idCol, vecCol)
      }.start()

  /** IVF top-k against a [[saveIvfIndex]] index: per query, pick the
    * nProbe nearest centroids (centroid table broadcast — |nlist| rows),
    * then score exactly ONLY inside those corpus partitions. Same output
    * contract as [[ivfTopK]]; full-probe (nProbe = nCentroids) equals
    * brute force, the e5 verification identity.
    *
    * Contract: the probe side (queries × nProbe, vectors included) is
    * BROADCAST — that is what lets dynamic partition pruning skip the
    * unprobed corpus partitions entirely. Size query batches so
    * |queries|·nProbe·dim fits executor memory and split giant batches;
    * for corpus-sized query sets use [[ivfTopK]] (shuffle join, full
    * index scan) instead. */
  def ivfTopKIndexed(queries: DataFrame, dir: String, k: Int, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      corpusFilter: Option[Column] = None): DataFrame = {
    useNative(queries)
    val spark = queries.sparkSession
    requireIndexFormat(spark, dir, "ivfTopKIndexed")
    val cents = spark.read.parquet(s"$dir/centroids")
    // corpusFilter = filtered search against the stored metadata columns
    // ([[saveIvfIndex]] keeps them beside the codes): applied to the RAW
    // index read so Catalyst pushes the predicate into the parquet scan
    // (PushedFilters), composing with the partition pruning below
    val raw = spark.read.parquet(s"$dir/corpus")
    val indexed = corpusFilter.map(raw.filter).getOrElse(raw)
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
        col("norm").as("cn"), col("centroid_id"))
      // a LEGACY index (built before the dirty-vector contract) may hold
      // rows with stored norm 0/NaN — same NaN-outranks-everything hazard
      // at probe time; norm is a plain stored column, so the composed
      // predicate duplicates only a column ref (no codegen-size concern)
      .filter(col("cn") > lit(0d) && col("cn") < lit(Double.PositiveInfinity))
    val q = usable(queries, vecCol).select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), nnorm(col(vecCol)).as("qn"))
    val qprobe = probeCentroids(q, cents, nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cid").as("centroid_id"))
    val cands = indexed.join(broadcast(qprobe), "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
    // score map-side on the pruned-partition join output and project the
    // vectors away before any exchange (the d9/d4 restructure — the
    // dedup AND the rank window used to carry qv/cv). An index built
    // with soft assignment ([[saveIvfIndex]] nAssign > 1, stamped in
    // _nassign) holds each vector under several centroids — dedup so
    // duplicate ranks can't evict true neighbors; copies score
    // bit-identically, so the post-score dedup keeps the same rows. A
    // legacy/hard index (stamp absent or 1) skips the extra exchange.
    // A STREAM-MAINTAINED index (_streamed stamp, [[ivfIndexStream]])
    // may additionally hold several VERSIONS of an id (at-least-once
    // appends, re-ingest with a changed vector) whose cosines DIFFER, so
    // a value-blind dropDuplicates would pick nondeterministically —
    // collapse to max cosine per (query, neighbor) instead
    // (deterministic, and a stale version can never outrank the best one)
    val softBuilt = graft.util.MetaFiles.readLong(spark, s"$dir/_nassign").exists(_ > 1L)
    val streamed = graft.util.MetaFiles.readLong(spark, s"$dir/_streamed").nonEmpty
    val scoredAll = cands
      .withColumn("cosine", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val scored =
      if (streamed) scoredAll.groupBy(col("query_id"), col("neighbor_id"))
        .agg(max(col("cosine")).as("cosine"))
      else if (softBuilt) scoredAll.dropDuplicates("query_id", "neighbor_id")
      else scoredAll
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** IVF top-k: probe the nProbe nearest centroid partitions per query and
    * run exact cosine only inside them. The corpus side shuffles once on
    * centroid_id (bucketable/persistable as an index at scale); queries
    * fan out ×nProbe, so the scored row count is ~|q|·nProbe·|corpus|/nlist
    * instead of |q|·|corpus|.
    *
    * nAssign > 1 = redundant (soft) CORPUS assignment, the complement of
    * the query-side probe lever: each corpus vector is indexed under its
    * nAssign nearest centroids ([[assignTopM]] — one linear min_by pass
    * per extra rank), so a true neighbor on a Voronoi boundary is found
    * even when the query's probe set misses its home cluster. Cost is
    * nAssign× indexed rows (and ≤ nAssign× scored candidates), NOT more
    * probes per query — the right trade when the index is built once and
    * probed many times. Duplicate (query, neighbor) candidates from
    * shared clusters are deduped BEFORE ranking, so ranks and the top-k
    * cut are unaffected.
    *
    * `corpusFilter` = FILTERED vector search (the metadata-predicate
    * ANN every retrieval stack needs): centroids stay trained on the
    * FULL corpus — the index is built once, the predicate changes per
    * query batch — and the filter applies to the corpus before
    * assignment/scan, so Catalyst pushes it into the corpus scan and
    * only matching vectors are assigned and scored. At full probe the
    * result is EXACTLY filtered brute force (the e5 identity, gate
    * e11); pruned, recall behaves like the unfiltered tier over the
    * surviving subset. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lloydIters: Int = 1, nAssign: Int = 1,
      corpusFilter: Option[Column] = None): DataFrame = {
    val cents = centroidsCached(corpus, nCentroids, idCol, vecCol, lloydIters)
    val m = math.min(math.max(nAssign, 1), nCentroids)
    // dirty rows never assigned or probed (the [[usableVec]] contract)
    val searchCorpus = usable(
      corpusFilter.map(corpus.filter).getOrElse(corpus), vecCol)
    val assigned0 =
      if (m == 1) assignTo(searchCorpus, cents, idCol, vecCol)
      else assignTopM(searchCorpus, cents, idCol, vecCol, m)
    val assigned = assigned0
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"), col("centroid_id"),
        nnorm(col(vecCol)).as("cn"))
    val q = usable(queries, vecCol).select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), nnorm(col(vecCol)).as("qn"))
    val qprobe = probeCentroids(q, cents, nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cid").as("centroid_id"))
    val cands = qprobe.join(assigned, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
    // score map-side on the bucket-join output and project the vectors
    // away before ANY exchange (the d9/d4 restructure): both the
    // soft-assignment dedup and the rank window shuffle their input, and
    // carrying qv/cv through them is O(candidates · vector width) for
    // columns neither needs. A neighbor indexed under several probed
    // clusters still dedups BEFORE the rank cut (it would otherwise
    // occupy several ranks and push true neighbors out of the top-k);
    // its copies score bit-identically, so post-score dedup keeps the
    // same rows. Single assignment is duplicate-free by construction.
    val scored0 = cands
      .withColumn("cosine", ndot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val scored = if (m == 1) scored0
      else scored0.dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** The deterministic projection matrix behind [[randomProject]] —
    * PUBLIC so an external oracle can embed the identical literals
    * (one generator, two engines, zero drift). outDim rows of dim
    * uniform [-1, 1) doubles from the seeded [[hyperplanes]] stream. */
  def projectionPlanes(dim: Int, outDim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    hyperplanes(dim, outDim, 0, seed)

  /** Johnson–Lindenstrauss random projection (Achlioptas 2003's
    * database-friendly form: dense uniform entries): proj_j = v ·
    * P_j / √outDim against the seeded deterministic matrix — the
    * dimensionality-reduction step that makes downstream ANN/dedup
    * cheaper at 100 TB (distances preserved within (1±ε) w.h.p.).
    * ONE narrow per-row expression against the broadcast literal
    * planes — [[graft.functions.expressions.RandomProjection]], the
    * fused whole-matrix form: the vector column is decoded once per row
    * and the dim guard runs once, where the previous ndot-per-plane
    * composition re-expanded both per OUTPUT dimension and Catalyst's
    * alias substitution then re-duplicated the outDim-way tree into
    * every pushed predicate/derived norm (e15's flagged 10-task × 4.1 s
    * corpus-projection stage at 10×, round-18 AFTER-sweep). No shuffle,
    * no UDF, the corpus never moves. Null vectors pass through with a
    * null projection (the pipeline null contract); dimension mismatches
    * fail fast (zip-truncation would silently corrupt every distance
    * downstream).
    *
    * Returns (idCol, proj: array<double> of outDim entries). */
  def randomProject(corpus: DataFrame, outDim: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(outDim >= 1, s"randomProject: outDim must be >= 1, got $outDim")
    useNative(corpus)
    val dim = corpus.select(size(col(vecCol)).as("d")).filter(col("d") > 0)
      .limit(1).collect().headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException(
        "randomProject: corpus has no non-empty vector to infer dim from"))
    val flat = projectionPlanes(dim, outDim, seed).flatten
    corpus.select(col(idCol),
      call_function("graft_project",
        col(vecCol), array(flat.map(lit): _*), lit(outDim)).as("proj"))
  }

  /** Two-stage projected ANN (the Matryoshka/coarse-to-fine retrieval
    * pattern): score the corpus in a [[randomProject]]ed `outDim`-wide
    * space (a dim/outDim-times cheaper scan — the same compressed-scan
    * family as PQ/SQ8), keep the top-`shortlist` candidates per query,
    * then re-rank the survivors with exact full-dimension cosine to the
    * final top-k ([[rerankExact]], the e7/e8 IVFADC+R refinement stage).
    * Both sides project against the SAME seeded plane matrix, so the
    * prefilter is a genuine JL sketch of the true geometry, not two
    * unrelated embeddings.
    *
    * Scale shape: one narrow projection per side (no shuffle), the
    * all-pairs stage runs at outDim width (compose with an IVF tier
    * upstream when even that scan is too wide), and the re-rank join is
    * bounded by |queries|·shortlist rows riding a broadcast. Approximate
    * tier: recall floor pinned in RecallSpec against the e1 exact twin.
    *
    * `shortlist = -1` → adaptive ceil(0.4·|corpus|) (min 4k): the
    * recall-stable default measured on the synthetic corpus — a FIXED
    * shortlist decays as the corpus grows (200 held 0.92 at 500 vectors
    * but 0.67 at 2,000; 0.4·n holds 0.92/0.95 — ProjectedRecallProbe).
    * A 40% prefilter fraction is this near-ISOTROPIC corpus's measured
    * ceiling for JL sketching (true-neighbor cosine gaps sit inside the
    * projection distortion, the OPQ-probe finding); clustered real
    * embeddings support far smaller fractions. */
  def projectedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      outDim: Int, shortlist: Int, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"projectedTopK: k must be >= 1, got $k")
    require(shortlist >= k || shortlist == -1,
      s"projectedTopK: shortlist must be >= k or -1 (adaptive), got $shortlist < $k")
    // adaptive cut sizes from the USABLE population (ADVICE r17): dirty
    // vectors never reach the projected scan, so sizing from the raw
    // count inflates the shortlist — and the rerank work — on a
    // dirty-heavy corpus for zero recall benefit
    val cut =
      if (shortlist != -1) shortlist
      else math.max(4 * k, math.ceil(0.4 * corpusCount(usable(corpus, vecCol))).toInt)
    val qp = randomProject(queries, outDim, seed, idCol, vecCol)
    val cp = randomProject(corpus, outDim, seed, idCol, vecCol)
    val cand = bruteForceTopK(qp, cp, cut, idCol, "proj")
    rerankExact(cand, queries, corpus, k, idCol, vecCol)
  }

  /** ORACLE-REPLICABLE k-means clustering: `iters` Lloyd rounds from a
    * deterministic seed set (the k vectors with the smallest
    * md5(id-as-string), hex-ordered — the hash-sample idiom every
    * deterministic op here uses), cluster ids = seed vector ids,
    * CENTROIDS ROUNDED TO 6 DP at every update boundary. The rounding is
    * the cross-engine parity contract: both engines then carry
    * bit-identical centroid values into the next assignment, so the only
    * FP divergence left is the distance accumulation itself (~1e-13 —
    * far from any argmin boundary on real data). Assignment = argmin L2
    * via the c·c − 2·x·c expansion (x·x constant per vector), ties to
    * the smaller cluster id; a cluster that loses every member drops out
    * (its id simply stops appearing). This is the first-class clustering
    * surface — [[ivfCentroids]] remains the unrounded internal trainer
    * for the ANN tiers.
    *
    * Returns (vec_id, cluster) for every corpus row with a non-null,
    * NaN/Inf-free vector (round 17: NaN/±Inf elements poison the Lloyd
    * means and every distance involving them, so those rows get NO
    * cluster; ZERO vectors are legitimate L2 points and keep theirs —
    * the e12 oracle mirrors the same finite filter).
    * Scale shape per round: one broadcast cross join folded into
    * a map-side-combined min_by aggregation (the [[assignTo]] exchange:
    * |corpus| rows moved regardless of k) + one posexplode groupBy
    * (k·dim result rows) — linear, no |corpus|² anywhere. */
  def kmeansAssign(corpus: DataFrame, k: Int, iters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"kmeansAssign: k must be >= 1, got $k")
    require(iters >= 0, s"kmeansAssign: iters must be >= 0, got $iters")
    useNative(corpus)
    // L2 k-means: a ZERO vector is a legitimate point (unlike the cosine
    // tiers) — only NaN/±Inf elements are dirty here (they poison the
    // Lloyd means and every distance involving them): norm < +Inf rejects
    // exactly those (NaN norm orders above +Inf in Spark)
    val emb = corpus
      .filter(col(vecCol).isNotNull &&
        nnorm(col(vecCol)) < lit(Double.PositiveInfinity))
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    // TakeOrderedAndProject, not a global window: distributed top-k
    var cents = emb.orderBy(md5(col("vec_id").cast("string")), col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("c"))
    def assign(cs: DataFrame): DataFrame = {
      val b = cs.withColumn("__cc", ndot(col("c"), col("c")))
      emb.crossJoin(broadcast(b))
        .withColumn("d", col("__cc") - lit(2.0) * ndot(col("v"), col("c")))
        .groupBy(col("vec_id"))
        .agg(min_by(col("cid"), struct(col("d"), col("cid"))).as("cluster"))
    }
    var i = 0
    while (i < iters) {
      val a = assign(cents)
      cents = emb.join(a, "vec_id")
        .select(col("cluster").as("cid"), posexplode(col("v")))
        .groupBy(col("cid"), col("pos"))
        .agg(round(avg(col("col")), 6).as("m"))
        .groupBy(col("cid"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("c"))
      i += 1
    }
    assign(cents)
  }

  // ---- product quantization (PQ) ------------------------------------------

  /** (id, sub, sv) sub-vector rows: the vector split into nSub contiguous
    * subDim-wide slices — one narrow projection, nSub rows per vector.
    * Every row's dimension is CHECKED against nSub·subDim in the same
    * codegen'd pass (one integer compare per vector): pqCodebooks infers
    * dim from ONE sample vector, and a ragged corpus would otherwise
    * silently slice short and zip-truncate into plausible-but-wrong
    * codes — a recall collapse, not an error. */
  private def subVectors(df: DataFrame, idCol: String, vecCol: String,
      nSub: Int, subDim: Int): DataFrame = {
    val dim = nSub * subDim
    // coalesce keeps the diagnostic for NULL vectors too — size(null) is
    // NULL, and concat with a NULL fragment would raise a MESSAGE-LESS
    // error, defeating the fail-loudly purpose for exactly that input
    val checked = when(size(col(vecCol)) === dim, col(vecCol)).otherwise(
      raise_error(concat(
        lit(s"graft PQ: expected $dim-dimensional vectors, found "),
        coalesce(size(col(vecCol)).cast("string"), lit("NULL vector")))))
    df.select(col(idCol).as("id"), posexplode(
        array((0 until nSub).map(s => slice(checked, s * subDim + 1, subDim)): _*)))
      .toDF("id", "sub", "sv")
  }

  /** Nearest-codeword assignment per (vector, subspace) under L2 — PQ
    * codebooks minimize RECONSTRUCTION error even though the search
    * metric downstream is cosine/dot. min_by aggregation (map-side
    * combined — the [[assignTo]] shape, keyed by (id, sub)) against the
    * broadcast codebook table. argmin_c ‖x−c‖² = argmin_c (c·c − 2x·c):
    * the x·x term is constant per (id, sub) group and dropped, and c·c
    * is computed once per codeword row BEFORE the broadcast
    * ([[bruteForceTopK]]'s per-side-norm idiom) — each pair costs ONE
    * subDim-width dot instead of three. */
  private def pqAssign(sub: DataFrame, books: DataFrame): DataFrame = {
    val b = books.withColumn("__cc", ndot(col("centroid"), col("centroid")))
    sub.join(broadcast(b), "sub")
      .withColumn("d", col("__cc") - lit(2.0) * ndot(col("sv"), col("centroid")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(col("code"), struct(col("d"), col("code"))).as("code"),
        first(col("sv")).as("sv"))
  }

  /** The shared encode pipeline behind [[pqEncode]]/[[pqTopK]]/
    * [[ivfPqTopK]] — one body so tie-break or dropped-codeword fixes
    * cannot drift between the public op and the composed tiers. */
  private def encodeAgainst(corpus: DataFrame, books: DataFrame,
      nSub: Int, subDim: Int, idCol: String, vecCol: String): DataFrame =
    // widen the scan: encode cost is |corpus|·nSub·nCodes codeword dots
    // fused into the corpus scan stage, whose parallelism is otherwise
    // the file-split count (measured 10 splits ⇒ 10 tasks at 10×)
    pqAssign(subVectors(widened(corpus), idCol, vecCol, nSub, subDim), books)
      .select(col("id"), col("sub"), col("code"))

  /** Codeword width of a trained codebook table (one tiny job). */
  private def subDimOf(books: DataFrame): Int =
    books.select(size(col("centroid")).as("d")).limit(1)
      .collect().head.getInt(0)

  /** A trained codebook table collected into the fused-expression form
    * ([[graft.functions.expressions.PqCore]]): centroid rows SORTED BY
    * (sub, code) flattened to one literal double array, plus the nSub+1
    * prefix offsets (codebooks are ragged — a codeword that loses every
    * Lloyd member drops out). Driver-held model state, the hyperplanes
    * precedent: nSub·nCodes·subDim doubles = a few KB. The (sub, code)
    * sort is the tie-break contract — the fused encode's ties-to-lower-
    * ROW rule is pqAssign's ties-to-lower-CODE exactly because rows
    * within a sub are code-ascending. */
  private def booksFlatLits(books: DataFrame, nSub: Int): (Column, Column) = {
    val rows = books.select(col("sub").cast("int"), col("code").cast("int"),
        col("centroid")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .sortBy(t => (t._1, t._2))
    val perSub = rows.groupBy(_._1).map { case (s, g) => (s, g.length) }
    require((0 until nSub).forall(s => perSub.getOrElse(s, 0) > 0),
      s"graft PQ: trained codebooks must cover every subspace 0..${nSub - 1}, " +
        s"got subs ${perSub.keys.toSeq.sorted.mkString(",")}")
    val offs = new Array[Int](nSub + 1)
    rows.foreach(t => offs(t._1 + 1) += 1)
    (1 to nSub).foreach(s => offs(s) += offs(s - 1))
    (array(rows.flatMap(_._3).map(lit).toSeq: _*),
      array(offs.map(lit).toSeq: _*))
  }

  /** The per-query nProbe nearest centroids — the shared probe-selection
    * block of every IVF tier (in-memory, indexed, and both PQ
    * compositions): rank against the BROADCAST centroid table, keep rank
    * ≤ nProbe. Input must carry (query_id, qv, ...); output keeps the
    * probe row's columns plus `cid`/`centroid`/`d`/`rk` for the caller's
    * projection. ONE body so a probe tie-break change cannot drift
    * between tiers. */
  private def probeCentroids(q: DataFrame, cents: DataFrame, nProbe: Int): DataFrame = {
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("d", -ncos(col("qv"), col("centroid")))
    val pw = Window.partitionBy(col("query_id")).orderBy(col("d"), col("cid"))
    probes.withColumn("rk", row_number().over(pw)).filter(col("rk") <= nProbe)
  }

  /** Exact re-rank (Jégou et al. TPAMI 2011 §VI, "IVFADC+R"): the ADC
    * shortlist — (query_id, neighbor_id), rerank·k rows per query — is
    * joined back to the FULL vectors and re-scored with the exact dot,
    * and only then cut to the final top-k. ADC's quantization error
    * mis-orders neighbors near the cut; the shortlist only has to RANK
    * the true neighbor inside the top rerank·k (much easier), after
    * which the exact pass puts it in its true position — recall@k
    * becomes ADC's recall@(rerank·k) for one extra bounded join.
    *
    * Scale shape: the shortlist is |queries|·rerank·k id pairs —
    * BROADCAST into the corpus scan, so the full-vector fetch is one
    * corpus pass with no shuffle of the corpus side (the probe-side
    * broadcast contract of [[ivfTopKIndexed]]; for corpus-sized query
    * sets split the query batch). The re-scored set (shortlist-sized)
    * then joins the query vectors — AQE broadcasts the small side.
    * Duplicate (query, neighbor) candidates (a soft-assigned index
    * stores a vector once per home) are collapsed by max(cosine) —
    * copies carry identical vectors, so this is value-deterministic. */
  /** Quantized-score shortlist for the exact re-rank stage: the top
    * `cut` candidates by quantized score WITH TIES at the boundary —
    * rank() over the score alone, never row_number's arbitrary id
    * tie-break. A quantizer cannot order code-identical candidates
    * (byte-equal duplicates quantize to ONE score), so a row_number
    * cut would split such a tie group arbitrarily and the exact
    * re-rank never sees the members it dropped; admitting the group
    * whole costs only the group's size in re-scored rows.
    *
    * What this does NOT fix (measured at 100×, n=50k with ~99-member
    * NEAR-tie families, SCALING.md "Round 17: third scale point"): perturbed
    * near-duplicates quantize to slightly DIFFERENT codes, so their
    * ADC scores differ by less than the quantization error and the
    * ordering among them is effectively random — no tie to admit.
    * There recall@10 reads 0.682 at rerank=8 regardless of IVF
    * coverage (4% → 50% probe fraction, identical recall — coverage
    * was never the binder) and 1.000 at rerank=32 at LOWER wall: the
    * shortlist must cover the whole near-tie family, i.e. size
    * `rerank·k` above the largest duplicate-family size. Upstream
    * dedup (this library's own pipeline order) keeps families small;
    * on an un-deduped corpus raise `rerank` — the re-rank stage is
    * the cheap part. */
  private def quantShortlist(scored: DataFrame, cut: Int): DataFrame =
    scored.withColumn("rank",
      rank().over(Window.partitionBy("query_id").orderBy(desc("cosine"))))
      .filter(col("rank") <= cut)

  private def rerankExact(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int, idCol: String, vecCol: String): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      nnorm(col(vecCol)).as("cn"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      nnorm(col(vecCol)).as("qn"))
    // the corpus side STREAMS against the broadcast shortlist and the
    // exact re-rank dots compute downstream of that scan — whose
    // parallelism is the corpus' file-split count (e15's residual
    // 10-task 5.1 s stage in the round-18 AFTER-sweep; e8's 8-task
    // rerank stage is the same shape through the vector store).
    // widened() is the usual stats-guarded no-op at scale.
    //
    // ACKNOWLEDGED TRADE (ADVICE r18): unlike the other widened() sites
    // (where the exchanged side is the small query relation), this
    // exchange is O(corpus) bytes whenever the corpus sits under the
    // p×64 MB ceiling — a mid-size corpus pays a full exchange to
    // parallelize work that is only O(shortlist) dots. Widening the
    // post-join (shortlist-sized) relation instead was considered and
    // REJECTED: the guard would then read optimizer stats off a
    // join-derived plan, and derived-plan estimates overshooting is
    // exactly what silently un-widened e15 in round 18 (the reverted
    // static broadcast gate). The bounded waste case — one exchange of a
    // relation the byte ceiling already caps — beats a guard that can
    // quietly serialize the n² scan; the partial-agg ndots MUST run
    // above an exchange, because map-side they run at file-split width.
    val scored = widened(c)
      .join(broadcast(shortlist.select(col("query_id"), col("neighbor_id"))),
        "neighbor_id")
      .join(q, "query_id")
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(ndot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** The per-query ADC lookup table: (query_id, sub, code, part) with
    * part = the query sub-vector's EXACT dot with that codeword —
    * nSub·nCodes rows per query, built once and broadcast by callers.
    * Shared by [[pqTopK]] and both [[ivfPqTopK]] branches (one body, as
    * [[encodeAgainst]]). */
  private def adcLut(queries: DataFrame, books: DataFrame,
      nSub: Int, subDim: Int, idCol: String, vecCol: String): DataFrame =
    subVectors(queries, idCol, vecCol, nSub, subDim)
      .join(broadcast(books), "sub")
      .select(col("id").as("query_id"), col("sub"), col("code"),
        ndot(col("sv"), col("centroid")).as("part"))

  /** Product-quantization codebooks (Jégou et al., TPAMI 2011): split the
    * vector into `nSub` contiguous subspaces and k-means each
    * INDEPENDENTLY with `nCodes` codewords under L2 (the reconstruction
    * metric). Returns (sub, code, centroid) — nSub·nCodes rows, the
    * broadcastable codebook table. Seeds are the deterministic
    * hash-ordered sample (the [[ivfCentroids]] rule, id tie-broken);
    * Lloyd refinement trains ALL subspaces in one chained job per
    * iteration (assignment keyed by (id, sub), recompute by (sub, code,
    * pos)) on a hash-sample capped at 256·nCodes vectors — at 100 TB no
    * Lloyd iteration ever re-reads the corpus. A codeword that loses
    * every member drops out (nCodes is an upper bound, standard Lloyd
    * behavior).
    *
    * Memoized per (session, corpus plan, config) like [[centroidsCached]]
    * — training is deterministic, so PQ and IVF-PQ probing the same
    * corpus at the same codebook config share ONE training run (the
    * e7/e8 gate pair reuses it; same staleness caveat). The returned
    * table is checkpointed — call sites need no extra materialization. */
  private val booksCache = new graft.util.SessionCache[DataFrame](maxEntries = 8)
  def pqCodebooks(corpus: DataFrame, nSub: Int, nCodes: Int,
      lloydIters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    booksCache(corpus.sparkSession,
      s"pq|${corpus.queryExecution.logical.semanticHash()}|$idCol|$vecCol|$nSub|$nCodes|$lloydIters")(
      pqCodebooksUncached(corpus, nSub, nCodes, lloydIters, idCol, vecCol)
        .localCheckpoint(true))

  private def pqCodebooksUncached(corpus0: DataFrame, nSub: Int, nCodes: Int,
      lloydIters: Int,
      idCol: String, vecCol: String): DataFrame = {
    useNative(corpus0)
    // dirty-vector contract, L2 form: a NaN/Inf element in one seed or
    // Lloyd member would turn a codeword NaN, and through the ADC LUT
    // that poisons the score of EVERY vector quantized to it — clean
    // rows included. ZERO vectors are KEPT: PQ trains under the L2
    // reconstruction metric where the zero vector is a legitimate point
    // — ivfPqTopK(residual = true) trains on home residuals, and an
    // exact duplicate of its centroid has residual EXACTLY zero (the
    // ~99-member replica families of the p100e8 probe); dropping those
    // would un-train the near-zero codeword the encode side needs, and
    // on an all-duplicate corpus would empty the train set entirely.
    // A NULL vector makes the norm NULL → predicate NULL → dropped.
    val corpus = corpus0.filter(
      nnorm(col(vecCol)) < lit(Double.PositiveInfinity))
    val dim = corpus.select(size(col(vecCol)).as("d")).filter(col("d") > 0)
      .limit(1).collect().headOption.map(_.getInt(0))
      .getOrElse(throw new IllegalArgumentException("pqCodebooks: no non-empty vectors"))
    require(dim % nSub == 0,
      s"pqCodebooks: dim $dim not divisible into $nSub subspaces")
    val subDim = dim / nSub
    // deterministic seed codewords: the nCodes hash-ordered vectors,
    // code = hash-order rank (a tiny nCodes-row window after the limit)
    val seedIds = corpus
      .withColumn("h", pmod(xxhash64(col(idCol)), lit(1000000)))
      .orderBy(col("h"), col(idCol)).limit(nCodes)
      .select(col(idCol), col("h"))
      .withColumn("code", row_number().over(Window.orderBy(col("h"), col(idCol))))
      .select(col(idCol), col("code"))
    val seeds = corpus.join(seedIds, idCol)
      .select(col("code"), posexplode(
        array((0 until nSub).map(s => slice(col(vecCol), s * subDim + 1, subDim)): _*)))
      .toDF("code", "sub", "centroid")
      .select(col("sub"), col("code"), col("centroid"))
    val iters = math.max(lloydIters, 1)
    // training sample: the ivfCentroids budget (256 points per codeword),
    // deterministic, floor-guarded
    val cap = 256L * nCodes
    val n = corpusCount(corpus)
    val train0 =
      if (n <= cap) corpus
      else corpus.filter(pmod(xxhash64(col(idCol), lit(777)), lit(1000000)) <
        lit(math.max(1L, 1000000L * cap / n)))
    val train = subVectors(train0, idCol, vecCol, nSub, subDim).localCheckpoint(true)
    var books = seeds
    var i = 0
    while (i < iters) {
      books = pqAssign(train, books)
        .select(col("sub"), col("code"), posexplode(col("sv")))
        .groupBy(col("sub"), col("code"), col("pos")).agg(avg(col("col")).as("m"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          s => s.getField("m")).as("centroid"))
      i += 1
      if (i < iters) books = books.localCheckpoint(true)
    }
    books
  }

  /** Encode a corpus against trained codebooks → (id, sub, code): nSub
    * small integers per vector — the compressed representation ADC scans.
    * One narrow sub-vector projection + one broadcast join + one
    * map-side-combined min_by; the exchange carries |corpus|·nSub rows
    * of (id, sub, code). */
  def pqEncode(corpus: DataFrame, books: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    useNative(corpus)
    val subDim =
      try subDimOf(books)
      catch { case _: NoSuchElementException =>
        throw new IllegalArgumentException("pqEncode: empty codebook table") }
    val nSub = books.agg(max(col("sub"))).collect().head.getInt(0) + 1
    // dirty-vector contract, L2 form (the pqCodebooks rule): a NULL
    // vector would raise inside subVectors and a NaN/Inf one would
    // min_by an arbitrary garbage code into the caller's index; zero
    // vectors encode fine (legitimate L2 points)
    encodeAgainst(corpus.filter(
        nnorm(col(vecCol)) < lit(Double.PositiveInfinity)),
      books, nSub, subDim, idCol, vecCol)
  }

  /** PQ top-k by ASYMMETRIC DISTANCE COMPUTATION: queries stay exact,
    * the corpus is scanned in its quantized form — dot(q, v) ≈ Σ_sub
    * LUT[sub][code(v, sub)] where LUT holds the query's exact dot with
    * every codeword (nSub·nCodes entries per query, built once and
    * broadcast). Cosine uses the EXACT per-vector norm carried beside
    * the codes (standard practice — norms are one float/vector; the
    * approximation lives in the dot).
    *
    * Scale shape: this is the COMPRESSED EXHAUSTIVE tier — every query
    * still touches every corpus vector, but through nSub int codes and
    * a fused codegen'd gather per pair (round 19,
    * [[graft.functions.expressions.PqCore]]: codes one array per vector,
    * the per-query LUT one broadcast array — no LUT hash join, no
    * (query, id) sum exchange), instead of a dim-float dot per pair:
    * the memory-bound regime PQ exists for. The only |q|·|corpus|-sized
    * exchange left is the rank window's.
    * For sublinear candidate generation compose with the IVF tier
    * (classic IVF-PQ): prune partitions with [[ivfTopKIndexed]]'s probe
    * list, ADC-score inside them. Approximate by construction — recall
    * vs the exact twin is emitted like the e2/e4/d4 tiers.
    *
    * `rerank` > 0 enables the exact re-rank stage ([[rerankExact]]):
    * ADC keeps the top rerank·k per query, the full vectors come back
    * for just those, and the exact dot decides the final top-k —
    * recall@k ≈ ADC recall@(rerank·k) (measured 0.50 → 0.95+ at
    * rerank = 4 on the sf0.1 gate corpus) for one shortlist-broadcast
    * join. 0 = pure ADC (the compressed-only scan). */
  def pqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nSub: Int = 8, nCodes: Int = 32, lloydIters: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerank: Int = 0): DataFrame = {
    useNative(queries)
    // codebooks feed the encode AND the LUT subtrees — the memoized
    // pqCodebooks table arrives checkpointed (deterministic lifecycle)
    val books = pqCodebooks(corpus, nSub, nCodes, lloydIters, idCol, vecCol)
    // dirty rows drop on BOTH sides ([[usableVec]] contract — a NULL
    // vector would raise in the fused encode, a zero-norm one in the cosine)
    val cleanCorpus = usable(corpus, vecCol)
    val cleanQueries = usable(queries, vecCol)
    // FUSED ADC (round 19, [[graft.functions.expressions.PqCore]]): codes
    // as ONE array<int> per vector, the per-query LUT as ONE array<double>,
    // the score a codegen'd gather per (query, vector) pair. The previous
    // join formulation — (id, sub, code) rows ⋈ broadcast LUT rows, then
    // a (query, id)-keyed sum — moved |q|·|corpus|·nSub rows through a
    // hash join and an aggregation exchange for nSub array lookups of
    // work (e7 was the 4th sf1 wall line at 18.9 s, previously mislabeled
    // "intrinsic ADC CPU" — intrinsic to the join shape, not the math).
    // subDim kept for the dim contract; encode fails fast on a mismatch
    // with the same message as the row form.
    val (centsL, startsL) = booksFlatLits(books, nSub)
    val codes = widened(cleanCorpus).select(col(idCol).as("id"),
      call_function("graft_pq_encode", col(vecCol), centsL, startsL).as("cidx"),
      nnorm(col(vecCol)).as("cn"))
    val qf = cleanQueries.select(col(idCol).as("query_id"),
      call_function("graft_pq_lut", col(vecCol), centsL, startsL).as("lut"),
      nnorm(col(vecCol)).as("qn"))
    val scored = codes.crossJoin(broadcast(qf))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        (call_function("graft_adc", col("cidx"), col("lut")) /
          (col("qn") * col("cn"))).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    if (rerank <= 0)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    else // include-ties shortlist (see [[quantShortlist]])
      rerankExact(quantShortlist(scored, k * rerank), queries, corpus, k, idCol, vecCol)
  }

  /** Per-dimension affine SQ8 bounds trained over the corpus → (mins,
    * scales), scale_d = (max_d − min_d)/255 (0 for constant dimensions —
    * their codes collapse to −128 and decode back to min_d exactly).
    * One posexplode + map-side-combined min/max agg (exchange O(dim ·
    * parallelism), never O(corpus)); the result is 2·dim doubles of
    * driver-held model state — the [[hyperplanes]] precedent. */
  private def sq8Bounds(corpus: DataFrame, vecCol: String): (Seq[Double], Seq[Double]) = {
    // dirty-vector contract: Spark's min/max order NaN ABOVE every double,
    // so ONE NaN element made hi — and therefore scale — NaN for that
    // dimension, and every corpus code then raised CAST_OVERFLOW (ANSI)
    // or went silently garbage. ±Inf bounds likewise poison the affine map.
    val rows = usable(corpus, vecCol).select(posexplode(col(vecCol)))
      .toDF("pos", "x")
      .groupBy(col("pos"))
      .agg(min(col("x")).cast("double").as("lo"), max(col("x")).cast("double").as("hi"))
      .orderBy(col("pos")).collect()
    require(rows.nonEmpty, "sq8TopK: empty corpus")
    val mins = rows.map(_.getDouble(1)).toSeq
    val scales = rows.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0).toSeq
    (mins, scales)
  }

  /** Scalar-quantization (SQ8) top-k: each corpus dimension uniformly
    * quantized to ONE BYTE between its corpus-wide min and max (the
    * classic 8-bit scalar quantizer tier, cf. FAISS `SQ8` — public
    * knowledge), scored asymmetrically like [[pqTopK]]'s ADC: the query
    * stays exact and the compressed corpus decodes inside the dot —
    *
    *   dot(q, v̂) = Σ_d q_d·min_d + Σ_d (q_d·scale_d)·u_d
    *             = base(q) + dot(sq(q), codes(v))
    *
    * with u_d = code_d + 128 (codes are stored −128-offset so they fit a
    * signed TINYINT — genuinely 1 byte/dim in Tungsten, a 4× smaller
    * corpus scan than float at ~0.2% reconstruction error/dim). Cosine
    * uses the exact per-vector norm carried beside the codes (the PQ
    * rule: norms are one float/vector, the approximation lives in the
    * dot).
    *
    * Scale shape: compressed EXHAUSTIVE tier — every query touches every
    * corpus vector, through 1-byte codes; both per-query terms (base,
    * scaled query) are narrow projections, the pair scan is one
    * broadcast-queries cross join + per-pair fused multiply-add over the
    * byte array, and the top-k window is the [[bruteForceTopK]] shape.
    * SQ8 sits between brute force (4× cheaper scan, ~no recall loss)
    * and PQ (which compresses 21× but needs re-ranking); compose with
    * IVF partition pruning for sublinearity exactly as PQ does.
    *
    * `rerank` > 0 adds the [[rerankExact]] stage (shortlist top
    * rerank·k by SQ8 score, exact dot decides) — with rerank·k ≥ |corpus|
    * this tier equals brute force EXACTLY (the unit pin). */
  /** The SQ8 expression bundle — ONE body behind [[sq8TopK]] and
    * [[ivfSq8TopK]] so the quantize/score math cannot drift between the
    * exhaustive and the IVF-pruned tier. */
  private case class Sq8Model(mins: Seq[Double], scales: Seq[Double]) {
    val dim: Int = mins.size
    private val minsArr = array(mins.map(lit): _*)
    private val scalesArr = array(scales.map(lit): _*)
    // the subVectors rule: a ragged vector must raise, not zip-truncate
    // into a plausible-but-wrong score
    private def checked(vc: Column): Column = when(size(vc) === dim, vc).otherwise(
      raise_error(concat(
        lit(s"graft SQ8: expected $dim-dimensional vectors, found "),
        coalesce(size(vc).cast("string"), lit("NULL vector")))))
    def codes(vc: Column): Column = transform(checked(vc), (x, i) => {
      val s = element_at(scalesArr, i + 1)
      when(s > 0,
        least(lit(255), greatest(lit(0),
          round((x.cast("double") - element_at(minsArr, i + 1)) / s).cast("int"))) - 128)
        .otherwise(lit(-128)).cast("tinyint")
    })
    def scaledQuery(vc: Column): Column =
      transform(checked(vc), (x, i) => x.cast("double") * element_at(scalesArr, i + 1))
    def base(vc: Column): Column =
      aggregate(zip_with(vc, minsArr, (x, m) => x.cast("double") * m),
        lit(0.0), (acc, x) => acc + x)
    /** approximate cosine of a (query, coded-corpus) pair row */
    def pairCosine: Column =
      (col("base") + aggregate(zip_with(col("sq"), col("codes"),
        (a, cc) => a * (cc.cast("double") + lit(128.0))), lit(0.0), (acc, x) => acc + x)) /
        (col("qn") * col("cn"))
  }

  def sq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerank: Int = 0): DataFrame = {
    useNative(queries)
    val model = { val (mn, sc) = sq8Bounds(corpus, vecCol); Sq8Model(mn, sc) }
    // dirty rows drop before the encode ([[usableVec]] contract): a NaN
    // element raises CAST_OVERFLOW inside model.codes, a zero norm 0/0s
    // in the cosine
    val c = usable(corpus, vecCol).select(col(idCol).as("neighbor_id"),
      model.codes(col(vecCol)).as("codes"), nnorm(col(vecCol)).as("cn"))
    val q = usable(queries, vecCol).select(col(idCol).as("query_id"),
      model.scaledQuery(col(vecCol)).as("sq"),
      model.base(col(vecCol)).as("base"),
      nnorm(col(vecCol)).as("qn"))
    // codes/scaled-query arrays projected away before the rank window
    // (the d9/d4 restructure): scoring is map-side on the codegen'd
    // broadcast-join scan; the window exchange moves only
    // (query_id, neighbor_id, cosine).
    val scored = widened(c).crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", model.pairCosine)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    if (rerank <= 0)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    else // include-ties shortlist (see [[quantShortlist]])
      rerankExact(quantShortlist(scored, k * rerank), queries, corpus, k, idCol, vecCol)
  }

  /** IVF-SQ8: coarse-quantizer partition pruning ([[ivfTopK]]'s probe
    * body — nProbe of nCentroids clusters per query, soft `nAssign`
    * corpus assignment) composed with [[sq8TopK]]'s byte-coded
    * asymmetric scoring — the "IVF,SQ8" index of the public FAISS
    * taxonomy: SUBLINEAR candidates and a 4×-compressed scan of them,
    * the middle ground between IVF-flat (exact scoring of candidates)
    * and IVF-PQ (stronger compression, needs re-rank). Bounds train on
    * the FULL corpus (global, probe-independent). Soft-assignment
    * duplicates are deduped at (query, neighbor) before ranking (codes
    * of a duplicated vector are identical — the ivfTopK argument).
    * `rerank` > 0 adds the exact [[rerankExact]] stage; with full probe
    * and rerank·k ≥ |corpus| the tier equals brute force exactly (the
    * unit pin). */
  def ivfSq8TopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int, nProbe: Int = 2, nAssign: Int = 1, lloydIters: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerank: Int = 0): DataFrame = {
    useNative(queries)
    val model = { val (mn, sc) = sq8Bounds(corpus, vecCol); Sq8Model(mn, sc) }
    val cents = centroidsCached(corpus, nCentroids, idCol, vecCol, lloydIters)
    val m = math.min(math.max(nAssign, 1), nCentroids)
    // dirty rows never assigned, encoded or probed ([[usableVec]] contract)
    val cleanCorpus = usable(corpus, vecCol)
    val assigned0 =
      if (m == 1) assignTo(cleanCorpus, cents, idCol, vecCol)
      else assignTopM(cleanCorpus, cents, idCol, vecCol, m)
    val coded = assigned0.select(col(idCol).as("neighbor_id"), col("centroid_id"),
      model.codes(col(vecCol)).as("codes"), nnorm(col(vecCol)).as("cn"))
    val q = usable(queries, vecCol).select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      model.scaledQuery(col(vecCol)).as("sq"),
      model.base(col(vecCol)).as("base"),
      nnorm(col(vecCol)).as("qn"))
    val qprobe = probeCentroids(q, cents, nProbe)
      .select(col("query_id"), col("sq"), col("base"), col("qn"),
        col("cid").as("centroid_id"))
    val cands = qprobe.join(coded, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
    // score map-side, project the codes/scaled-query arrays away, THEN
    // dedup soft-assignment duplicates and rank (the d9/d4 restructure;
    // copies of a duplicated vector carry identical codes, so they score
    // bit-identically and post-score dedup keeps the same rows).
    val scored0 = cands.withColumn("cosine", model.pairCosine)
      .select(col("query_id"), col("neighbor_id"), col("cosine"))
    val scored = if (m == 1) scored0
      else scored0.dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    if (rerank <= 0)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    else // include-ties shortlist (see [[quantShortlist]])
      rerankExact(quantShortlist(scored, k * rerank), queries, corpus, k, idCol, vecCol)
  }

  /** IVF-PQ: the classic composition (Jégou et al. TPAMI 2011 §V) and the
    * genuine 100 TB ANN shape — IVF's coarse quantizer makes the
    * candidate set SUBLINEAR (only nProbe of nCentroids partitions are
    * touched per query) while PQ makes each candidate CHEAP (ADC over
    * nSub small codes instead of a dim-float dot). Both recall levers
    * compose: `nProbe`/`nAssign` controls partition coverage (the e4
    * knobs), `nSub`·log₂(nCodes) the code budget (the e7 knob); compound
    * recall is roughly their product — measure, don't assume (the e8
    * gate emits recall vs the e1 exact twin like every approximate
    * tier). THIRD lever (round 17, p100e8): `rerank·k` must exceed the
    * largest near-duplicate-family size — near-dups score within ADC
    * quantization error of each other, so which family members make a
    * smaller shortlist is effectively random (0.682 recall@10 at
    * rerank=8 on a 100×-replica corpus with ~99-member families, 1.000
    * at rerank=32 at LOWER wall). Dedup upstream — this library's own
    * pipeline order — or size rerank above the family bound.
    *
    * `residual = false` quantizes RAW vectors against one shared
    * codebook set; `residual = true` is Jégou §V's accuracy upgrade —
    * PQ over v − centroid(v) per home centroid, scored as q·c_home +
    * the residual ADC sum (the LUT stays per-query; only the scalar
    * base term is per-(query, probe)). Residuals are smaller than raw
    * vectors, so the same code budget reconstructs them tighter.
    * Exact norms ride the index as in [[pqTopK]].
    *
    * Scale shape: index side = one coarse assignment (+ nAssign−1 linear
    * passes) and one fused per-row encode; probe side = broadcast probe
    * list + broadcast per-query LUT arrays, and each candidate
    * (query, vector) pair scores as ONE codegen'd gather (round 19,
    * [[graft.functions.expressions.PqCore]]) — candidate volume
    * |corpus|·(nProbe/nCentroids) rows per query, no per-sub row blowup.
    * Persisted composition: partition the coded corpus by centroid_id
    * exactly as [[saveIvfIndex]] does and the probed scan
    * partition-prunes the same way. */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      nCentroids: Int, nProbe: Int = 2, nSub: Int = 8, nCodes: Int = 32,
      lloydIters: Int = 1, nAssign: Int = 1, residual: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerank: Int = 0): DataFrame = {
    useNative(queries)
    val cents = centroidsCached(corpus, nCentroids, idCol, vecCol, lloydIters)
    val m = math.min(math.max(nAssign, 1), nCentroids)
    // dirty rows never probed, assigned or encoded (the [[usableVec]]
    // contract; the trainers above filter internally on the raw relation
    // so their session-memo keys stay caller-consistent)
    val cleanQueries = usable(queries, vecCol)
    val cleanCorpus = usable(corpus, vecCol)
    val q = cleanQueries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      nnorm(col(vecCol)).as("qn"))
    val probeRows = probeCentroids(q, cents, nProbe)
    val norms = cleanCorpus.select(col(idCol).as("id"), nnorm(col(vecCol)).as("cn"))
    val scored0 =
      if (!residual) {
        // FUSED ADC over the probed partitions (round 19 — the pqTopK
        // restructure applied to the IVF composition): per candidate
        // (query, vector) pair the score is one codegen'd gather, where
        // the join formulation moved |candidates|·nSub LUT-joined rows
        // through a dedup and a sum exchange (e8 was the 3rd sf1 wall
        // line at 20.7 s).
        val books = pqCodebooks(corpus, nSub, nCodes, lloydIters, idCol, vecCol)
        val (centsL, startsL) = booksFlatLits(books, nSub)
        val codes = widened(cleanCorpus).select(col(idCol).as("id"),
            call_function("graft_pq_encode", col(vecCol), centsL, startsL).as("cidx"),
            nnorm(col(vecCol)).as("cn"))
          .join(coarseAssigned(cleanCorpus, cents, m, idCol, vecCol), "id")
        val qprobe = probeRows.select(col("query_id"), col("cid").as("centroid_id"))
        val qlut = cleanQueries.select(col(idCol).as("query_id"),
          call_function("graft_pq_lut", col(vecCol), centsL, startsL).as("lut"))
        val cands = widened(codes).join(broadcast(qprobe), "centroid_id")
          .join(broadcast(qlut), "query_id")
          .filter(col("query_id") =!= col("id"))
          .select(col("query_id"), col("id"), col("cn"),
            call_function("graft_adc", col("cidx"), col("lut")).as("adc"))
        // soft assignment duplicates a candidate once per shared probed
        // centroid — the fused score is value-identical across
        // duplicates, so dedup at (query, id) with first(); hard
        // assignment needs no dedup.
        if (m == 1) cands.select(col("query_id"), col("id").as("neighbor_id"),
          col("adc"), col("cn"))
        else cands.groupBy(col("query_id"), col("id").as("neighbor_id"))
          .agg(first(col("adc")).as("adc"), first(col("cn")).as("cn"))
      } else {
        // RESIDUAL encoding (Jégou §V's refinement): PQ codes v − c(v)
        // per HOME centroid; adc(q, v) = q·c_home + Σ_s q_s·codeword_s.
        // Codebooks train on the FULL home-residual table — exactly the
        // distribution that gets encoded (under soft assignment a
        // vector carries a DIFFERENT code set per home; training only
        // on primary residuals would fit codebooks to a distribution
        // the non-primary homes don't follow). The composite
        // (id, home) struct is the training key — every pqCodebooks
        // stage (hash sample, seeds, assignment) is key-type-agnostic.
        // Per-home scores differ; the best home wins (max adc), which
        // also makes the soft duplicates deterministic.
        val centsB = broadcast(cents)
        val res = (x: Column, c: Column) => zip_with(x, c, (a, b) => a - b)
        val assigned =
          if (m == 1) assignTo(cleanCorpus.select(col(idCol), col(vecCol)), cents, idCol, vecCol)
          else assignTopM(cleanCorpus.select(col(idCol), col(vecCol)), cents, idCol, vecCol, m)
        val homes = assigned.join(centsB, col("centroid_id") === col("cid"))
          .select(struct(col(idCol).as("i"), col("centroid_id").as("c")).as("__rid"),
            res(col(vecCol), col("centroid")).as("__res"))
          .localCheckpoint(true) // read by training AND encoding below
        val books = pqCodebooks(homes, nSub, nCodes, lloydIters, "__rid", "__res")
        val subDim = subDimOf(books)
        val codes = encodeAgainst(homes, books, nSub, subDim, "__rid", "__res")
          .select(col("id.i").as("nid"), col("id.c").as("centroid_id"),
            col("sub"), col("code"))
          .join(norms.withColumnRenamed("id", "nid"), "nid")
        val qprobe = probeRows.select(col("query_id"),
          col("cid").as("centroid_id"), ndot(col("qv"), col("centroid")).as("base"))
        val lut = adcLut(cleanQueries, books, nSub, subDim, idCol, vecCol)
        widened(codes).join(broadcast(qprobe), "centroid_id")
          .join(broadcast(lut), Seq("query_id", "sub", "code"))
          .filter(col("query_id") =!= col("nid"))
          .groupBy(col("query_id"), col("nid"), col("centroid_id"))
          .agg(sum(col("part")).as("rsum"), first(col("base")).as("base"),
            first(col("cn")).as("cn"))
          .withColumn("adcHome", col("base") + col("rsum"))
          .groupBy(col("query_id"), col("nid").as("neighbor_id"))
          .agg(max(col("adcHome")).as("adc"), first(col("cn")).as("cn"))
      }
    val scored = scored0
      .join(broadcast(q.select(col("query_id"), col("qn"))), "query_id")
      .withColumn("cosine", col("adc") / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    if (rerank <= 0)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    // re-rank recall is CAPPED by IVF partition coverage: a neighbor in
    // an unprobed partition never reaches the shortlist — raise
    // nProbe/nAssign for coverage, rerank only fixes ADC mis-ordering.
    // Shortlist admits boundary TIE GROUPS whole (see [[quantShortlist]])
    else rerankExact(quantShortlist(scored, k * rerank), queries, corpus, k, idCol, vecCol)
  }

  /** The coded corpus of the raw IVF-PQ tiers: (id, sub, code, <norm>,
    * centroid_id) — ONE body behind [[ivfPqTopK]]'s in-memory raw branch
    * and [[saveIvfPqIndex]]'s persisted layout, so the two stay
    * byte-compatible by construction. */
  private def pqCodedCorpus(corpus: DataFrame, assigned: DataFrame, books: DataFrame,
      nSub: Int, subDim: Int, idCol: String, vecCol: String,
      normName: String): DataFrame =
    encodeAgainst(corpus, books, nSub, subDim, idCol, vecCol)
      .join(corpus.select(col(idCol).as("id"), nnorm(col(vecCol)).as(normName)), "id")
      .join(assigned, "id") // ×nAssign copies of each code row, one per home centroid

  /** The (id, centroid_id) coarse assignment shared by the IVF-PQ coded
    * corpus and the optional re-rank vector store — ONE body so both
    * sides of a [[saveIvfPqIndex]] index agree on homes by construction. */
  private def coarseAssigned(corpus: DataFrame, cents: DataFrame, m: Int,
      idCol: String, vecCol: String): DataFrame =
    (if (m == 1) assignTo(corpus.select(col(idCol), col(vecCol)), cents, idCol, vecCol)
     else assignTopM(corpus.select(col(idCol), col(vecCol)), cents, idCol, vecCol, m))
      .select(col(idCol).as("id"), col("centroid_id"))

  /** Persist an IVF-PQ index: Lloyd centroids + PQ codebooks + the coded
    * corpus physically PARTITIONED BY centroid_id — the [[saveIvfIndex]]
    * layout with 8-ish-byte code rows instead of dim-float vectors,
    * which is what makes a 100 TB corpus probe-able from a ~1 TB index.
    * Each corpus row is (id, sub, code, norm, centroid_id); probes read
    * ONLY probed partitions (dynamic partition pruning, same plan shape
    * as the IVF index — plan-pinned in the spec). Raw-vector encoding
    * (the residual upgrade is an [[ivfPqTopK]] knob; measured no-gain on
    * isotropic corpora — SCALING.md). nAssign stamped as `_nassign` so
    * probes know to dedup.
    *
    * `storeVectors = true` additionally writes the FULL vectors under
    * `<dir>/vectors`, partitioned by the SAME centroid_id homes — the
    * refinement store for [[ivfPqTopKIndexed]]'s `rerank` stage (Jégou
    * §VI keeps refinement data beside the codes for exactly this). The
    * index grows back toward raw-corpus size, but probes read only
    * PROBED partitions of it, and only to join the shortlist — the
    * compressed scan stays the candidate generator. */
  def saveIvfPqIndex(corpus: DataFrame, dir: String, nCentroids: Int,
      nSub: Int = 8, nCodes: Int = 32, lloydIters: Int = 1, nAssign: Int = 1,
      idCol: String = "vec_id", vecCol: String = "embedding",
      storeVectors: Boolean = false): Unit = {
    useNative(corpus)
    val cents = ivfCentroids(corpus, nCentroids, idCol, vecCol, lloydIters)
      .localCheckpoint(true)
    val books = pqCodebooks(corpus, nSub, nCodes, lloydIters, idCol, vecCol)
    val subDim = subDimOf(books)
    val m = math.min(math.max(nAssign, 1), nCentroids)
    // dirty rows are not indexed ([[usableVec]] contract — they could
    // never be returned, and one would 0/0 the assignment under ANSI)
    val cleanCorpus = usable(corpus, vecCol)
    // the assignment feeds the coded corpus AND (optionally) the vector
    // store — materialize it once so both writes agree on homes and the
    // linear assignment pass runs once, not twice
    val assigned0 = coarseAssigned(cleanCorpus, cents, m, idCol, vecCol)
    val assigned = if (storeVectors) assigned0.localCheckpoint(true) else assigned0
    pqCodedCorpus(cleanCorpus, assigned, books, nSub, subDim, idCol, vecCol, normName = "norm")
      .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/corpus")
    if (storeVectors)
      cleanCorpus.select(col(idCol), col(vecCol))
        .join(assigned.withColumnRenamed("id", idCol), idCol)
        .write.mode("overwrite").partitionBy("centroid_id").parquet(s"$dir/vectors")
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    books.write.mode("overwrite").parquet(s"$dir/codebooks")
    graft.util.MetaFiles.writeLong(corpus.sparkSession, s"$dir/_nassign", m.toLong)
    // ALWAYS written (1 or 0): a rebuild with storeVectors = false over a
    // dir that previously had the store must INVALIDATE it — a stale
    // marker would let rerank probes silently join the new shortlist
    // against the old corpus's vectors (wrong homes, missing ids)
    graft.util.MetaFiles.writeLong(corpus.sparkSession, s"$dir/_vectors",
      if (storeVectors) 1L else 0L)
    stampIndexFormat(corpus.sparkSession, dir)
  }

  /** ADC top-k against a [[saveIvfPqIndex]] index: per query the nProbe
    * nearest centroids (broadcast centroid table), LUT of exact codeword
    * dots (broadcast), then the probed CODE partitions scanned and
    * summed — never a stored vector, never an unprobed partition. Same
    * output contract as [[ivfPqTopK]]; the probe side must stay
    * broadcast-sized (the [[ivfTopKIndexed]] contract).
    *
    * `rerank` > 0 = the IVFADC+R refinement against the index's OWN
    * vector store (`<dir>/vectors`, written by [[saveIvfPqIndex]] with
    * `storeVectors = true` — required, fail-fast otherwise): ADC keeps
    * the top rerank·k, the full vectors come back FROM PROBED PARTITIONS
    * ONLY (the store shares the codes' centroid_id layout, so the same
    * dynamic pruning applies), exact dot decides the final top-k. */
  def ivfPqTopKIndexed(queries: DataFrame, dir: String, k: Int, nProbe: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding",
      rerank: Int = 0): DataFrame = {
    useNative(queries)
    val spark = queries.sparkSession
    requireIndexFormat(spark, dir, "ivfPqTopKIndexed")
    val cents = spark.read.parquet(s"$dir/centroids")
    val books = spark.read.parquet(s"$dir/codebooks")
    val nSub = books.agg(max(col("sub"))).collect().head.getInt(0) + 1
    val subDim = subDimOf(books)
    // fail fast on a dimension mismatch with the index: subVectors would
    // slice only the first nSub·subDim query elements and ncos would
    // zip-truncate — plausible-looking but wrong top-k, not an error
    // (the appendToIvfIndex guard, applied to the PQ probe)
    queries.select(size(col(vecCol)).as("d")).filter(col("d") > 0)
      .limit(1).collect().headOption.map(_.getInt(0)).foreach { d =>
        if (d != nSub * subDim) throw new IllegalStateException(
          s"ivfPqTopKIndexed: query vectors are $d-dimensional but the index at " +
            s"$dir was built on ${nSub * subDim}-dimensional vectors")
      }
    val codes = spark.read.parquet(s"$dir/corpus")
      // legacy-index guard, the ivfTopKIndexed rule: stored norm must be
      // usable or the row's ADC cosine is 0/0 or NaN at probe time
      .filter(col("norm") > lit(0d) && col("norm") < lit(Double.PositiveInfinity))
    // dirty queries match nothing (the [[usableVec]] contract)
    val cleanQueries = usable(queries, vecCol)
    val q = cleanQueries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      nnorm(col(vecCol)).as("qn"))
    val qprobe = probeCentroids(q, cents, nProbe)
      .select(col("query_id"), col("cid").as("centroid_id"))
    val lut = adcLut(cleanQueries, books, nSub, subDim, idCol, vecCol)
    val cands = codes.join(broadcast(qprobe), "centroid_id")
      .join(broadcast(lut), Seq("query_id", "sub", "code"))
      .filter(col("query_id") =!= col("id"))
    // soft-built index (stamped _nassign > 1): dedup shared-probed-home
    // duplicates before the sum, the ivfPqTopK rule
    val soft = graft.util.MetaFiles.readLong(spark, s"$dir/_nassign").exists(_ > 1L)
    val uniq =
      if (!soft) cands
      else cands.groupBy(col("query_id"), col("id"), col("sub"))
        .agg(first(col("part")).as("part"), first(col("norm")).as("norm"))
    val scored = uniq.groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("part")).as("adc"), first(col("norm")).as("cn"))
      .join(broadcast(q.select(col("query_id"), col("qn"))), "query_id")
      .withColumn("cosine", col("adc") / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    if (rerank <= 0)
      scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    else {
      // marker must be PRESENT and 1: absent = pre-store legacy index,
      // 0 = the store was invalidated by a later storeVectors=false
      // rebuild (stale vectors may still sit on disk — do not use them)
      if (!graft.util.MetaFiles.readLong(spark, s"$dir/_vectors").contains(1L))
        throw new IllegalStateException(
          s"ivfPqTopKIndexed: rerank=$rerank needs the full-vector store; " +
            s"rebuild the index at $dir with saveIvfPqIndex(storeVectors = true)")
      // shortlist ids live in probed partitions by construction — fetch
      // vectors from those partitions only (broadcast probe list → DPP,
      // the same pruned-scan shape as the code side)
      val vecs = spark.read.parquet(s"$dir/vectors")
        .join(broadcast(qprobe.select(col("centroid_id")).dropDuplicates()),
          "centroid_id")
        .select(col(idCol), col(vecCol))
      // include-ties shortlist (see [[quantShortlist]])
      rerankExact(quantShortlist(scored, k * rerank), queries, vecs, k, idCol, vecCol)
    }
  }
}
