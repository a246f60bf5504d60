package graft.analytics

import graft.model.PropertyGraph
import org.apache.spark.graphx.{Edge => GxEdge, EdgeDirection, Graph => GxGraph, VertexId}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GraphX bridge for whole-graph analytics the reference lacks entirely
  * (shortest path is a TODO in its docs, doc/Neo4j.md:179-196): connected
  * components, PageRank, single-source shortest paths via Pregel, and a
  * Pregel-based reachability that is the scale path for `***` patterns
  * (the DataFrame BFS in cypher.Exec is the semantic reference; Pregel
  * avoids per-iteration driver round-trips on deep graphs).
  */
object GraphAnalytics {

  /** Partition count sized to the data, from Catalyst plan statistics:
    * ceil(bytes / 64 MB), clamped to [1, 10000]. Iterative algorithms pay a
    * per-partition task cost EVERY superstep, so partition count must track
    * data volume — a fixed count is 30× task overhead on a 1 MB graph and
    * undersized shuffles on a 100 TB one. */
  def sizedPartitions(df: DataFrame, targetBytes: Long = 64L << 20): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    ((bytes + targetBytes - 1) / targetBytes).min(10000).max(1).toInt
  }

  /** PropertyGraph → GraphX graph (forward edges only; vertex attr = label).
    * The edge RDD is coalesced to a stats-sized partition count before any
    * Pregel runs — superstep latency is dominated by tasks-per-superstep,
    * but supersteps also run per-partition-threaded, so the GraphX target
    * is 8 MB/partition (vs 64 MB for batch scans): parallelism inside a
    * superstep wins over fewer tasks once the graph is non-trivial.
    *
    * Memoized per (session, edge-plan): the conversion (DF → RDD +
    * GraphX index build) is an analytics INDEX — two algorithms on the
    * same (sub)graph in one session (e.g. reachability then shortest
    * paths on a filtered label chain) must not each pay it.
    *
    * Unlike SessionCache's "handful of per-process fixtures", the key here
    * is user-data-dependent (every distinct filtered subgraph is a new
    * entry), so the cache is a BOUNDED LRU: beyond `gxCacheMax` live
    * entries the least-recently-used graph is unpersisted (lineage
    * remains — a late reader of an evicted graph recomputes, never
    * miscomputes).
    *
    * Cross-session hygiene (sequential-session test JVMs): entries from an
    * ENDED session are not just inert — they occupy the cap and would evict
    * live graphs, and unpersisting them from `removeEldestEntry` throws
    * from inside a NEW session's `put`. So every insert first purges keys
    * from other applications (no unpersist needed — their context is gone
    * or has its own entries), and eviction-unpersist is Try-guarded against
    * a stopped SparkContext. */
  private val gxCacheMax = 8
  private val gxCache =
    new java.util.LinkedHashMap[String, GxGraph[Int, Int]](16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, GxGraph[Int, Int]]): Boolean = {
        val evict = size() > gxCacheMax
        if (evict) scala.util.Try {
          val sc = e.getValue.vertices.sparkContext
          if (!sc.isStopped) e.getValue.unpersist(blocking = false)
        }
        evict
      }
    }
  def toGraphX(g: PropertyGraph): GxGraph[Int, Int] = {
    val appPrefix = s"gx|${g.spark.sparkContext.applicationId}|"
    val key = appPrefix +
      s"${g.edges.queryExecution.logical.semanticHash()}|" +
      g.explicitNodes.map(_.queryExecution.logical.semanticHash()).getOrElse(0)
    gxCache.synchronized(Option(gxCache.get(key))).getOrElse {
      val fwd = g.edges.filter(col("dir"))
        .select(col("src"), col("dst"), col("label"))
      // partition count from the EXACT edge count, never plan-stat
      // estimates (round 22, VERDICT r21 #7 — the e15 lesson measured
      // HERE: d5's unmaterialized pair relation estimated 1.5e25 bytes,
      // so sizedPartitions capped at 10,000, the coalesce below was a
      // no-op, and the memoized graph ran every Pregel superstep at the
      // session's full task width — isolated d5/d8 steady 1.5-1.9 s at
      // 32 shuffle partitions vs 0.5-0.7 s at 8. Post-materialization
      // the SAME plan reads 5.4 KB → p = 1. The count is one cheap job
      // per memoized conversion; ~40 B per GxEdge keeps the 8 MB/
      // partition superstep target the stats path aimed at.)
      val p = ((fwd.count() * 40L + (8L << 20) - 1) / (8L << 20))
        .min(10000).max(1).toInt
      val edges = fwd.rdd.map(r => GxEdge(r.getLong(0), r.getLong(1), r.getInt(2)))
        .coalesce(p)
      // isolated nodes (explicitNodes) must appear as singleton components /
      // ranked vertices; without an explicit node list the vertex set equals
      // the edge endpoints, which fromEdges derives for free — skipping the
      // distinct-over-endpoints shuffle that g.nodes would pay
      val gx = g.explicitNodes match {
        case Some(_) =>
          val vertices = g.nodes.select(col("id")).rdd.map(r => (r.getLong(0), -1))
            .coalesce(p)
          GxGraph(vertices, edges, defaultVertexAttr = -1)
        case None => GxGraph.fromEdges(edges, defaultValue = -1)
      }
      gx.cache()
      gxCache.synchronized {
        // purge other applications' entries BEFORE put: a dead session's
        // graphs must not hold cap slots against this session's live ones
        val it = gxCache.keySet().iterator()
        while (it.hasNext) if (!it.next().startsWith(appPrefix)) it.remove()
        // double-check under the lock: a concurrent builder of the same key
        // wins and ours is dropped un-cached (unpersist frees the marker)
        Option(gxCache.get(key)) match {
          case Some(prior) => gx.unpersist(blocking = false); prior
          case None => gxCache.put(key, gx); gx
        }
      }
    }
  }

  /** Connected components (undirected sense) → (id, component). */
  def connectedComponents(g: PropertyGraph): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    toGraphX(g).connectedComponents().vertices
      .map { case (v, c) => (v, c) }.toDF("id", "component")
  }

  /** STRONGLY connected components of a directed edge list → (id, scc),
    * scc = the MAX member id of the component. [[connectedComponents]]'
    * directed sibling: mutual reachability, so a DAG decomposes into
    * singletons and every directed cycle collapses.
    *
    * Algorithm: Trim + distributed coloring (Orzan 2004; the FW-BW family,
    * Fleischer et al. 2000) — THE published distributed SCC scheme;
    * Tarjan's linear-time stack walk is inherently sequential and does
    * not shard. Per outer round, on the still-unassigned subgraph:
    *  0. TRIM: peel vertices with no surviving in-edges or out-edges
    *     (each is a singleton SCC) to a capped fixpoint — one degree
    *     aggregation + anti-joins per peel, and on real digraphs this
    *     retires the bulk of |V| before any fixpoint runs;
    *  1. forward MAX-color fixpoint: color(v) = max id u with a directed
    *     path u→v (each step is one |E|⋈|V| join + max-aggregate);
    *  2. every color class provably contains its own pivot c (color(c)=c:
    *     if some u>c reached c, u would have recolored the whole class);
    *     the pivot's SCC = class members that reach c — recovered by a
    *     backward BFS restricted to the class, valid because every vertex
    *     on a within-class return path shares the class (it is reached by
    *     c via the path prefix and reaches c via the suffix, and any
    *     higher-id recolorer of it would have recolored c through the
    *     suffix too);
    *  3. retire those vertices and their edges, recolor the remainder.
    * Each round retires ≥1 SCC per surviving color class, so rounds are
    * bounded by the SCC-DAG's chain depth (tiny on real graphs; `maxRounds`
    * caps adversarial chains and a breach throws rather than returning a
    * partial labelling).
    *
    * Scale shape: the state that shuffles per step is the |V|-row color
    * (resp. frontier) vector against the localCheckpoint'd edge list —
    * the [[labelPropagation]]/[[weightedSSSP]] discipline; early-exit
    * counts run on checkpointed deltas (the [[kTrussEdges]] trade).
    * Self-loops are dropped for propagation but their endpoints keep a
    * (singleton) assignment; duplicate edges collapse up front. */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 64): DataFrame = {
    val spark = edges.sparkSession
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
    var verts = e0.select(col("src").as("id"))
      .unionAll(e0.select(col("dst").as("id"))).distinct().localCheckpoint(true)
    var e = e0.filter(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var assigned = spark.range(0).select(col("id"), col("id").as("scc"))
    var outer = 0
    var remaining = verts.count()
    while (remaining > 0 && outer < maxRounds) {
      // 0. TRIM (the FW-BW-Trim stage): a vertex with no in-edges or no
      // out-edges in the surviving subgraph is its own SCC — peel to
      // fixpoint (capped) before any coloring. On real digraphs most
      // vertices go here (the published motivation for the stage; the a23
      // subgraph: 277 of 379), and each peel round costs one degree
      // aggregation + anti-joins instead of a diameter-bounded fixpoint.
      var t = 0; var trimmed = 1L
      while (trimmed > 0 && t < maxRounds) {
        // NOTE (round 13, negative result #4): replacing these two
        // distincts + inner join with ONE tagged-union max-aggregation
        // (groupBy(id).agg(max(out), max(in))) measured WORSE — 14.4 →
        // 16.4 s steady on the gate cut: the union doubles the scanned
        // rows and the wall here is sequential action latency, not
        // exchange count. Kept the distinct/join form; see SCALING.md
        // "Round 13: a23 trim-loop action diet" alongside the
        // batching/AQE-off/lazy-acc dead-ends.
        val deg = e.select(col("src").as("id")).distinct()
          .join(e.select(col("dst").as("id")).distinct(), Seq("id"), "inner")
        val drop = verts.join(deg, Seq("id"), "left_anti").localCheckpoint(true)
        trimmed = drop.count()
        if (trimmed > 0) {
          assigned = assigned.unionAll(drop.select(col("id"), col("id").as("scc")))
            .localCheckpoint(true)
          verts = verts.join(drop, Seq("id"), "left_anti").localCheckpoint(true)
          e = e.join(drop.select(col("id").as("src")), Seq("src"), "left_anti")
            .join(drop.select(col("id").as("dst")), Seq("dst"), "left_anti")
            .localCheckpoint(true)
        }
        t += 1
      }
      remaining = verts.count()
      if (remaining > 0) {
        // 1. forward max-color fixpoint on the trimmed subgraph
        var colors = verts.select(col("id"), col("id").as("color")).localCheckpoint(true)
        var changed = 1L; var p = 0
        while (changed > 0 && p < maxRounds * 4) {
          val inc = e.join(colors.select(col("id").as("src"), col("color")), "src")
            .groupBy(col("dst").as("id")).agg(max(col("color")).as("inc"))
          // carry the previous color through the join so the convergence
          // check is a filter on already-checkpointed rows, not a second
          // |V| join per round
          val next = colors.withColumnRenamed("color", "old")
            .join(inc, Seq("id"), "left")
            .select(col("id"),
              greatest(col("old"), coalesce(col("inc"), col("old"))).as("color"),
              col("old"))
            .localCheckpoint(true)
          changed = next.filter(col("color") =!= col("old")).count()
          colors = next.select(col("id"), col("color")); p += 1
        }
        require(changed == 0,
          s"stronglyConnectedComponents: color fixpoint not reached in ${maxRounds * 4} steps")
        // 2. backward closure from each class pivot, restricted to the class
        var member = colors.filter(col("color") === col("id"))
          .select(col("id"), col("id").as("scc")).localCheckpoint(true)
        var grew = 1L; var b = 0
        while (grew > 0 && b < maxRounds * 4) {
          val fresh = e.join(member.select(col("id").as("dst"), col("scc")), "dst")
            .select(col("src").as("id"), col("scc"))
            .join(colors, "id").filter(col("color") === col("scc"))
            .select(col("id"), col("scc")).distinct()
            .join(member, Seq("id"), "left_anti").localCheckpoint(true)
          grew = fresh.count()
          if (grew > 0) member = member.unionAll(fresh).localCheckpoint(true)
          b += 1
        }
        // a truncated closure would retire a PARTIAL SCC and silently
        // mislabel the orphaned members as singletons next round — the
        // backward depth is NOT bounded by the forward round count (a
        // pivot can color every member in one hop while the return path
        // is a long chain), so the cap needs its own breach guard
        require(grew == 0,
          s"stronglyConnectedComponents: backward closure not complete in ${maxRounds * 4} steps")
        // 3. retire the discovered SCCs and shrink the working graph
        assigned = assigned.unionAll(member).localCheckpoint(true)
        verts = verts.join(member, Seq("id"), "left_anti").localCheckpoint(true)
        e = e.join(member.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(member.select(col("id").as("dst")), Seq("dst"), "left_anti")
          .localCheckpoint(true)
        remaining = verts.count()
      }
      outer += 1
    }
    require(remaining == 0,
      s"stronglyConnectedComponents: $remaining vertices unassigned after $maxRounds rounds")
    assigned
  }

  /** Condensation + longest-path topological layering → (id, scc, layer):
    * contract each SCC of [[stronglyConnectedComponents]] to one vertex;
    * on the resulting DAG, layer(C) = length of the longest cross-SCC arc
    * chain ending at C (0 = no incoming cross-SCC arc). The cycle-safe
    * "dependency depth" — build stages, pipeline waves, import layers —
    * where a plain topological sort would reject the cyclic input outright.
    *
    * Pass a precomputed `sccs` frame (the (id, scc) output) to share one
    * SCC run across consumers — the a23/a24 gates' memo. Layering is a
    * monotone max fixpoint over the condensation arcs, so it converges in
    * DAG-depth rounds; each round joins the arcs against the CHANGED
    * frontier only (delta propagation — the carried layer vector already
    * holds every earlier max), so total fixpoint work is the sum of
    * changed nodes' out-arcs, not depth·|arcs|. */
  def condensationLayers(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxRounds: Int = 64,
      sccs: Option[DataFrame] = None): DataFrame = {
    val scc = sccs.getOrElse(stronglyConnectedComponents(edges, srcCol, dstCol, maxRounds))
      .localCheckpoint(true)
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    // Coverage precondition on a CALLER-SUPPLIED assignment (round 13,
    // advisor find; round 14: folded into the arc build — the separate
    // bounded probe cost ~1-2 s of the a24 gate's steady wall): the arc
    // build used to inner-join both endpoints against `sccs`, so an id
    // missing from a mismatched frame would silently vanish from the
    // labelling. With a supplied frame the joins run LEFT and a NULL
    // component proves the hole — the codegen'd assert_true raises at
    // the arcs localCheckpoint below, zero extra jobs, endpoint named.
    // CATALYST TRAP, learned empirically: guarding with a null-intolerant
    // filter (s =!= d, or assert_true combined with it) above the left
    // joins lets EliminateOuterJoin convert them back to INNER joins —
    // the uncovered rows vanish before the assert ever runs. So the
    // cross-component cut below is written null-TOLERANT (explicit isNull
    // arms keep the outer join alive) and the raise lives in the
    // PROJECTION, where evaluating the kept null row is unavoidable.
    val joinType = if (sccs.isDefined) "left" else "inner"
    val arcs0 = e0
      .join(scc.select(col("id").as("src"), col("scc").as("s")), Seq("src"), joinType)
      .join(scc.select(col("id").as("dst"), col("scc").as("d")), Seq("dst"), joinType)
    def guarded(c: String, ep: String) =
      if (sccs.isEmpty) col(c)
      else when(col(c).isNull, raise_error(
        concat(lit("condensationLayers: sccs frame does not cover edge endpoint id="),
          col(ep).cast("string"),
          lit(" — the supplied assignment must label every vertex of `edges` " +
            "(pass sccs = None to compute it here)"))).cast("long"))
        .otherwise(col(c))
    val arcs = arcs0
      .filter(col("s").isNull || col("d").isNull || col("s") =!= col("d"))
      .select(guarded("s", "src").as("s"), guarded("d", "dst").as("d"))
      .distinct()
      .localCheckpoint(true)
    var layers = scc.select(col("scc").as("s")).distinct()
      .withColumn("layer", lit(0L)).localCheckpoint(true)
    // delta propagation (round 13): max-layer is monotone, so a round
    // only needs candidates from sources whose layer CHANGED last round
    // — the carried `layers` already holds every earlier max. Work
    // across the whole fixpoint is Σ|out-arcs of changed nodes|, not
    // depth·|arcs|; round 1's frontier is every SCC (all start changed)
    var frontier = layers
    var changed = 1L; var r = 0
    while (changed > 0 && r < maxRounds * 4) {
      val inc = arcs.join(frontier, "s")
        .groupBy(col("d").as("s")).agg((max(col("layer")) + 1L).as("cand"))
      // LAZY checkpoint, materialized BY the convergence count — one
      // driver action per round, not two (round 19): with rounds = DAG
      // depth and near-zero executor work, a24 was driver-latency-bound
      // at sf1 (7.1 s wall over 2.6 executor-cpu-s, effPar 0.9); fusing
      // checkpoint + count into one action measured 7.1 → 6.3 s. The
      // count executes the plan, which persists the checkpoint blocks as
      // a side effect; `layers` then reads those blocks, lineage cut as
      // before. (Chaining 4 delta rounds per materialization was ALSO
      // tried — 25% fewer stages but 6.27 → 6.16 s, noise: the residual
      // is the ~3 shuffle barriers per round × DAG depth, which blocking
      // rounds does not remove — negative recorded in SCALING.md.)
      val next = layers.withColumnRenamed("layer", "old").join(inc, Seq("s"), "left")
        .select(col("s"),
          greatest(col("old"), coalesce(col("cand"), col("old"))).as("layer"),
          col("old"))
        .localCheckpoint(false)
      frontier = next.filter(col("layer") =!= col("old")).select(col("s"), col("layer"))
      changed = frontier.count()
      layers = next.select(col("s"), col("layer")); r += 1
    }
    require(changed == 0,
      s"condensationLayers: layering fixpoint not reached in ${maxRounds * 4} rounds " +
        "(the condensation must be a DAG — a non-SCC `sccs` input breaks this)")
    scc.join(layers.withColumnRenamed("s", "scc"), "scc")
      .select(col("id"), col("scc"), col("layer"))
  }

  /** PageRank → (id, rank). */
  def pageRank(g: PropertyGraph, tol: Double = 0.0001): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    toGraphX(g).pageRank(tol).vertices
      .map { case (v, r) => (v, r) }.toDF("id", "rank")
  }

  /** Fixed-iteration (power-iteration) PageRank → (id, rank). Unlike the
    * tolerance form this is DETERMINISTIC in iteration count, so its output
    * is oracle-expressible as an unrolled power iteration in plain SQL:
    * rank₀ = 1; rankᵢ = reset + (1-reset)·Σ_in rankᵢ₋₁/outdeg; final ranks
    * scaled to sum to |V| (GraphX normalizeRankSum). Sinks keep their mass
    * un-redistributed per iteration — the trailing normalization is what
    * GraphX does about them. */
  def pageRankStatic(g: PropertyGraph, numIter: Int, resetProb: Double = 0.15): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    toGraphX(g).staticPageRank(numIter, resetProb).vertices
      .map { case (v, r) => (v, r) }.toDF("id", "rank")
  }

  /** Personalized PageRank, deterministic fixed-iteration power form —
    * the "related to THIS node" ranking behind recommendation and
    * account-centric fraud queries: rank mass teleports back to `source`
    * instead of uniformly, so scores measure proximity to the seed.
    *
    *   pr_0(v)  = [v = source]
    *   pr_i(v)  = reset·[v = source] + (1−reset)·Σ_{(u,v)∈E} pr_{i−1}(u)/outdeg(u)
    *
    * Expressed as a DataFrame power iteration rather than GraphX: the
    * formula IS the spec, so an external engine replicates it exactly
    * (mod double-summation order, absorbed by the gate's 6-dp round) —
    * the same oracle-ability argument as the unrolled static-PageRank
    * oracle (a5). Lineage is cut per iteration (`localCheckpoint`, the
    * [[kCoreEdges]] idiom) so plan depth stays constant at any iteration
    * count.
    *
    * Scale shape (the [[hits]] discipline): the edge relation carries
    * its source degree and is persisted PRE-PARTITIONED on src once, so
    * every round's join reuses the cached layout and shuffle-hash-joins
    * only the rank vector — no per-round |E| Exchange, no per-round
    * driver broadcast, no |V| driver-memory ceiling (the old
    * broadcastMaxVerts knob is gone for the same reason as hits').
    * The rank vector stays SPARSE through the iteration: pr_0 is one
    * row, and a vertex absent from a round's vector would carry rank
    * reset·[v=source] ⊕ 0 contribution — exactly what the final dense
    * verts join restores once at the end. Per round: one |reached|-row
    * vector shuffle + one dst-keyed map-side-combined aggregation;
    * lineage cut per round. */
  def personalizedPageRank(g: PropertyGraph, source: Long, numIter: Int,
      resetProb: Double = 0.15): DataFrame = {
    require(numIter >= 1, s"personalizedPageRank: numIter must be >= 1, got $numIter")
    val spark = g.spark
    import spark.implicits._
    val fwd = g.edges.filter(col("dir")).select(col("src"), col("dst"))
    // (src, dst, d): source out-degree attached once, not once per round.
    // The degree rides a count window rather than a groupBy+self-join:
    // ONE pass over the base relation and one |E| exchange — and that
    // exchange IS the src-hash layout the round joins need, reported
    // through the persist (localCheckpoint would drop the partitioning
    // under AQE — PartitionPreserveProbe), so no separate repartition
    val fwdD = fwd.withColumn("d",
        count(lit(1)).over(Window.partitionBy(col("src"))))
      .persist()
    try {
      fwdD.count()
      // vertex set = edge endpoints ∪ explicitNodes (the toGraphX
      // invariant: isolated nodes must appear as ranked vertices —
      // pageRankStatic honors it via GraphX, this path must too) ∪ the
      // seed itself, so a seed with no edges still gets its resetProb
      // row instead of a silent all-zero vector. Derived from the CACHED
      // relation (every fwd src survives the degree window), not from
      // two more base-relation passes — the a11 setup lesson
      val verts = fwdD.select(col("src").as("id"))
        .unionAll(fwdD.select(col("dst").as("id")))
        .unionAll(g.explicitNodes.map(_.select(col("id")))
          .getOrElse(Seq.empty[Long].toDF("id")))
        .unionAll(Seq(source).toDF("id"))
        .distinct().localCheckpoint(true)
      val sourceRow = spark.range(1)
        .select(lit(source).as("id"), lit(resetProb).as("rank"))
      var pr = spark.range(1).select(lit(source).as("id"), lit(1.0).as("rank"))
        .localCheckpoint(true)
      for (i <- 1 to numIter) {
        val contrib = fwdD.join(pr.hint("shuffle_hash"), fwdD("src") === pr("id"))
          .groupBy(fwdD("dst").as("id"))
          .agg((lit(1.0 - resetProb) * sum(col("rank") / col("d"))).as("rank"))
        // sparse next vector: damped contributions ⊕ the seed's reset mass
        pr = contrib.unionByName(sourceRow)
          .groupBy(col("id")).agg(sum(col("rank")).as("rank"))
          .localCheckpoint(true)
      }
      verts.join(pr, Seq("id"), "left")
        .select(col("id"), coalesce(col("rank"), lit(0.0)).as("rank"))
    } finally {
      // the returned frame depends only on the eager localCheckpoints
      // (verts + the per-round pr), so the cached |E| layout can be
      // released immediately — without this every distinct input graph
      // left its repartitioned edge relation resident for the session
      fwdD.unpersist(blocking = false)
    }
  }

  /** Plan-family dispatch threshold for the BFS pair (round 16,
    * BfsCrossoverProbe): Pregel wins 3-4× below ~1.4·10⁵ directed edges
    * (superstep latency is small and the conversion is memoized) and
    * LOSES 3× at ~1.4·10⁶ (per-superstep cost scales with the graph even
    * at frontier-only message emission — see [[reachableFromFrontier]]'s
    * measured table). 5·10⁵ is the geometric midpoint of the measured
    * bracket — a coarse dial between two measured points, not a tuned
    * constant; both families compute identical rows (unit-pinned), so a
    * mis-dial costs wall, never correctness. The count is session-
    * memoized per edge plan (one job per distinct graph). */
  private val FrontierCrossoverEdges = 500000L
  private val edgeCountCache = new graft.util.SessionCache[Long]
  private def dirEdgeCount(g: PropertyGraph): Long = {
    val fwd = g.edges.filter(col("dir"))
    edgeCountCache(g.spark,
      s"bfsE|${fwd.queryExecution.logical.semanticHash()}")(fwd.count())
  }

  /** Unweighted single-source shortest hop counts → (id, dist).
    * Dispatches between the Pregel and frontier-join plan families on
    * the measured crossover ([[FrontierCrossoverEdges]]). */
  def shortestPaths(g: PropertyGraph, source: Long): DataFrame =
    if (dirEdgeCount(g) >= FrontierCrossoverEdges) shortestPathsFrontier(g, source)
    else shortestPathsPregel(g, source)

  /** Pregel form of [[shortestPaths]] — the small-graph winner. */
  def shortestPathsPregel(g: PropertyGraph, source: Long): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val gx = toGraphX(g).mapVertices((v, _) =>
      if (v == source) 0.0 else Double.PositiveInfinity)
    // activeDirection = Out: a vertex's dist only drops when it receives a
    // message, and messages flow src→dst, so each superstep only needs to
    // scan triplets whose SOURCE was just updated — on long chains this
    // cuts per-superstep triplet evaluation from |E| to the frontier.
    val res = gx.pregel(Double.PositiveInfinity,
      activeDirection = EdgeDirection.Out)(
      (_, dist, msg) => math.min(dist, msg),
      t => if (t.srcAttr + 1 < t.dstAttr) Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      (a, b) => math.min(a, b))
    res.vertices.filter(_._2 < Double.PositiveInfinity)
      .map { case (v, d) => (v, d.toLong) }.toDF("id", "dist")
  }

  /** All nodes reachable from `sources` following a given edge label
    * (optionally any) — the `***` pattern. Dispatches between the Pregel
    * and frontier-join plan families on the measured crossover
    * ([[FrontierCrossoverEdges]], counted on the label-filtered
    * subgraph). */
  def reachableFrom(g: PropertyGraph, sources: Seq[Long], label: Option[Int] = None): DataFrame = {
    val sub = label.fold(g)(l => g.copy(edges = g.edges.filter(col("label") === l)))
    if (dirEdgeCount(sub) >= FrontierCrossoverEdges)
      reachableFromFrontier(g, sources, label)
    else reachableFromPregel(g, sources, label)
  }

  /** Pregel form of [[reachableFrom]] — the small-graph winner. Routes
    * through the memoized [[toGraphX]] of the label-filtered subgraph, so
    * reachability and shortest paths over the same chain share one
    * conversion. */
  def reachableFromPregel(g: PropertyGraph, sources: Seq[Long], label: Option[Int] = None): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val sub = label.fold(g)(l => g.copy(edges = g.edges.filter(col("label") === l)))
    val srcSet = sources.toSet
    val gx = toGraphX(sub).mapVertices((v, _) => srcSet.contains(v))
    // activeDirection = Out: `reached` flips only on message receipt and
    // messages flow src→dst — only out-edges of newly-reached vertices can
    // emit, so triplet scans shrink to the frontier per superstep.
    val res = gx.pregel(false, activeDirection = EdgeDirection.Out)(
      (_, reached, msg) => reached || msg,
      t => if (t.srcAttr && !t.dstAttr) Iterator((t.dstId, true)) else Iterator.empty,
      (a, b) => a || b)
    res.vertices.filter { case (v, reached) => reached && !srcSet.contains(v) }
      .map(_._1).toDF("id")
  }

  /** DataFrame-frontier BFS — the measured SCALE path of the
    * [[reachableFrom]]/[[shortestPaths]] pair (BfsCrossoverProbe, round
    * 16, REPEAT=2 steady on the a1/a2 NextOrder-chain instance):
    *
    *   | scale | Pregel | frontier join | shuffle (pregel / df) |
    *   |---|---|---|---|
    *   | 1× (sf0.1)  | **1.6–2.0 s** | 6.1–6.6 s | 0.9 / 13.7 MiB |
    *   | 10×         | 14.5–14.8 s | **4.3–4.5 s** | 25 / 133 MiB |
    *
    * The crossover RULE the two-point curve establishes: GraphX's
    * per-superstep cost scales with the GRAPH (vertex-state joins and
    * edge-partition walks run over |V|/|E| structures every superstep,
    * even when activeDirection limits message emission to a tiny
    * frontier — measured ~10× wall at 10× data for the same 10-round
    * chain), while the frontier join's per-round cost is one AQE-planned
    * broadcast-frontier join + fixed exchange latency — round-latency-
    * bound, scale-flat until the frontier itself is large. It shuffles
    * MORE bytes (the per-round match outputs) and still walls less at
    * 10×: the bytes are parallel codegen'd joins, not superstep
    * machinery. Below roughly the sf0.1 graph size (~10⁵ edges per
    * label) Pregel's small-graph superstep latency wins; past it, this —
    * and [[reachableFrom]]/[[shortestPaths]] DISPATCH on that measured
    * crossover ([[FrontierCrossoverEdges]]), so callers get the right
    * family at every scale without choosing. Per-round
    * localCheckpoint = the flat-plan discipline; the anti-join keeps
    * re-expansion of reached vertices off the frontier, so total work
    * is Σ frontier-out-degree, the BFS contract. */
  def reachableFromFrontier(g: PropertyGraph, sources: Seq[Long],
      label: Option[Int] = None): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    val srcDF = sources.toDF("id")
    val dists = frontierBfs(g, srcDF, label)
    dists.join(srcDF, Seq("id"), "left_anti").select(col("id"))
  }

  /** Frontier-join form of [[shortestPaths]] (single source) — see
    * [[reachableFromFrontier]] for the measured Pregel crossover. */
  def shortestPathsFrontier(g: PropertyGraph, source: Long): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    frontierBfs(g, Seq(source).toDF("id"), label = None)
  }

  /** Shared frontier loop: (id, dist) for every vertex reachable from
    * the seed set (dist 0 at the seeds). One hop per round: frontier ⋈
    * edges → distinct → anti-join vs reached → localCheckpoint.
    *
    * Seed agreement with the Pregel family (ADVICE r16): GraphX silently
    * OMITS a seed absent from its vertex universe (explicit nodes when
    * the graph carries them, else the dir-edge endpoints fromEdges
    * derives), while this loop used to emit (seed, 0) for ANY id — so
    * the same [[shortestPaths]] call could return different row sets
    * depending on which side of the crossover the graph fell. Seeds are
    * therefore semi-joined against the SAME universe toGraphX uses: one
    * endpoint scan with the tiny seed set broadcast, never a large
    * shuffle. */
  private def frontierBfs(g: PropertyGraph, seeds: DataFrame,
      label: Option[Int]): DataFrame = {
    val fwd = label.fold(g.edges.filter(col("dir")))(l =>
      g.edges.filter(col("dir") && col("label") === l))
      .select(col("src"), col("dst"))
    val universe = g.explicitNodes.fold(
      fwd.select(col("src").as("id")).unionByName(fwd.select(col("dst").as("id"))))(
      _ => g.nodes.select(col("id")))
    val seedSet = seeds.select(col("id")).distinct()
    var frontier = universe
      .join(broadcast(seedSet), Seq("id"), "left_semi").distinct()
      .localCheckpoint(true)
    var reached = frontier.select(col("id"), lit(0L).as("dist")).localCheckpoint(true)
    var dist = 0L
    var done = false
    while (!done) {
      dist += 1
      val next = frontier.join(fwd, frontier("id") === fwd("src"))
        .select(col("dst").as("id")).distinct()
        .join(reached, Seq("id"), "left_anti").localCheckpoint(true)
      if (next.count() == 0) done = true
      else {
        reached = reached
          .unionByName(next.select(col("id"), lit(dist).as("dist")))
          .localCheckpoint(true)
        frontier = next
      }
    }
    reached
  }

  /** Reachability along one edge label by pointer doubling: O(log depth)
    * rounds of two joins, vs one Pregel superstep (or BFS join) per hop.
    * J holds exactly-h-step jumps and squares each round; R (nodes within
    * distance h of a source) absorbs R ⋈ J. Intended for labels whose
    * out-degree is small (chain/successor relations like a per-key
    * next-row edge) — J stays O(|V| · outdeg^h∧paths) there; for dense
    * labels use [[reachableFrom]] (Pregel), which never materializes
    * multi-hop pairs. Row counts are driver-side actions on cached
    * intermediates; lineage is cut by caching each round. */
  def reachableByDoubling(g: PropertyGraph, sources: Seq[Long], label: Int): DataFrame = {
    val spark = g.spark
    import spark.implicits._
    var jump = g.edges.filter(col("dir") && col("label") === label)
      .select(col("src").as("v"), col("dst").as("w")).cache()
    var reach = sources.toDF("id").cache()
    var reachN = reach.count()
    var rounds = 0
    var done = false
    while (!done && rounds < 41) { // 2^41 hops ≫ any real chain
      val stepped = reach.join(jump, reach("id") === jump("v"))
        .select(col("w").as("id"))
      val nextReach = reach.union(stepped).distinct().cache()
      val nextN = nextReach.count()
      if (nextN == reachN) { nextReach.unpersist(); done = true }
      else {
        reach.unpersist(); reach = nextReach; reachN = nextN
        val j2 = jump.alias("a").join(jump.alias("b"), col("a.w") === col("b.v"))
          .select(col("a.v").as("v"), col("b.w").as("w")).distinct().cache()
        if (j2.isEmpty) { j2.unpersist(); done = true }
        else { jump.unpersist(); jump = j2 }
      }
      rounds += 1
    }
    jump.unpersist()
    val srcSet = sources.toSet
    reach.filter(!col("id").isin(srcSet.toSeq: _*))
  }

  /** Degree distribution (out-degree histogram) — a one-liner the reference
    * computes per node via its counter slots (Enum.hs:495-506). */
  def degreeHistogram(g: PropertyGraph): DataFrame =
    g.edges.filter(col("dir")).groupBy(col("src")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /** Per-node triangle counts over an UNDIRECTED edge list — the
    * clustering/cohesion primitive behind community detection and
    * spam-graph features. Input rows are (uCol, vCol) pairs in any
    * orientation, self-loops and duplicates tolerated (canonicalized
    * and distinct'ed first). Emits (node, n_triangles) for every node
    * in at least one triangle.
    *
    * Scale shape — the degree-ordered orientation (Chiba–Nishizeki /
    * "node-iterator++", the standard distributed formulation): every
    * edge points from its (degree, id)-smaller endpoint to the larger,
    * so each triangle {x ≺ y ≺ z} is found exactly once as a wedge at
    * x closed by the oriented edge y→z. The wedge self-join fans out
    * Σ outdeg² rows, and orientation bounds every outdeg at O(√m) —
    * a celebrity node RECEIVES its million edges instead of emitting a
    * million-squared wedge set; that bound is the whole trick and is
    * what makes this runnable on a 100 TB co-occurrence graph. Wedges
    * then semi-join the oriented edges on (y, z): three hash shuffles
    * (degree agg, wedge join, closing join), no cartesian anywhere. */
  def triangleCounts(edges: DataFrame, uCol: String = "u", vCol: String = "v"): DataFrame =
    orientedTriangles(canonicalEdges(edges, uCol, vCol))
      .select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))

  /** The full triangle relation of an undirected edge list, exactly once
    * per triangle, as (x, y, z, dx, dy, dz) rows in ≺-order with vertex
    * degrees — the SHARED INTERMEDIATE of the link-prediction family: in
    * a real pipeline the triangle enumeration (the expensive wedge join)
    * runs once and support/Adamic–Adar/Jaccard all derive from it. Pass
    * the materialized result to [[adamicAdar]]/[[jaccardLinks]] via
    * their `triangles0` parameter (the [[kTrussEdges]] `support0` /
    * [[clusteringCoefficient]] `triangles0` discipline). Round-18
    * measurement that motivated making this EXPLICIT: in a warm session
    * a14 ran 7× faster than a13 on identical wedge machinery because
    * Spark's cache manager happened to substitute the cached a10 support
    * relation into a14's structurally-identical subtree — a13's subtree
    * matched nothing and re-ran the full 22 s enumeration. Accidental
    * plan-fragment reuse is not an architecture; a named shared relation
    * is. */
  def triangleSet(edges: DataFrame, uCol: String = "u", vCol: String = "v"): DataFrame =
    orientedTriangles(canonicalEdges(edges, uCol, vCol))

  /** Undirected edge list canonicalized (a < b, self-loops dropped,
    * parallel edges deduped) — the shared front of every triangle op. */
  private def canonicalEdges(edges: DataFrame, uCol: String, vCol: String): DataFrame =
    edges
      .select(least(col(uCol), col(vCol)).as("a"), greatest(col(uCol), col(vCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()

  /** Every triangle of a canonical edge list, exactly once, as
    * (x, y, z, dx, dy, dz) rows in ≺-order with each vertex's DEGREE —
    * ONE body behind [[triangleCounts]], [[edgeSupport]], [[adamicAdar]]
    * and [[jaccardLinks]] so an orientation or tie-break fix cannot
    * drift between them. Total order ≺ = (degree, id), carried as a
    * comparable struct so no global rank window is ever needed; each
    * wedge source's out-degree is O(√m), the celebrity-node bound.
    *
    * Degrees ride for free (round 18): the ≺-structs already hold every
    * endpoint's degree, so emitting them costs 3 long columns that
    * Catalyst COLUMN-PRUNES below the closing semi-join for consumers
    * that never read them (triangleCounts/edgeSupport shuffle the same
    * bytes as before — plan-pinned). The consumer that does read them
    * (adamicAdar's witness weights) drops a full shuffle-join of the
    * exploded 3·|triangles| witness stream against the degree table —
    * the a13-vs-a14 asymmetry: same wedge body, but a13 used to shuffle
    * its fat stream twice (deg join + groupBy) where a14 shuffles once. */
  private def orientedTriangles(e: DataFrame): DataFrame = {
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val keyed = e
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"),
        struct(col("da").as("d"), col("a").as("i")).as("ka"),
        struct(col("db").as("d"), col("b").as("i")).as("kb"))
    val oriented = keyed.select(
      when(col("ka") < col("kb"), col("a")).otherwise(col("b")).as("src"),
      when(col("ka") < col("kb"), col("b")).otherwise(col("a")).as("dst"),
      when(col("ka") < col("kb"), col("ka")).otherwise(col("kb")).as("ksrc"),
      when(col("ka") < col("kb"), col("kb")).otherwise(col("ka")).as("kdst"))
    val wedges = oriented
      .select(col("src"), col("ksrc"), col("dst").as("y"), col("kdst").as("ky"))
      .join(oriented.select(col("src"), col("dst").as("z"), col("kdst").as("kz")), "src")
      .filter(col("ky") < col("kz"))
      .select(col("src").as("x"), col("y"), col("z"),
        col("ksrc.d").as("dx"), col("ky.d").as("dy"), col("kz.d").as("dz"))
    wedges.join(
      oriented.select(col("src").as("y"), col("dst").as("z")), Seq("y", "z"), "left_semi")
  }

  /** Triangle SUPPORT per edge — |N(a) ∩ N(b)| for each undirected edge
    * (a, b), a < b: the truss-decomposition primitive and the standard
    * tie-strength feature (an edge inside a community closes many
    * triangles; a bridge closes none). Same degree-ordered orientation
    * as [[triangleCounts]] — each triangle is detected exactly once from
    * its ≺-smallest vertex (wedge volume O(Σ outdeg²), celebrity-safe)
    * and credits its THREE edges; edges in no triangle emit support 0
    * via the trailing left join. Canonicalization (dedup, self-loop
    * drop) matches triangleCounts, so `support` here sums to 3× its
    * per-node triangle total. */
  def edgeSupport(edges: DataFrame, uCol: String = "u", vCol: String = "v"): DataFrame = {
    val e = canonicalEdges(edges, uCol, vCol)
    // credit each triangle's three edges, re-canonicalized a < b
    val credits = orientedTriangles(e).select(explode(array(
        struct(col("x").as("p"), col("y").as("q")),
        struct(col("x").as("p"), col("z").as("q")),
        struct(col("y").as("p"), col("z").as("q")))).as("e"))
      .select(least(col("e.p"), col("e.q")).as("a"), greatest(col("e.p"), col("e.q")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
    e.join(credits, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Newman modularity of a community assignment (Newman & Girvan 2004)
    * over the canonical undirected edge set, reported PER COMMUNITY:
    * q_c = e_c/m − (d_c/2m)² with e_c = intra-community edges, d_c =
    * total degree of c's members, m = |edges|; Σ q_c is the global Q.
    * The quality score for [[labelPropagation]]'s output (or any
    * (id, label) assignment) — per-community rows expose WHICH
    * communities carry the structure, not just the scalar.
    *
    * Returns (label, n_nodes, intra_edges, total_degree, q rounded 6 dp).
    * Nodes missing from `labels` contribute degree to no community
    * (their incident edges still count in m). Every labeled node emits —
    * an edge-less community reports q = 0.
    *
    * Scale shape: two |E| label-attach joins + one groupBy(label) for
    * e_c, one |V| join + groupBy for d_c, m as a broadcast 1-row scalar
    * — all map-side combinable, nothing quadratic. */
  def modularity(edges: DataFrame, labels: DataFrame,
      uCol: String = "u", vCol: String = "v",
      idCol: String = "id", labelCol: String = "label"): DataFrame = {
    val e = canonicalEdges(edges, uCol, vCol)
    val mDF = e.agg(count(lit(1)).cast("double").as("m"))
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val lab = labels.select(col(idCol).as("n"), col(labelCol).as("label"))
    val intra = e
      .join(lab.select(col("n").as("a"), col("label").as("la")), "a")
      .join(lab.select(col("n").as("b"), col("label").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("label")).agg(count(lit(1)).as("intra_edges"))
    val degC = lab.join(deg, Seq("n"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"), sum(coalesce(col("d"), lit(0L))).as("total_degree"))
    degC.join(intra, Seq("label"), "left").crossJoin(broadcast(mDF))
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("total_degree"),
        round(coalesce(col("intra_edges"), lit(0L)) / col("m")
          - pow(col("total_degree") / (lit(2.0) * col("m")), 2), 6).as("q"))
  }

  /** Adamic–Adar index per undirected edge (Adamic & Adar 2003): Σ over
    * common neighbors w of 1/ln(deg(w)) — the classic link-strength /
    * link-prediction feature where well-connected witnesses count less
    * than rare ones. Computed from [[orientedTriangles]] exactly like
    * [[edgeSupport]] (each triangle contributes its THIRD vertex as a
    * witness to each of its three edges), so the wedge volume keeps the
    * degree-ordered O(Σ outdeg²) bound and no cartesian appears. A
    * common neighbor is adjacent to both endpoints, so deg(w) ≥ 2 and
    * ln never hits zero. Edges with no common neighbor emit 0 via the
    * trailing left join. Returns (a, b, support, aa rounded 6 dp). */
  def adamicAdar(edges: DataFrame, uCol: String = "u", vCol: String = "v",
      triangles0: Option[DataFrame] = None): DataFrame = {
    val e = canonicalEdges(edges, uCol, vCol)
    // witness degrees ride the triangle rows ([[orientedTriangles]] emits
    // dx/dy/dz), so the exploded 3·|triangles| stream goes STRAIGHT to
    // its one groupBy shuffle — the old shape joined that fat stream
    // against the degree table first (a second full shuffle + sort of
    // the stream, measured as the a13-vs-a14 wall asymmetry at sf1).
    // triangles0 = a precomputed [[triangleSet]] of the SAME edge list
    // (caller's contract), the shared-intermediate discipline
    val witnessed = triangles0.getOrElse(orientedTriangles(e)).select(explode(array(
        struct(col("x").as("p"), col("y").as("q"), col("dz").as("wd")),
        struct(col("x").as("p"), col("z").as("q"), col("dy").as("wd")),
        struct(col("y").as("p"), col("z").as("q"), col("dx").as("wd")))).as("t"))
      .select(least(col("t.p"), col("t.q")).as("a"),
        greatest(col("t.p"), col("t.q")).as("b"), col("t.wd").as("wd"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("support"), sum(lit(1.0) / log(col("wd"))).as("aa"))
    e.join(witnessed, Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        coalesce(col("support"), lit(0L)).as("support"),
        round(coalesce(col("aa"), lit(0.0)), 6).as("aa"))
  }

  /** Jaccard link coefficient per undirected edge (Liben-Nowell &
    * Kleinberg 2003's common link-prediction baseline): |N(a)∩N(b)| /
    * |N(a)∪N(b)| over OPEN neighborhoods with the opposite endpoint
    * excluded — the intersection is exactly [[edgeSupport]]'s common
    * neighbors, and the union is (deg(a)−1) + (deg(b)−1) − support
    * (each endpoint's neighborhood contains the other, which is never a
    * common witness of its own edge). Same degree-ordered
    * [[orientedTriangles]] wedge volume as a10/a13 — no cartesian, one
    * extra pair of degree attach joins. A degree-1↔degree-1 bridge edge
    * has an empty union and emits 0. Returns (a, b, support, jaccard
    * rounded 6 dp) — with [[edgeSupport]]/[[adamicAdar]] this completes
    * the standard link-prediction feature trio on one shared body. */
  def jaccardLinks(edges: DataFrame, uCol: String = "u", vCol: String = "v",
      triangles0: Option[DataFrame] = None): DataFrame = {
    val e = canonicalEdges(edges, uCol, vCol)
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // triangles0: precomputed [[triangleSet]] of the same edges — before
    // round 18 this gate's speed rested on the cache manager HAPPENING to
    // substitute the cached support relation into the structurally-equal
    // subtree; the explicit parameter makes the reuse architectural
    val credits = triangles0.getOrElse(orientedTriangles(e)).select(explode(array(
        struct(col("x").as("p"), col("y").as("q")),
        struct(col("x").as("p"), col("z").as("q")),
        struct(col("y").as("p"), col("z").as("q")))).as("t"))
      .select(least(col("t.p"), col("t.q")).as("a"),
        greatest(col("t.p"), col("t.q")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("support"))
    val sup = e.join(credits, Seq("a", "b"), "left")
      .select(col("a"), col("b"), coalesce(col("support"), lit(0L)).as("support"))
    val union = col("da") + col("db") - lit(2L) - col("support")
    sup
      .join(deg.select(col("n").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("d").as("db")), "b")
      .select(col("a"), col("b"), col("support"),
        when(union > 0, round(col("support").cast("double") / union, 6))
          .otherwise(lit(0.0)).as("jaccard"))
  }

  /** Sampled harmonic closeness centrality (Eppstein & Wang 2001's
    * pivot-sampling estimator with the harmonic variant — robust to
    * disconnection): multi-source BFS from the `nSeeds` deterministically
    * chosen pivot vertices (smallest md5(id-as-string), the engine-wide
    * hash-sample idiom) bounded at `maxDepth` hops, then per vertex
    * harmonic = Σ_{seeds s at 0 < dist ≤ maxDepth} 1/dist(s, v). The
    * per-seed BFS trees ride ONE frontier table keyed (seed, id), so the
    * whole computation is maxDepth rounds of [join ∪ carry → min-dist
    * groupBy] — each round one |frontier|-row hash join against the
    * undirected edge list + one map-side-combined min agg, lineage cut
    * per round (the iterative-op idiom). Cost per round ≤ |E|·nSeeds /
    * |V| expected frontier expansion — linear in seeds, never all-pairs.
    *
    * Returns (id, n_reached, harmonic rounded 6 dp) for every vertex
    * some seed reaches within maxDepth (including the seeds themselves;
    * a vertex reached by no seed does not appear — on a sampled
    * estimator absence means "no evidence", not zero). */
  def harmonicCloseness(edges: DataFrame, nSeeds: Int, maxDepth: Int,
      uCol: String = "u", vCol: String = "v"): DataFrame = {
    require(nSeeds >= 1, s"harmonicCloseness: nSeeds must be >= 1, got $nSeeds")
    require(maxDepth >= 1, s"harmonicCloseness: maxDepth must be >= 1, got $maxDepth")
    seededBfsDistances(edges, nSeeds, maxDepth, uCol, vCol)
      .groupBy(col("id"))
      .agg(count(when(col("dist") > 0, 1)).as("n_reached"),
        round(coalesce(sum(when(col("dist") > 0, lit(1.0) / col("dist"))), lit(0.0)), 6)
          .as("harmonic"))
  }

  /** Sampled eccentricity + pseudo-diameter view — the other standard
    * report over the same pivot BFS (Eppstein & Wang sampling again):
    * per seed, ecc = max BFS distance reached within `maxDepth` (a lower
    * bound on the true eccentricity, exact once maxDepth ≥ diameter) and
    * n_reached = vertices found at dist > 0. max(ecc) over the rows is
    * the sampled pseudo-diameter lower bound. Returns one row per seed:
    * (seed, ecc, n_reached) — an isolated-in-subgraph seed emits (0, 0).
    *
    * Scale shape: identical to [[harmonicCloseness]] (the shared
    * [[seededBfsDistances]] body) with the final aggregation keyed by
    * seed instead of vertex — nSeeds output rows, map-side max/count. */
  def eccentricitySampled(edges: DataFrame, nSeeds: Int, maxDepth: Int,
      uCol: String = "u", vCol: String = "v"): DataFrame = {
    require(nSeeds >= 1, s"eccentricitySampled: nSeeds must be >= 1, got $nSeeds")
    require(maxDepth >= 1, s"eccentricitySampled: maxDepth must be >= 1, got $maxDepth")
    seededBfsDistances(edges, nSeeds, maxDepth, uCol, vCol)
      .groupBy(col("seed"))
      .agg(max(col("dist")).as("ecc"),
        count(when(col("dist") > 0, 1)).as("n_reached"))
  }

  /** Shared seeded bounded-BFS body of [[harmonicCloseness]] and
    * [[eccentricitySampled]] — one (seed, id, dist) table for the
    * `nSeeds` smallest-md5 pivots, `maxDepth` rounds. Kept private so
    * the two reports cannot drift in seed choice or BFS semantics. */
  private def seededBfsDistances(edges: DataFrame, nSeeds: Int, maxDepth: Int,
      uCol: String, vCol: String): DataFrame = {
    val e = canonicalEdges(edges, uCol, vCol)
    // materialize the undirected edge list ONCE: it is joined every
    // round, and an expensive upstream (e.g. the co-purchase self-join)
    // would otherwise re-execute maxDepth times
    val und = e.select(col("a").as("x"), col("b").as("y"))
      .unionAll(e.select(col("b").as("x"), col("a").as("y")))
      .localCheckpoint(true)
    val verts = und.select(col("x").as("id")).distinct()
    val seeds = verts.orderBy(md5(col("id").cast("string")), col("id")).limit(nSeeds)
    var d = seeds.select(col("id").as("seed"), col("id"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // frontier-delta expansion: unweighted BFS reaches every (seed, id)
    // at its FINAL distance on first discovery, so each round expands
    // ONLY last round's discoveries (anti-joined against the reached
    // set) instead of the whole dist table — the reached set is carried,
    // never re-expanded. Equivalent to the oracle's carry ∪ expand → MIN
    // formulation, at frontier (not cumulative) join cost per round.
    var frontier = d
    var k = 0
    while (k < maxDepth) {
      val discovered = frontier.join(und, frontier("id") === und("x"))
        .select(col("seed"), col("y").as("id"), (col("dist") + 1L).as("dist"))
        .join(d, Seq("seed", "id"), "left_anti")
        .dropDuplicates("seed", "id")
        .localCheckpoint(true)
      // no checkpoint on d: it is a union of already-materialized rounds
      // (lineage depth stays one union node per round, not a plan tree)
      d = d.unionAll(discovered)
      frontier = discovered
      k += 1
    }
    d
  }

  /** Sampled bounded-depth betweenness centrality (Brandes 2001 with
    * source sampling — the standard scale approximation, cf. Bader et
    * al. 2007): δ-dependency accumulation from `nSeeds` deterministic
    * md5-pivot sources over shortest paths of length ≤ `maxDepth`, on
    * the undirected deduped edge set → (id, betweenness 6 dp) over ALL
    * vertices (never-intermediate nodes emit 0). Counts ORDERED (s, t)
    * pairs from the sampled sources — the raw sampled dependency sum,
    * un-normalized, so the number is deterministic and an external
    * oracle unrolls the identical rounds (the a15 harmonic-closeness
    * trade; exact full betweenness at 100 TB is O(|V|·|E|), which no
    * engine runs — sampling IS the published scale path).
    *
    * Forward pass i = 1..maxDepth: BFS frontier-delta expansion (only
    * last round's discoveries expand, anti-joined against the reached
    * set) carrying σ = number of shortest paths, summed over the
    * frontier predecessors that discover each node. Backward pass
    * l = maxDepth−1..0: δ(v) = Σ_{w: v~w, dist(w)=l+1} σ_v/σ_w·(1+δ(w))
    * — each level is one join against the PREVIOUS level's δ slice
    * only. Betweenness(v) = Σ_seeds δ_seed(v), v ≠ seed (endpoint
    * exclusion is inherent to the recursion).
    *
    * Scale shape: the mirrored edge list is checkpointed once and every
    * round joins it frontier-side (|frontier| ≤ |seeds|·|V| rows, never
    * |E| re-shuffled); per-level backward joins touch one distance
    * slice; lineage cut per round. Cost ≈ 2·maxDepth joins over
    * |seeds|-scaled frontiers — linear in |seeds|·|E|. */
  def betweennessSampled(edges: DataFrame, nSeeds: Int, maxDepth: Int,
      uCol: String = "u", vCol: String = "v"): DataFrame = {
    require(nSeeds >= 1, s"betweennessSampled: nSeeds must be >= 1, got $nSeeds")
    require(maxDepth >= 1, s"betweennessSampled: maxDepth must be >= 1, got $maxDepth")
    val e = canonicalEdges(edges, uCol, vCol)
    val und = e.select(col("a").as("x"), col("b").as("y"))
      .unionAll(e.select(col("b").as("x"), col("a").as("y")))
      .localCheckpoint(true)
    val verts = und.select(col("x").as("id")).distinct()
    val seeds = verts.orderBy(md5(col("id").cast("string")), col("id")).limit(nSeeds)
    var d = seeds.select(col("id").as("seed"), col("id"),
      lit(0L).as("dist"), lit(1L).as("sigma")).localCheckpoint(true)
    var frontier = d
    var i = 0
    while (i < maxDepth) {
      i += 1
      // σ of a newly discovered node = Σ σ over its distance-(i−1)
      // neighbors — the frontier IS that predecessor set, so the
      // aggregation runs BEFORE the anti-join (all parents counted)
      val discovered = frontier.join(und, frontier("id") === und("x"))
        .groupBy(col("seed"), col("y").as("id"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("seed"), col("id"), lit(i.toLong).as("dist"), col("sigma"))
        .join(d, Seq("seed", "id"), "left_anti")
        .localCheckpoint(true)
      d = d.unionAll(discovered)
      frontier = discovered
    }
    // backward accumulation: bw always holds exactly the level-(l+1)
    // δ slice; a level-l node with no deeper successor keeps δ = 0 but
    // MUST stay in the slice (its 1+δ feeds its own predecessors)
    var bw = d.filter(col("dist") === maxDepth)
      .select(col("seed"), col("id"), col("sigma"), lit(0.0).as("delta"))
      .localCheckpoint(true)
    var acc = bw
    var l = maxDepth - 1
    while (l >= 0) {
      val lvl = d.filter(col("dist") === l).select(col("seed"), col("id"), col("sigma"))
      val succ = bw.select(col("seed").as("wseed"), col("id").as("wid"),
        col("sigma").as("wsigma"), col("delta").as("wdelta"))
      val contrib = lvl.join(und, lvl("id") === und("x"))
        .join(succ, lvl("seed") === succ("wseed") && und("y") === succ("wid"))
        .groupBy(lvl("seed"), lvl("id"))
        .agg(sum(lvl("sigma").cast("double") / col("wsigma") *
          (lit(1.0) + col("wdelta"))).as("delta"))
      bw = lvl.join(contrib, Seq("seed", "id"), "left")
        .select(col("seed"), col("id"), col("sigma"),
          coalesce(col("delta"), lit(0.0)).as("delta"))
        .localCheckpoint(true)
      acc = acc.unionAll(bw)
      l -= 1
    }
    // RAW dependency sum, no rounding: callers pick the quantum for
    // their value magnitudes (an intermediate fine round here would
    // re-quantize before a caller's coarser round and double-rounding
    // can flip the final digit — measured: one 8.016-vs-8.015 cell at
    // sf0.01 with a 6-then-3-dp chain, zero with a single 3-dp round)
    verts.join(
        acc.filter(col("id") =!= col("seed"))
          .groupBy(col("id")).agg(sum(col("delta")).as("c")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("c"), lit(0.0)).as("betweenness"))
  }

  /** Local clustering coefficient per node: 2·triangles / (deg·(deg−1)),
    * the fraction of a node's neighbor pairs that are themselves
    * connected — [[triangleCounts]] normalized by the wedge count. Nodes
    * of degree ≤ 1 have no wedge and emit coefficient 0. Cost =
    * triangleCounts + one degree aggregation + one join on node.
    *
    * Pass a precomputed `triangles0` frame ([[triangleCounts]]' (node,
    * n_triangles) output over the SAME edge set) to skip the wedge join
    * — the [[kTrussEdges]] `support0` pattern. A FULL coverage guard is
    * impossible here: absence from triangleCounts output legitimately
    * means zero triangles (the left join's coalesce), so an
    * under-covering frame cannot be told apart from triangle-free nodes
    * — that half of the precondition stays on the caller. What IS
    * checkable is checked FREE, riding the output join: it runs FULL
    * OUTER when triangles0 is supplied, so a row with NULL degree proves
    * a node absent from the edge set's vertex set (wrong graph), and the
    * supplied frame is collapsed through a counting groupBy so duplicate
    * (node) rows — which would silently duplicate output rows — are
    * caught too (the [[kTrussEdges]] support0 rule). Both raise from an
    * assert_true in the same codegen span with the node named, zero
    * extra jobs (the separate anti-join probe this replaces measured
    * ~0.4 s of the gate's steady wall). */
  def clusteringCoefficient(edges: DataFrame, uCol: String = "u", vCol: String = "v",
      triangles0: Option[DataFrame] = None): DataFrame = {
    val e = edges
      .select(least(col(uCol), col(vCol)).as("a"), greatest(col(uCol), col(vCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    val tri = triangles0.map(_.select(col("node"), col("n_triangles"))
        .groupBy(col("node"))
        .agg(max(col("n_triangles")).as("n_triangles"), count(lit(1)).as("__tn")))
      .getOrElse(triangleCounts(e, "a", "b"))
    val joined0 = deg.join(tri, Seq("node"), if (triangles0.isDefined) "full" else "left")
    val joined = if (triangles0.isEmpty) joined0 else joined0.filter(
      assert_true(col("degree").isNotNull && (col("__tn").isNull || col("__tn") === 1),
        concat(lit("clusteringCoefficient: triangles0 "),
          when(col("degree").isNull,
            concat(lit("names node "), col("node").cast("string"),
              lit(" absent from the edge set")))
            .otherwise(concat(lit("has duplicate rows for node "),
              col("node").cast("string"))),
          lit(" — the supplied frame must be triangleCounts over the same " +
            "edges (pass triangles0 = None to compute it here)"))).isNull)
    joined
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6)).otherwise(lit(0.0))
          .as("clustering_coef"))
  }

  /** Bounded k-core peeling: `iters` rounds of "drop every node with
    * degree < k (and its edges), recompute" — after enough rounds this
    * IS the k-core (the maximal subgraph of min-degree ≥ k, the standard
    * cohesion filter); a FIXED round count keeps the computation
    * deterministic and lets an external oracle unroll the same rounds
    * (the [[pageRankStatic]] trade). Returns the surviving edge list
    * (a, b), a < b. Each round is one degree aggregation + two
    * semi-joins — linear; lineage is cut per round (`localCheckpoint`)
    * so plan depth stays constant, the iterative-op idiom used by
    * `walkPaths`/`ivfCentroids`. Convergence: if a round removes no
    * node the loop exits early (the result is already the k-core). */
  def kCoreEdges(edges: DataFrame, k: Int, iters: Int,
      uCol: String = "u", vCol: String = "v"): DataFrame = {
    require(k >= 1 && iters >= 1, s"kCoreEdges: need k >= 1, iters >= 1 (got $k, $iters)")
    var e = edges
      .select(least(col(uCol), col(vCol)).as("a"), greatest(col(uCol), col(vCol)).as("b"))
      .filter(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct().localCheckpoint(true)
    var i = 0
    var done = false
    while (i < iters && !done) {
      val keep = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d")).filter(col("d") >= k)
        .select("n")
      val next = e
        .join(keep.withColumnRenamed("n", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("n", "b"), Seq("b"), "left_semi")
        .select("a", "b").localCheckpoint(true)
      if (next.count() == e.count()) done = true
      e = next
      i += 1
    }
    e
  }

  /** Degree assortativity coefficient (Newman 2002): the Pearson
    * correlation of endpoint degrees over the mirrored undirected edge
    * list — positive when hubs attach to hubs (social graphs), negative
    * when hubs attach to leaves (technological/star graphs). One number
    * per graph; rounded 6 dp (the ratio's cross-engine fp divergence is
    * ~1e-12). Scale shape: one degree aggregation + two |E|-row hash
    * joins + a single-pass corr aggregate — no quadratic stage. */
  def degreeAssortativity(edges: DataFrame,
      uCol: String = "u", vCol: String = "v"): DataFrame = {
    val e = canonicalEdges(edges, uCol, vCol)
    val und = e.select(col("a").as("x"), col("b").as("y"))
      .unionAll(e.select(col("b").as("x"), col("a").as("y")))
      .localCheckpoint(true)
    val deg = und.groupBy(col("x").as("n")).agg(count(lit(1)).as("d"))
    und.join(deg.select(col("n").as("x"), col("d").as("du")), "x")
      .join(deg.select(col("n").as("y"), col("d").as("dv")), "y")
      // explicit covar/stddev ratio instead of corr(): ANSI-mode corr
      // raises DIVIDE_BY_ZERO on a degree-regular graph (zero variance)
      // where the defined answer is NULL — DuckDB's corr convention
      .agg(covar_pop(col("du"), col("dv")).as("c"),
        stddev_pop(col("du")).as("sx"), stddev_pop(col("dv")).as("sy"))
      .select(when(col("sx") > 0 && col("sy") > 0,
        round(col("c") / (col("sx") * col("sy")), 6)).as("assortativity"))
  }

  /** Weighted bipartite projection: from a two-mode edge list
    * (left, right) — customer×product, user×item, doc×entity — build
    * the one-mode co-membership graph on the RIGHT vertices: (u, v,
    * weight = number of shared left-neighbors), u < v. The general form
    * of the co-purchase graph every a6/a10/a13/a14/a17 gate consumes,
    * promoted to a first-class op (Newman 2001's weighted projection
    * with simple co-occurrence counts).
    *
    * `maxLeftDegree` caps a left vertex's fan-out BEFORE pairing (0 =
    * uncapped): the pair volume is Σ deg(l)², so one celebrity left
    * vertex (an order containing 10⁶ items) otherwise mints 10¹² pairs —
    * the [[graft.functions.Dedup]] maxPostings convention, explicit
    * capped semantics instead of an OOM. Scale shape: one left-keyed
    * self-join (hash on the left id), pair counts map-side combined. */
  def bipartiteProject(edges: DataFrame, leftCol: String = "l",
      rightCol: String = "r", maxLeftDegree: Int = 0): DataFrame = {
    val e = edges.select(col(leftCol).as("l"), col(rightCol).as("r"))
      .filter(col("l").isNotNull && col("r").isNotNull).distinct()
    val base =
      if (maxLeftDegree <= 0) e
      else e.join(
        e.groupBy(col("l")).agg(count(lit(1)).as("__d"))
          .filter(col("__d") > maxLeftDegree).select(col("l")),
        Seq("l"), "left_anti")
    val a = base.toDF("l", "u"); val b = base.toDF("l", "v")
    a.join(b, "l").filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("weight"))
  }

  /** Bounded Bellman–Ford single-source WEIGHTED shortest paths over an
    * undirected weighted edge list — [[shortestPaths]]' hop-count BFS
    * generalized to real edge costs, in the fixed-round form every
    * oracle-replicable iteration here uses: `rounds` relaxations of
    * dist(y) = min(dist(y), min_{(x,y)∈E} dist(x) + w(x,y)). After k
    * rounds every ≤ k-edge path is optimal (full Bellman–Ford = |V|−1
    * rounds; a bounded horizon is the practical setting at scale, the
    * [[harmonicCloseness]] maxDepth trade). Returns (id, dist rounded
    * 6 dp) for vertices REACHED within the horizon.
    *
    * Unlike the unweighted BFS, a vertex's distance can improve after
    * first discovery (a longer-hop cheaper path), so each round re-joins
    * the FULL dist table — carry ∪ relax → MIN, cumulative cost
    * O(|dist ⋈ E|) per round, map-side-combined; lineage cut per round. */
  def weightedSSSP(edges: DataFrame, source: Long, rounds: Int,
      uCol: String = "u", vCol: String = "v", wCol: String = "w"): DataFrame = {
    require(rounds >= 1, s"weightedSSSP: rounds must be >= 1, got $rounds")
    val e = edges.select(col(uCol).as("a"), col(vCol).as("b"),
        col(wCol).cast("double").as("w"))
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
    val und = e.select(col("a").as("x"), col("b").as("y"), col("w"))
      .unionAll(e.select(col("b").as("x"), col("a").as("y"), col("w")))
      .localCheckpoint(true)
    val spark = edges.sparkSession
    var dist = spark.range(1).select(lit(source).as("id"), lit(0.0).as("dist"))
      .localCheckpoint(true)
    var r = 0
    while (r < rounds) {
      val relax = dist.join(und, dist("id") === und("x"))
        .select(col("y").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionAll(relax)
        .groupBy(col("id")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
      r += 1
    }
    dist.select(col("id"), round(col("dist"), 6).as("dist"))
  }

  /** Bounded k-truss peeling (Cohen 2008): `iters` rounds of "drop every
    * edge whose triangle [[edgeSupport]] is < k−2, recompute" — the
    * edge-level analogue of [[kCoreEdges]]' vertex peeling and the
    * stronger cohesion filter (every surviving edge sits in ≥ k−2
    * triangles of the surviving subgraph). A FIXED round count keeps the
    * computation deterministic and oracle-unrollable (the
    * [[pageRankStatic]] trade); a round that removes no edge exits early
    * (recomputing the identical set, so fixed-round and early-exit
    * semantics agree). Returns the surviving edge list (a, b), a < b.
    *
    * Scale shape: ONE full support computation (degree-oriented wedge
    * join, O(Σ outdeg²) bounded — the a6/a10 body), then INCREMENTAL
    * maintenance per peel round (round 13): a triangle only disappears
    * when one of its edges peels, so instead of re-running the wedge
    * join on the survivor graph, each round enumerates just the
    * triangles through that round's removed edges (seeded from the
    * lower-degree endpoint, O(Σ_removed min-deg), deduped by sorted
    * vertex triple so a triangle losing 2+ edges decrements once) and
    * subtracts them from the carried support relation. Identical output
    * to recompute-per-round — support(new graph) = support(old) −
    * |old triangles through a removed edge| — pinned by the
    * naive-equivalence property test; the quiet late rounds typical of
    * truss peeling (small removal sets) become near-free. Lineage cut
    * per round.
    *
    * Pass a precomputed `support0` frame ([[edgeSupport]]'s (a, b,
    * support) output over the SAME edge set) to also skip the one full
    * wedge join — the [[condensationLayers]] `sccs` pattern: a pipeline
    * that already materialized per-edge support (tie strength, truss
    * input) feeds it here instead of recomputing. Guarded the same way:
    * a supplied frame that misses any canonical edge fails fast (one
    * bounded anti-join probe) rather than silently peeling edges whose
    * support it never stated; extra rows for non-edges are ignored. */
  def kTrussEdges(edges: DataFrame, k: Int, iters: Int,
      uCol: String = "u", vCol: String = "v",
      support0: Option[DataFrame] = None): DataFrame = {
    require(k >= 2 && iters >= 1, s"kTrussEdges: need k >= 2, iters >= 1 (got $k, $iters)")
    val e0 = canonicalEdges(edges, uCol, vCol).localCheckpoint(true)
    var sup = (support0 match {
      case Some(s) =>
        // Precondition guard folded INTO the seed join — zero extra jobs
        // (a separate probe job measured ~0.4-0.6 s of the gate's steady
        // wall): per canonical edge the matching support0 row count must
        // be exactly 1. n = 0 (coverage hole) would silently drop the
        // edge from the peel; n > 1 (duplicate rows) would silently
        // duplicate it in `sup` and in the output. Extra s0 rows for
        // NON-edges stay allowed (the left join never sees them). The
        // groupBy collapses duplicates so `support` stays well-defined
        // downstream even though assert_true aborts the action; the
        // guard raises at the localCheckpoint below — still inside this
        // call, with the offending edge named in the error.
        val s0g = s.select(col("a"), col("b"), col("support"))
          .groupBy(col("a"), col("b"))
          .agg(max(col("support")).as("support"), count(lit(1)).as("__n"))
        e0.join(s0g, Seq("a", "b"), "left")
          .filter(assert_true(col("support").isNotNull && col("__n") === 1,
            concat(lit("kTrussEdges: support0 must have exactly one (a, b, support) row " +
                "per canonical edge, found "),
              coalesce(col("__n"), lit(0L)).cast("string"),
              lit(" for ("), col("a").cast("string"), lit(", "),
              col("b").cast("string"),
              lit(") — the supplied frame must be edgeSupport over the same " +
                "edge set (pass support0 = None to compute it here)"))).isNull)
          .drop("__n")
      case None => edgeSupport(e0, "a", "b")
    }).localCheckpoint(true)
    var i = 0
    var done = false
    while (i < iters && !done) {
      val removed = sup.filter(col("support") < k - 2).select("a", "b")
      if (removed.isEmpty) done = true
      else {
        // adjacency of the CURRENT graph (removed edges included — lost
        // triangles live in the graph BEFORE this round's peel)
        val cur = sup.select(col("a"), col("b"))
        val und = cur.unionAll(cur.select(col("b"), col("a"))).toDF("x", "y")
        val deg = und.groupBy(col("x").as("n")).agg(count(lit(1)).as("dg"))
        // seed each removed edge's triangle scan from its lower-degree
        // endpoint (ties by the canonical a-side) — the wedge join's
        // celebrity guard, applied to the removal frontier
        val seeded = removed
          .join(deg.select(col("n").as("a"), col("dg").as("da")), "a")
          .join(deg.select(col("n").as("b"), col("dg").as("db")), "b")
          .select(when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("s"),
            when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("o"))
        val lost = seeded
          .join(und.select(col("x").as("s"), col("y").as("c")), "s")
          .filter(col("c") =!= col("o"))
          .join(und.select(col("x").as("o"), col("y").as("c")), Seq("o", "c"), "left_semi")
          .select(array_sort(array(col("s"), col("o"), col("c"))).as("t"))
          .select(col("t")(0).as("t1"), col("t")(1).as("t2"), col("t")(2).as("t3"))
          .distinct()
        // each lost triangle debits its three edges; sorted triples make
        // the pairs canonical (p < q) so they key straight into `sup`
        val decr = lost.select(explode(array(
            struct(col("t1").as("p"), col("t2").as("q")),
            struct(col("t1").as("p"), col("t3").as("q")),
            struct(col("t2").as("p"), col("t3").as("q")))).as("e"))
          .select(col("e.p").as("a"), col("e.q").as("b"))
          .groupBy("a", "b").agg(count(lit(1)).as("dec"))
        sup = sup.filter(col("support") >= k - 2)
          .join(decr, Seq("a", "b"), "left")
          .select(col("a"), col("b"),
            (col("support") - coalesce(col("dec"), lit(0L))).as("support"))
          .localCheckpoint(true)
      }
      i += 1
    }
    sup.select(col("a"), col("b"))
  }

  /** Synchronous label-propagation communities → (id, label): labels
    * start as vertex ids; each round every vertex adopts the PLURALITY
    * label among its undirected neighbors, ties broken by the SMALLEST
    * label. The deterministic variant on purpose: GraphX's LPA breaks
    * ties by hash-map iteration order, which no external engine can
    * replicate — with min-label ties and a FIXED round count the whole
    * computation unrolls as plain SQL (the [[pageRankStatic]] /
    * [[personalizedPageRank]] oracle-ability trade). Isolated vertices
    * (and vertices whose neighbors all tie away) keep their previous
    * label via the carried left join. Parallel edges vote once (the
    * mirrored edge set is deduped); self-loops are dropped (a vertex
    * does not vote for itself).
    *
    * Scale shape, per round: one |E|-row hash join fetching neighbor
    * labels, one (v, label)-keyed count with map-side partial
    * aggregation (the exchange carries |distinct (v, label)| ≤ |E|
    * rows, not |E|), one plurality min_by aggregation, one |V| left
    * join carrying labels forward. The mirrored neighbor relation is
    * persisted PRE-PARTITIONED on the label fetch key, so each round's
    * fetch join reuses the cached layout and shuffle-hash-joins only
    * the |V|-row label vector — no per-round |E| Exchange, no driver
    * broadcast, no |V| ceiling (the old `broadcastMaxVerts` knob is
    * gone). Lineage cut stride-2 (the PPR idiom) keeps plan depth
    * constant at any round count. */
  def labelPropagation(g: PropertyGraph, numIter: Int): DataFrame = {
    require(numIter >= 1, s"labelPropagation: numIter must be >= 1, got $numIter")
    val spark = g.spark
    import spark.implicits._
    val fwd = g.edges.filter(col("dir")).select(col("src"), col("dst"))
    // mirrored neighbor relation persisted PRE-PARTITIONED on the label
    // fetch key w (the [[hits]]/[[personalizedPageRank]] discipline):
    // each round's fetch join reuses the cached layout and shuffles only
    // the |V|-row label vector — no per-round |E| Exchange, no driver
    // broadcast, no |V| ceiling (the old broadcastMaxVerts knob)
    val und = fwd.unionAll(fwd.select(col("dst"), col("src")))
      .toDF("v", "w")
      .filter(col("v") =!= col("w")).distinct()
      .repartition(col("w")).persist()
    try {
      und.count()
      val verts = und.select(col("v").as("id"))
        .unionAll(g.explicitNodes.map(_.select(col("id")))
          .getOrElse(Seq.empty[Long].toDF("id")))
        .distinct().localCheckpoint(true)
      var lbl = verts.select(col("id"), col("id").as("label"))
      for (i <- 1 to numIter) {
        val pick = und.join(lbl.hint("shuffle_hash"), und("w") === lbl("id"))
          .groupBy(und("v").as("vid"), col("label"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("vid"))
          .agg(min_by(col("label"), struct((-col("c")).as("nc"), col("label"))).as("nl"))
        lbl = lbl.join(pick, lbl("id") === pick("vid"), "left")
          .select(lbl("id"), coalesce(col("nl"), col("label")).as("label"))
        if (i % 2 == 0 || i == numIter) lbl = lbl.localCheckpoint(true)
      }
      lbl
    } finally {
      // the final round always ends in an eager localCheckpoint, so the
      // returned label vector no longer references the cached relation
      und.unpersist(blocking = false)
    }
  }

  /** HITS hubs & authorities (Kleinberg 1999), deterministic fixed-iteration
    * form with L1 normalization → (id, auth, hub).
    *
    *   authRaw_i(v) = Σ_{(u,v)∈E} hub_{i−1}(u)
    *   hubRaw_i(u)  = Σ_{(u,v)∈E} authRaw_i(v) , hub_i = hubRaw_i / Σ hubRaw_i
    *   outputs: auth = authRaw_N / Σ authRaw_N , hub = hub_N
    *
    * Equal to the textbook per-half-step-normalized recursion: every L1
    * division is a positive scalar that commutes through the linear
    * sums, so deferring auth's division to the end changes nothing but
    * fp noise (absorbed by the gate's 6-dp round; the oracle runs this
    * same once-per-iteration schedule). hub IS still normalized each
    * iteration, which bounds all raw scores by maxdeg² at any scale —
    * full deferral would grow them geometrically per round.
    *
    * L1 (not the textbook L2) because the oracle-replication contract
    * (the a5/a8 precedent) wants both engines to compute bit-comparable
    * doubles mod summation order: a plain SUM divides out exactly the
    * same way in DuckDB, while sqrt would compound rounding differently
    * per engine. Rankings are identical under any positive scaling.
    *
    * Scale shape: per iteration one dst-keyed and one src-keyed
    * aggregation over |E| (the two shuffles HITS is), the per-iteration
    * normalization total attached as a broadcast 1-row join (never a
    * driver collect).
    * The edge relation is materialized pre-partitioned per join
    * direction, so each step shuffles ONLY the |V|-row sparse score
    * vector into a shuffle-hash join — no per-step |E| exchange, no
    * per-step driver broadcast, no |V| driver-memory ceiling. Per-step
    * lineage cuts keep plan depth constant at any iteration count.
    *
    * Graphs with NO edges have undefined normalized scores; auth/hub
    * come back 0.0 for isolated vertices of a non-empty edge set (the
    * iteration never reaches them and the L1 total is positive). */
  def hits(g: PropertyGraph, numIter: Int): DataFrame = {
    require(numIter >= 1, s"hits: numIter must be >= 1, got $numIter")
    val spark = g.spark
    import spark.implicits._
    // the edge relation is joined 2·numIter times, alternating join key —
    // materialize it TWICE, pre-partitioned per direction, so every
    // iteration's join co-locates on the already-shuffled fwd side and
    // only the |V|-row score vector moves (localCheckpoint preserves
    // outputPartitioning, so Catalyst plans no fwd Exchange). This
    // replaces the round-10 per-step score BROADCAST: a driver
    // collect+rebroadcast of |V| rows every step measured ~1.0 s/step at
    // sf0.1 vs ~0.5 s/step for the shuffle-hash shape — and the shuffle
    // shape needs no |V| driver-memory ceiling (the old broadcastMaxVerts
    // knob) at any scale.
    // persist, not localCheckpoint: a checkpoint's LogicalRDD loses the
    // repartition's outputPartitioning under AQE (each step would plan a
    // fresh |E| Exchange — PartitionPreserveProbe), while an
    // InMemoryRelation reports it, so the per-step join reuses the
    // cached layout with no |E| shuffle. The caches live only for this
    // call (finally-unpersist below): the layouts are per-invocation
    // scratch, not session fixtures, and leaving one pair resident per
    // distinct input graph accumulates for the session lifetime.
    // the base edge relation is scanned ONCE: the dst layout and the
    // vertex set both derive from the already-cached src layout (a
    // narrow cache scan), not from three more passes over g.edges —
    // setup cost matters because the layouts are rebuilt per invocation
    val fwdBySrc = g.edges.filter(col("dir")).select(col("src"), col("dst"))
      .repartition(col("src")).persist()
    val fwdByDst = fwdBySrc.repartition(col("dst")).persist()
    try {
      fwdBySrc.count(); fwdByDst.count()
      val verts = fwdBySrc.select(col("src").as("id"))
        .unionAll(fwdBySrc.select(col("dst").as("id")))
        .unionAll(g.explicitNodes.map(_.select(col("id")))
          .getOrElse(Seq.empty[Long].toDF("id")))
        .distinct().localCheckpoint(true)
      // one raw neighbor-sum of `scores` through the edge keyed on
      // `from`, grouped on `to`. Score vectors stay SPARSE through the
      // iteration — a vertex absent from raw would carry 0.0, and a 0
      // contributes nothing to the next neighbor-sum or the L1 total, so
      // the dense |V| left-join the round-10 shape ran per step was pure
      // overhead. Density is restored ONCE at the end.
      def rawStep(scores: DataFrame, valCol: String, from: String,
          to: String): DataFrame = {
        val fwd = if (from == "src") fwdBySrc else fwdByDst
        fwd.join(scores.hint("shuffle_hash"), fwd(from) === scores("id"))
          .groupBy(fwd(to).as("id")).agg(sum(col(valCol)).as("s"))
      }
      // L1-normalize a raw vector: the total attaches as a broadcast
      // 1-row join (never a driver collect); tot NULL/0 (edge-less
      // graph, or an all-sink frontier) → all-0 scores, not NULL poison.
      // Callers must pass a MATERIALIZED raw (it is referenced twice —
      // the total and the division) or the producing join runs twice.
      def l1(raw: DataFrame, outCol: String): DataFrame = {
        val tot = raw.agg(sum(col("s")).as("tot"))
        raw.crossJoin(broadcast(tot))
          .select(col("id"),
            when(col("tot") > 0, col("s") / col("tot"))
              .otherwise(lit(0.0)).as(outCol))
      }
      // Normalization is applied ONCE per iteration (to hub), not after
      // every half-step: each L1 division is a positive scalar that
      // commutes through the linear neighbor-sums, so
      // norm(A·norm(Aᵀh)) ≡ norm(A·Aᵀh) exactly — the textbook per-step
      // schedule and this one agree to fp noise, which the 6-dp gate
      // round absorbs (the oracle runs this same recursion). Dropping
      // the per-auth normalization halves the broadcast-total stages,
      // and letting authRaw stay lazy inside hubRaw's checkpoint job
      // cuts the sequential actions per iteration from 2 to 1 — at gate
      // scale the wall is action latency, not shuffle volume (HitsProbe).
      // One un-normalized half-step cannot overflow: hub is normalized
      // (Σ=1, entries ≤1), so authRaw entries ≤ in-degree and hubRaw
      // entries ≤ maxdeg², at any scale and iteration count — unlike
      // full deferral, whose raw scores grow geometrically per round.
      var hub = verts.select(col("id"), lit(1.0).as("hub"))
      var authRaw: DataFrame = null
      var hubRaw: DataFrame = null
      for (i <- 1 to numIter) {
        authRaw = rawStep(hub, "hub", "src", "dst")
        // the final authRaw feeds BOTH the last hubRaw join and the
        // output normalization — materialize exactly that one
        if (i == numIter) authRaw = authRaw.localCheckpoint(true)
        hubRaw = rawStep(authRaw, "s", "dst", "src").localCheckpoint(true)
        hub = l1(hubRaw, "hub")
      }
      // dense-ify once: vertices the iteration never reached (isolated, or
      // pure-source/pure-sink roles) surface with explicit 0.0 scores
      verts.join(l1(authRaw, "auth"), Seq("id"), "left")
        .join(hub, Seq("id"), "left")
        .select(col("id"), coalesce(col("auth"), lit(0.0)).as("auth"),
          coalesce(col("hub"), lit(0.0)).as("hub"))
    } finally {
      // every step's raw is eagerly checkpointed, so the returned frame
      // never re-reads the two cached edge layouts — release them rather
      // than leave 2·|E| cached blocks per distinct input graph resident
      fwdBySrc.unpersist(blocking = false)
      fwdByDst.unpersist(blocking = false)
    }
  }

  /** Deterministic random-walk corpus over an undirected edge list —
    * the DeepWalk/node2vec(p=q=1) sampling stage (Perozzi et al. 2014)
    * that turns a graph into walk "sentences" for embedding training.
    * Returns (walk_id, step, node): `nWalks` walks of up to `walkLength`
    * steps (step 0 = the start node; a walk that reaches an isolated
    * node — impossible undirected, possible under a directed variant —
    * simply ends short).
    *
    * Start nodes are the first `nWalks` vertices in md5(id) order (the
    * [[harmonicCloseness]] pivot idiom: a seeded uniform sample no
    * external engine has trouble replicating); walk_id = start node id.
    * The "random" neighbor at step s of walk w is the argmin of
    * md5(seed:w:s:y) over neighbors y of the current node — a hash-keyed
    * uniform draw that is a pure function of (seed, walk, step,
    * candidate), so an oracle unrolls the identical choice with its own
    * md5. Collisions of 128-bit digests over distinct inputs do not
    * occur, so argmin-by-hash is deterministic on both engines.
    *
    * Scale shape, per step: the frontier carries exactly one row per
    * live walk — joined hash-keyed against the mirrored adjacency (the
    * frontier side is tiny relative to |E| and rides a broadcast under
    * AQE), then one min_by aggregation keyed by walk with map-side
    * partial combine, so a hub node's candidate fan-out collapses
    * before the exchange. Cost: walkLength × (|frontier|⋈|E| + agg) —
    * linear in edges touched, never all-pairs; lineage cut per step. */
  def randomWalks(edges: DataFrame, nWalks: Int, walkLength: Int,
      seed: Long = 42L, uCol: String = "u", vCol: String = "v"): DataFrame = {
    require(nWalks >= 1, s"randomWalks: nWalks must be >= 1, got $nWalks")
    require(walkLength >= 1, s"randomWalks: walkLength must be >= 1, got $walkLength")
    val e = canonicalEdges(edges, uCol, vCol)
    val und = e.select(col("a").as("x"), col("b").as("y"))
      .unionAll(e.select(col("b").as("x"), col("a").as("y")))
      .localCheckpoint(true)
    val starts = und.select(col("x").as("id")).distinct()
      .orderBy(md5(col("id").cast("string")), col("id")).limit(nWalks)
    var frontier = starts
      .select(col("id").as("walk_id"), lit(0).as("step"), col("id").as("node"))
      .localCheckpoint(true)
    var out = frontier
    var s = 1
    while (s < walkLength) {
      val draw = md5(concat_ws(":", lit(seed).cast("string"),
        col("walk_id").cast("string"), lit(s).cast("string"), col("y").cast("string")))
      frontier = frontier.join(und, frontier("node") === und("x"))
        .groupBy(col("walk_id"))
        .agg(min_by(col("y"), draw).as("node"))
        .select(col("walk_id"), lit(s).as("step"), col("node"))
        .localCheckpoint(true)
      out = out.unionAll(frontier)
      s += 1
    }
    out
  }
}
