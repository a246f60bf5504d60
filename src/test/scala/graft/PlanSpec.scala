package graft

import graft.gate.GateQueries
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the properties that make these operators
  * survive a 100× scale-up are pinned here so a refactor can't silently
  * lose them — filter pushdown into parquet scans, column pruning,
  * broadcast (not shuffle) joins for frontier hops, and whole-stage
  * codegen coverage of the relational core.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter + projection reach the parquet scan (pushdown, pruning)") {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_shipdate") <= "1998-09-02" && col("l_quantity") < 24)
      .select("l_orderkey", "l_extendedprice")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters:") &&
      plan.contains("LessThanOrEqual(l_shipdate"), s"no pushed filter in:\n$plan")
    // pruned read schema: only the referenced columns are scanned
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_comment"), s"scan reads unprojected columns: $readSchema")
  }

  test("2-hop pattern query plans broadcast joins with range filters pushed") {
    val g = GateQueries.graph(spark, sfDir)
    val q = GateQueries.queries("g2_parts_of_customer_orders")(spark, sfDir)
    val plan = planOf(q)
    assert(plan.contains("BroadcastHashJoin"), s"frontier hop not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"unexpected shuffle join:\n$plan")
  }

  test("relational aggregation is partial (map-side combine) + hash-based") {
    val plan = planOf(GateQueries.queries("q1_pricing_summary")(spark, sfDir))
    // two HashAggregates around one Exchange = partial aggregation: the
    // shuffle moves |groups| rows, not |lineitem| rows
    assert(plan.contains("partial_sum") && plan.contains("partial_count"),
      s"no partial agg:\n$plan")
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan).size === 1, s"extra shuffles:\n$plan")
  }

  test("native graft_dot keeps ANN scoring in whole-stage codegen") {
    graft.functions.expressions.GraftFunctions.init(spark)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val native = emb.select(call_function("graft_dot", col("embedding"), col("embedding")).as("d"))
    val plan = planOf(native)
    // `* Project` = the projection over graft_dot is inside a codegen span;
    // the interpreted lambda form would still codegen the Project but pays
    // per-element closure calls inside it — this pins at least that the
    // native expression doesn't BREAK the span
    assert(plan.contains("* Project"), s"native dot fell out of codegen:\n$plan")
  }

  test("bucketed edge table self-joins without any Exchange") {
    import graft.model.RangeDef
    import graft.sources.Loaders
    import graft.sources.Loaders.InputEdge
    val ranges = Seq(RangeDef(0, 1000, 0, Seq(1)))
    val g = Loaders.fromList(spark,
      (0 until 200).map(i => InputEdge(i % 50, (i * 7) % 50, Seq(1), addReverse = false)),
      ranges)
    Loaders.saveBucketed(g, "graft_bucketed_edges", "/tmp/graft_bucketed_edges", buckets = 8)
    val e = Loaders.loadBucketed(spark, "graft_bucketed_edges", ranges).edges
    val joined = e.alias("a").hint("merge")
      .join(e.alias("b"), col("a.src") === col("b.src"))
    val plan = planOf(joined)
    assert(plan.contains("SortMergeJoin"), plan)
    assert(!"\\(\\d+\\) Exchange".r.findFirstIn(plan).isDefined,
      s"bucketed self-join should not shuffle:\n$plan")
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"), plan)
  }

  test("where_ predicates push into the edge-relation filter, not a post-join stage") {
    // the g16 shape: whereEdge's target-node predicate and where_'s label
    // predicate are ordinary Column predicates composed into edgePred —
    // they must land in the Filter directly above the edge source (where
    // Catalyst can use them for pruning and codegen them into the scan
    // stage), not in a filter above the join output
    import graft.cypher.Dsl._
    val g = GateQueries.graph(spark, sfDir)
    val paths = graft.cypher.Query.paths(g, labels(GateQueries.CUSTOMER)
      --| edge(attr(GateQueries.Placed), whereEdge(v => v.dst % 3 === 0)) |-->
      labels(GateQueries.ORDER))
    val plan = planOf(paths)
    // the mod-3 predicate appears exactly once, in a Filter whose other
    // conjuncts are the scan-level label/direction predicates (i.e. it
    // rides the edge filter, pre-join)
    assert(plan.contains("% 3)"), s"where_ predicate missing from the plan:\n$plan")
    val filterBlock = plan.split("\n\n").find(b => b.contains("% 3)") && b.contains("Condition"))
    assert(filterBlock.exists(b => b.contains("label") || b.contains("__label")),
      s"where_ predicate not composed with the scan-level edge filter:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"predicate-start hop should not shuffle:\n$plan")
  }

  test("planned strategy (g15 shape): leftward expansion plans broadcast hops, no shuffle join") {
    import graft.cypher.Dsl._
    val g = GateQueries.graph(spark, sfDir)
    val pat = (labels(GateQueries.CUSTOMER)
      --| edge(attr(GateQueries.Placed)) |--> labels(GateQueries.ORDER)
      --| edge(attr(GateQueries.Contains)) |-->
        nodes32((1L to 40L).map(GateQueries.PART_BASE + _): _*))
    assert(graft.cypher.Exec.planExpansionOrder(g, pat) === Vector(2, 1, 0),
      "planner must start at the 40-id layer and expand leftward")
    val plan = planOf(graft.cypher.Query.paths(g, pat, quick = false))
    assert(plan.contains("BroadcastHashJoin"), s"planned hops not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"planned walk shuffles a frontier:\n$plan")
  }

  test("planned strategy (g18 shape): middle start expands the cheap side first, broadcast hops") {
    // the g18 gate's plan pinned at spec level too: cheap 40-id set in
    // the pattern MIDDLE, so the first expansion is a genuine stepCost
    // decision (Placed ~4× fewer edge rows than Contains → left first),
    // and BOTH walk directions ride broadcast joins over the oriented
    // edge rows — a SortMergeJoin on either side would mean a frontier
    // got big enough to shuffle, which a 40-id-seeded walk never should
    import graft.cypher.Dsl._
    val g = GateQueries.graph(spark, sfDir)
    val pat = (labels(GateQueries.CUSTOMER)
      --| edge(attr(GateQueries.Placed)) |-->
        nodes32((1L to 40L).map(GateQueries.ORDER_BASE + _): _*)
      --| edge(attr(GateQueries.Contains)) |--> labels(GateQueries.PART))
    assert(graft.cypher.Exec.planExpansionOrder(g, pat) === Vector(1, 0, 2),
      "planner must start at the 40-id middle layer and expand the cheap (Placed) side first")
    val plan = planOf(graft.cypher.Query.paths(g, pat, quick = false))
    assert(plan.contains("BroadcastHashJoin"), s"planned hops not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"planned walk shuffles a frontier:\n$plan")
  }

  test("reloaded bucketed graph: frontier traversal plans no Exchange over the edge scan") {
    // the g17 gate flow (saveBucketed → loadBucketed → Query.paths): the
    // whole point of the bucketed layout is that reopened adjacency joins
    // read pre-partitioned buckets instead of reshuffling the edge
    // relation — a frontier hop over the RELOADED graph must not put an
    // Exchange above the bucketed scan (the frontier side broadcasts; an
    // edge-side Exchange would mean the bucketing metadata was lost on
    // reload)
    import graft.cypher.Dsl._
    import graft.sources.Loaders
    val g0 = GateQueries.graph(spark, sfDir)
    Loaders.saveBucketed(g0, "graft_plan_reopen", "/tmp/graft_plan_reopen", buckets = 8)
    val g = Loaders.loadBucketed(spark, "graft_plan_reopen", GateQueries.ranges)
    val custs = spark.read.parquet(s"$sfDir/customer.parquet")
      .filter(col("c_custkey") <= 20).select(col("c_custkey").cast("long").as("id"))
    val paths = graft.cypher.Query.paths(g,
      nodesDF(custs) --| edge(orth(GateQueries.Placed)) |--> labels(GateQueries.ORDER))
    val plan = planOf(paths)
    // the only acceptable Exchange is a BroadcastExchange of the tiny
    // frontier; a shuffle Exchange (hashpartitioning) over the edge scan
    // defeats the layout (the planner rightly reads the scan un-bucketed
    // under a broadcast join — bucketing exploitation is pinned below)
    assert(plan.contains("BroadcastHashJoin"), s"frontier hop not broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"reloaded adjacency join reshuffles the edge relation:\n$plan")
    // bucket-metadata round-trip: a src-keyed aggregation over the
    // RELOADED table must satisfy its required distribution from the
    // buckets — zero Exchange, bucketed read enabled
    val agg = g.edges.groupBy(col("src")).count()
    val aggPlan = planOf(agg)
    assert(aggPlan.contains("Bucketed: true"),
      s"reloaded scan lost its bucketing:\n$aggPlan")
    assert(!"\\(\\d+\\) Exchange".r.findFirstIn(aggPlan).isDefined,
      s"src aggregation over the reloaded bucketed table shuffles:\n$aggPlan")
  }

  test("full-graph 1-hop (QW-FN) compiles to one scan + partial agg, no join") {
    // anyNode --| e |--> anyNode with a groupBy: the predicate-only start
    // must fold into the edge scan — a frontier materialization would put
    // a join (and a distinct-over-endpoints shuffle) in front of a
    // whole-relation read
    val path = graft.bench.MailGraph.generate("/tmp/graft_mail_plan.txt", 5000, 500)
    val g = graft.bench.MailGraph.miw(spark, path)
    val plan = planOf(graft.bench.MailGraph.qwfn(g))
    assert(!plan.contains("Join"), s"QW-FN should be join-free:\n$plan")
    assert(plan.contains("HashAggregate"), s"no hash agg in:\n$plan")
  }

  test("label-start pattern pushes the range predicate into the edge source") {
    // a labels(...) start must NOT materialize a frontier join; the range
    // becomes a src-bound predicate on the edge relation itself
    import graft.cypher.Dsl._
    val g = GateQueries.graph(spark, sfDir)
    val pat = labels(GateQueries.CUSTOMER) --|
      edge(attr(GateQueries.Placed)) |--> anyNode
    val paths = graft.cypher.Query.paths(g, pat)
    val plan = planOf(paths)
    assert(plan.contains("src#") || plan.contains("__src"), plan)
    assert(plan.contains(">= 0") || plan.contains("< 10000000"),
      s"range predicate missing from scan filters:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"label start should not join a frontier:\n$plan")
  }

  test("adaptiveLengthFilter broadcasts the bounds back; corpus is never shuffled") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.TextAnalysis.adaptiveLengthFilter(docs))
    assert(plan.contains("BroadcastHashJoin"), s"bounds join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus shuffled for a |groups|-row join:\n$plan")
  }

  test("tokenBudgetSample is one window exchange per group key, no joins") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val tokens = length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1
    val plan = planOf(graft.functions.TextAnalysis.tokenBudgetSample(docs, 800, tokens))
    assert(plan.contains("Window"), s"no window in:\n$plan")
    assert(!plan.contains("Join"), s"budget sampling must not join:\n$plan")
    assert("\\(\\d+\\) Exchange".r.findAllIn(plan).size === 1,
      s"more than the one partitionBy-group exchange:\n$plan")
  }

  test("unigramSurprisal: scalar total folds in as broadcast, not a driver collect") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.TextAnalysis.unigramSurprisal(docs))
    // the 1-row total joins via BroadcastNestedLoopJoin (cross of 1 row);
    // partial aggregation must shrink the exploded tokens before exchanges
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"total not broadcast:\n$plan")
    assert(plan.contains("partial_count"), s"no partial agg on the token explode:\n$plan")
  }

  test("tfidf width pin: agg and window read user-repartitioned (coalesce-exempt) exchanges") {
    // round 19's t21 fix, pinned round 20 the way t34's broadcast is
    // (VERDICT r19 #3): the tf aggregate and the top-m rank window sit
    // over byte-light CPU-heavy rows, and left to ENSURE_REQUIREMENTS
    // their exchanges are AQE-coalesced by BYTES — at 10x the whole
    // fused stage ran as ONE task. The explicit repartitions satisfy
    // the required distributions (no extra exchange) and are exempt
    // from coalescing; nothing else build-breaks if a refactor drops
    // them, so the plan must show BOTH user-originated exchanges.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.TextAnalysis.tfidfTerms(docs, topM = 10))
    val userExchanges = "REPARTITION_BY_COL".r.findAllIn(plan).size
    assert(userExchanges >= 2,
      s"expected the (id, term) agg repartition AND the doc-keyed window repartition, found $userExchanges:\n$plan")
  }

  test("n-gram pair stage width pin: the postings exchange is user-originated at the Sigma-df^2 width") {
    // round 20 (VERDICT r19 #1): the pair-generating self-join reads the
    // df window's gram exchange, and AQE coalesced those byte-light
    // 16-byte rows to HALF the core count while each row carried df^2
    // pair work — 16 uniform ~7.7 s tasks on 32 cores at 10x (NOT
    // hot-bucket skew; sweep avg = max). prunedGramPostings plants a
    // user repartition (REPARTITION_BY_NUM, coalesce-exempt) below the
    // window at the width gramPairSizes derives from the Sigma-df^2
    // estimate, and window + self-join + pair generation all reuse that
    // one exchange. Red if the repartition is dropped.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.3))
    assert(plan.contains("REPARTITION_BY_NUM"),
      s"gram postings exchange is not user-pinned (AQE will re-collapse the pair stage):\n$plan")
  }

  test("tfidfTerms: partial-aggregated tf, broadcast N, term-keyed df join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.TextAnalysis.tfidfTerms(docs, topM = 10))
    // tf partial-aggregates the token explode before its exchange
    // (bounds the shuffle at |distinct (doc, term)|, not |tokens|);
    // the 1-row N folds in broadcast; df joins back on term only
    assert(plan.contains("partial_count"), s"no partial agg on the token explode:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"doc count not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("betweennessSampled: frontier joins stay keyed, never a cartesian product") {
    // both passes join the |seeds|-scaled frontier against the mirrored
    // edge list on the node key and the backward pass joins one distance
    // slice — a cartesian anywhere would be |V|² and kill the |S|·|E|
    // scale bound the op exists for
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") % 4 === 0).select(col("l_orderkey"), col("l_partkey"))
    val co = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .filter(col("u") < col("v")).select("u", "v")
    val plan = planOf(graft.analytics.GraphAnalytics.betweennessSampled(
      co, nSeeds = 4, maxDepth = 2))
    assert(!plan.contains("CartesianProduct"),
      s"betweenness must expand through keyed frontier joins:\n$plan")
  }

  test("dedupAgainst: banded candidate generation, never a cartesian product") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.Dedup.dedupAgainst(
      docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0), 0.8))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus dedup must pair through band buckets only:\n$plan")
  }

  test("dedupLines: hash-keyed shuffles only, never a cartesian or row-explosion join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.Dedup.dedupLines(docs, minDocs = 2))
    // the boilerplate set joins back by 8-byte line hash and the rebuild
    // is one groupBy(id) — no cross products, and no SortMergeJoin wider
    // than the line relation (a broadcast of the boilerplate set is the
    // expected shape on any corpus where boilerplate ≪ lines)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"line dedup must join by line hash only:\n$plan")
    // detection aggregates partially before its exchange (map-side combine
    // on the 8-byte hash keys — the property that bounds the shuffle at
    // |distinct lines| instead of |lines|)
    assert(plan.contains("HashAggregate"), s"no partial aggregation in:\n$plan")
  }

  test("dropDuplicatedNgrams: linear gram-keyed joins, df aggregated map-side, no pair join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.Dedup.dropDuplicatedNgrams(docs, n = 5))
    // every join keys on the 8-byte gram hash or (id, pos) — the shape
    // that stays linear in token count at any skew. A cross product or
    // nested-loop join here would be the Σdf² pair blowup this op exists
    // to avoid (df is aggregated, never self-joined)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"dup-span removal must stay gram/position-keyed:\n$plan")
    // the df count partial-aggregates before its exchange (map-side
    // combine bounds the shuffle at |distinct grams|, not |occurrences|)
    assert(plan.contains("HashAggregate"), s"no partial aggregation in:\n$plan")
  }

  test("gram-df skew valve: heavy drop-set folds in BROADCAST anti-join below the window") {
    // round 13: the Misra-Gries valve must never introduce its own
    // shuffle — the provably-heavy gram set joins the postings stream as
    // a broadcast LeftAnti (a hash-partitioned anti-join would re-create
    // the very gram-keyed skew exchange the valve exists to protect)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.Dedup.prunedGramPostings(
      docs, 3, "text", "doc_id", 10000))
    assert(plan.contains("Window"), s"df cap window missing:\n$plan")
    assert(plan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"valve anti-join must broadcast:\n$plan")
    // functional: a planted df=|corpus| gram is dropped by the valve at a
    // cap below |corpus| and the light grams' postings are untouched —
    // identical to what the window alone would produce
    val planted = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma "), lit("u"), col("id"), lit(" v"), col("id")).as("text"))
    val out = graft.functions.Dedup.prunedGramPostings(
      planted, 3, "text", "doc_id", 100)
    val byGram = out.groupBy("gram").count().collect()
    assert(byGram.nonEmpty && byGram.forall(_.getLong(1) <= 100),
      "a df=200 gram survived the cap")
    // each doc keeps its 2 unique trigrams ("gamma u<i> v<i>" etc.)
    assert(out.groupBy("id").count().collect().forall(_.getLong(1) === 2))
  }

  test("PQ rerank: the shortlist joins the corpus BROADCAST — no corpus shuffle, no cartesian") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") < 5)
    val plan = planOf(graft.functions.Similarity.pqTopK(q, emb, k = 3,
      nSub = 4, nCodes = 8, rerank = 4))
    // the refinement fetch must be shortlist-broadcast into one corpus
    // pass: a SortMergeJoin against the full-vector relation would
    // re-shuffle the corpus per query batch — the shape that cannot
    // survive 100 TB. (This pins the re-rank join added in round 11.)
    assert(plan.contains("BroadcastHashJoin"), s"rerank fetch not broadcast:\n$plan")
    // round 19 (fused ADC): the compressed scan is ONE BNLJ streaming
    // int-code arrays against the broadcast per-query LUT arrays — the
    // bruteForceTopK shape, by design for the compressed EXHAUSTIVE
    // tier. What stays forbidden: any cartesian, a second nested-loop
    // (the FULL-vector relation must reach the output only through the
    // id-keyed rerank fetch), and any corpus re-shuffle join.
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
    assert("\\(\\d+\\) BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"only the compressed ADC scan may nested-loop:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus re-shuffle join:\n$plan")
  }

  test("banded n-gram route: signature aggregation is partial, pairing is bucket-keyed only") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.Dedup.ngramJaccardPairsBanded(docs, n = 3,
      threshold = 0.3))
    // candidates come from band-bucket grouping and the verify joins key
    // on doc ids — a cartesian/nested-loop anywhere here would be the
    // Σdf² (or worse, all-pairs) blowup this route exists to avoid
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"banded route must pair through band buckets only:\n$plan")
    // the signature stage itself sits BEHIND the eager localCheckpoint
    // (materialized at call time, so the returned plan starts from the
    // checkpointed relation) — pin its map-side-combine property on the
    // same aggregation shape directly: numHashes min() columns over the
    // exploded gram relation must partial-aggregate before the exchange,
    // bounding the shuffle at |docs| signature rows, not |occurrences|
    graft.functions.expressions.GraftFunctions.init(spark)
    val sigShape = docs.select(col("doc_id").as("id"),
        explode(call_function("graft_ngram_hashes", col("text"), lit(3))).as("gram"))
      .groupBy(col("id"))
      .agg(min(xxhash64(lit(0), col("gram"))).as("m0"),
        min(xxhash64(lit(1), col("gram"))).as("m1"))
    assert(planOf(sigShape).contains("partial_min"),
      s"signature agg not map-side combined:\n${planOf(sigShape)}")
  }

  test("n-gram decontamination broadcasts the probe side, never shuffles the corpus") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val probes = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), substring(col("text"), 20, 80).as("probe"))
    val out = graft.functions.TextAnalysis.findContaminationNgrams(docs, probes, n = 3)
    val plan = planOf(out)
    // the gram join must be broadcast (probe side is the eval set — small
    // by nature); a SortMergeJoin here would shuffle the entire exploded
    // corpus, the one shape that cannot survive 100 TB
    assert(plan.contains("BroadcastHashJoin"), s"probe join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$plan")
  }

  test("sq8TopK: queries broadcast into the compressed scan; corpus never shuffles") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = planOf(graft.functions.Similarity.sq8TopK(
      emb.filter(col("vec_id") < 5), emb, k = 3))
    // the pair scan is an explicit cross join with the QUERY side
    // broadcast — the corpus streams through once; a shuffle of the
    // coded corpus per query batch is the anti-shape
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"queries not broadcast into the scan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$plan")
  }

  test("heavyHitters: token counts partial-aggregate; the corpus total folds in broadcast") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.TextAnalysis.heavyHitters(docs, phi = 0.01))
    // map-side combine bounds the exchange at O(vocab), not O(tokens)
    assert(plan.contains("partial_count"), s"token count not map-side combined:\n$plan")
    // the total-token scalar joins back broadcast (the t19 idiom) —
    // never a driver collect, never a shuffle
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"total not broadcast:\n$plan")
  }

  test("windowAnomalies: one aggregation of the raw events, window over the series only") {
    val ev = GateQueries.events(spark, sfDir)
    val plan = planOf(graft.streaming.EventStreams.windowAnomalies(ev))
    // the count partial-aggregates before its exchange and the sort
    // window runs over the aggregated (type, bucket) series — the raw
    // event relation must never reach the window operator
    assert(plan.contains("partial_count"), s"bucket count not map-side combined:\n$plan")
    assert(plan.contains("Window"), s"no window stage:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("gopherFilters: narrow per-row rules, the corpus never shuffles") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.TextAnalysis.gopherFilters(docs))
    assert(!plan.contains("Exchange"), s"gopherFilters shuffled:\n$plan")
    assert(!plan.contains("Join"), s"gopherFilters joined:\n$plan")
  }

  test("attributeLastTouch: one carry-forward window, never a per-user join") {
    val ev = GateQueries.events(spark, sfDir)
    val plan = planOf(graft.streaming.EventStreams.attributeLastTouch(
      ev, "click", "purchase", 3600L * 1000000000L))
    assert(plan.contains("Window"), s"no window stage:\n$plan")
    // the whole op is union + window: ANY join operator means the
    // linear asof shape regressed to a per-user join
    assert(!plan.contains("Join"), s"attribution planned a join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("trendingTypes: rank windows the aggregated series, counts partial-aggregate") {
    val ev = GateQueries.events(spark, sfDir)
    val plan = planOf(graft.streaming.EventStreams.trendingTypes(ev, k = 3))
    assert(plan.contains("partial_count"), s"bucket count not map-side combined:\n$plan")
    assert(plan.contains("Window"), s"no window stage:\n$plan")
    assert(!plan.contains("Join"), s"trendingTypes joined:\n$plan")
  }

  test("kmeansAssign: broadcast centroids, map-side-combined update means, no cartesian") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val plan = planOf(graft.functions.Similarity.kmeansAssign(emb, k = 4, iters = 1))
    // centroid updates partial-aggregate (k·dim result rows cross the
    // exchange, not |corpus|·dim), assignment min_by partial-combines
    assert(plan.contains("partial_avg") || plan.contains("partial_min_by")
      || plan.contains("partial_"), s"kmeans aggregations not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("modularity: label joins hash by id, the m scalar folds in broadcast") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") % 4 === 0).select(col("l_orderkey"), col("l_partkey"))
    val e = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .filter(col("u") < col("v")).select("u", "v")
    val labels = e.select(col("u").as("id")).distinct()
      .withColumn("label", pmod(col("id"), lit(7)))
    val plan = planOf(graft.analytics.GraphAnalytics.modularity(e, labels))
    // exactly one nested-loop shape is allowed: the broadcast 1-row m
    // scalar; everything else must be keyed hash joins. Count the
    // formatted-mode DETAIL headers — the tree section repeats each
    // operator once more
    val bnlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(plan).size
    assert(bnlj <= 1, s"more than the scalar cross join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("naiveBayesClassify: likelihood/prior fold in broadcast, scoring is one token-keyed hash join") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.TextAnalysis.naiveBayesClassify(docs))
    // the |classes|-row totals and the 1-row vocab size ride broadcasts;
    // the only allowed nested-loop joins are those scalar folds
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"class totals not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
    // tf and per-class counts partial-aggregate before their exchange
    assert(plan.contains("partial_count") || plan.contains("partial_"),
      s"token counts not map-side combined:\n$plan")
  }

  test("randomWalks: per-step candidate fan-out collapses map-side, never a cartesian") {
    // the library op checkpoints each step (the final plan is a union of
    // materialized RDDs), so pin the per-step shape directly: frontier ⋈
    // adjacency → min_by draw, with the argmin partial-combined
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_orderkey") % 4 === 0).select(col("l_orderkey"), col("l_partkey"))
    val e = li.toDF("ok", "u").join(li.toDF("ok", "v"), "ok")
      .filter(col("u") < col("v")).select("u", "v")
    val und = e.select(col("u").as("x"), col("v").as("y"))
      .unionAll(e.select(col("v").as("x"), col("u").as("y")))
    val frontier = und.select(col("x").as("walk_id"), col("x").as("node")).limit(4)
    val draw = md5(concat_ws(":", col("walk_id").cast("string"), col("y").cast("string")))
    val step = frontier.join(und, frontier("node") === und("x"))
      .groupBy(col("walk_id")).agg(min_by(col("y"), draw).as("node"))
    val plan = planOf(step)
    assert(plan.contains("partial_min_by"), s"draw argmin not map-side combined:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("textRankKeywords: corpus collapses to the vocab graph before any join; PR joins stay keyed") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = planOf(graft.functions.TextAnalysis.textRankKeywords(docs, numIter = 2))
    // pair counts partial-aggregate (vocab-sized exchange, not |pairs|)
    assert(plan.contains("partial_count"), s"pair counts not map-side combined:\n$plan")
    // the only nested-loop shapes are the two 1-row normalization scalars
    val bnlj = """\(\d+\) BroadcastNestedLoopJoin""".r.findAllIn(plan).size
    assert(bnlj <= 2, s"more than the two normalization scalars:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"unexpected cartesian:\n$plan")
  }

  test("hits: per-step joins reuse the pre-partitioned edge relation — no fwd Exchange, no driver broadcast of scores") {
    // The Fixpoint runtime indexes the edges (hash-partitioned with their
    // adjacency) ONCE per call; each half-step zips the score vector with
    // that index and shuffles only its messages. So after a warm-up call
    // (which memoizes the edge count) a call runs one index shuffle, two
    // message shuffles per iteration and one result stage per job — its
    // L1 totals and the final cut — and the result is a checkpoint scan
    // with no join or Exchange left in its plan.
    val g = GateQueries.graph(spark, sfDir)
    val sub = g.copy(edges = g.edges.filter(col("label").isin(1, 4)))
    val n = 2
    graft.analytics.GraphAnalytics.hits(sub, numIter = n)
    val (out, prof) = graft.obs.GateProfiler.of(spark).profile("hits") {
      graft.analytics.GraphAnalytics.hits(sub, numIter = n)
    }
    val plan = planOf(out)
    assert(!plan.contains("Exchange") && !plan.contains("Join") && !plan.contains("CartesianProduct"),
      s"hits result is not a checkpoint scan:\n$plan")
    assert(prof.jobs <= n + 1, s"hits ran ${prof.jobs} jobs")
    assert(prof.stages <= (1 + 2 * n) + prof.jobs,
      s"hits ran ${prof.stages} stages in ${prof.jobs} jobs: more than one shuffle per half-step")
  }

  test("naiveBayesClassify: the likelihood model is the broadcast BUILD side; corpus-sized tf streams") {
    // Round 18's worst plan: left to cost estimates the planner inverted
    // the scoring join (bench-scale tf fell under the broadcast threshold
    // → BuildLeft) and streamed the few-thousand-row likelihood table as
    // ONE partition — the whole |tf|·|classes| score stream in a single
    // 18.8 s task at sf1. The fix is an explicit broadcast(lik); nothing
    // build-breaks if a refactor drops the hint, so pin it here: the
    // tok-keyed broadcast join's BUILD side must be the model (its llh
    // column), never the corpus-sized tf relation. Red when the hint is
    // removed (the planner then picks tf at this scale too).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val out = graft.functions.TextAnalysis.naiveBayesClassify(docs)
    val sp = out.queryExecution.sparkPlan
    val bhjs = sp.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }
    // the scoring join is the single-key tok equi-join
    val scoreJoins = bhjs.filter(j =>
      j.leftKeys.size == 1 && j.leftKeys.head.toString.startsWith("tok#"))
    assert(scoreJoins.nonEmpty, s"no tok-keyed broadcast scoring join:\n${sp.treeString}")
    scoreJoins.foreach { j =>
      val build = j.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildRight => j.right
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
      }
      val bs = build.treeString
      assert(bs.contains("llh#") && !bs.contains("AS tf#"),
        s"scoring join builds on the wrong side (model must broadcast, tf must stream):\n$bs")
    }
  }

  test("sourceMinHashSketches: minima partial-aggregate; estimates join broadcast, no cartesian blowup") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sk = graft.functions.TextAnalysis.sourceMinHashSketches(docs)
    val skPlan = planOf(sk)
    // the 64 min aggregates must combine map-side so the one exchange
    // carries |sources| partial rows, never the exploded gram stream
    assert(skPlan.contains("partial_min"), s"sketch minima not map-side combined:\n$skPlan")
    assert(skPlan.linesIterator.count(_.trim.startsWith("(")) > 0)
    val est = graft.functions.TextAnalysis.sourceOverlapEstimates(sk.localCheckpoint(true))
    val estPlan = planOf(est)
    // the pairwise estimator is a broadcast self-join over the tiny
    // sketch table (inequality key ⇒ BNLJ) — the corpus never appears
    assert(estPlan.contains("BroadcastNestedLoopJoin"),
      s"estimate join not broadcast:\n$estPlan")
    assert(!estPlan.contains("CartesianProduct"), s"unexpected cartesian:\n$estPlan")
  }

  test("bruteForceTopK widens the quadratic scan: >=1MB stream side gets a round-robin exchange") {
    // round 17 (SCALING.md "Round 17: the quadratic scans were
    // file-split-bound, not core-bound"): the n² scan's parallelism equals the
    // stream side's partition count — a few-MB parquet relation arrives
    // as a handful of file splits and the 10× e16 scan ran as 10 tasks
    // on 32 cores. The widened() guard must fire for >=1MB relations
    // (RoundRobinPartitioning exchange present) and must NOT re-exchange
    // sub-MB unit-scale corpora.
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files.createTempDirectory("graft_widen").toString
    try {
      spark.sql(
        """select id as vec_id, transform(sequence(0, 63),
          |  i -> cast(sin(id * 0.7919 + i * 1.37) as float)) as embedding
          |from range(0, 24000) t(id)""".stripMargin)
        .write.mode("overwrite").parquet(s"$dir/big")
      val big = spark.read.parquet(s"$dir/big")
      info(s"big stats bytes = ${big.queryExecution.optimizedPlan.stats.sizeInBytes}, " +
        s"sizedPartitions = ${graft.analytics.GraphAnalytics.sizedPartitions(big)}")
      val bigPlan = planOf(graft.functions.Similarity.bruteForceTopK(big, big, 3))
      assert(bigPlan.contains("RoundRobinPartitioning"),
        s"quadratic scan not widened on a >=1MB corpus:\n${bigPlan.take(2000)}")
      big.filter(col("vec_id") < 40).write.mode("overwrite").parquet(s"$dir/small")
      val small = spark.read.parquet(s"$dir/small")
      val smallPlan = planOf(graft.functions.Similarity.bruteForceTopK(small, small, 3))
      assert(!smallPlan.contains("RoundRobinPartitioning"),
        s"sub-MB corpus needlessly re-exchanged:\n${smallPlan.take(2000)}")
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }
}
