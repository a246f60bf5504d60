package graft

import graft.model._
import graft.sources.Loaders
import graft.sources.Loaders.InputEdge
import graft.cypher._
import graft.cypher.Dsl._
import graft.operators.GraphOps
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

/** Pins the reference's observable semantics:
  *  - F1 direction truth table (reference test/Spec.hs:151-178)
  *  - F2 issue-tracker multi-hop (reference app/Main.hs:33-59, README.md:144-163)
  *  - F3 repetition / several semantics (reference Cypher.hs:823-837,
  *    test/examples/SortNodes.hs:89-99)
  */
class GraphQuerySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // ---- F1: 2 nodes, 1 logical edge, mirrored back-edge --------------------
  // rightEdge: 0→1 stored forward, with back row; leftEdge: 1→0 stored
  // forward, with back row (Spec.hs:231-238).
  val f1Ranges = Seq(RangeDef(0, 10, 0, Seq(0)), RangeDef(10, 10, 1, Seq(0)))
  lazy val rightEdge = Loaders.fromList(spark,
    Seq(InputEdge(0, 1, Seq(0), addReverse = true)), f1Ranges)
  lazy val leftEdge = Loaders.fromList(spark,
    Seq(InputEdge(1, 0, Seq(0), addReverse = true)), f1Ranges)

  val ns0 = nodes32(0)
  val ns1 = nodes32(1)
  def ee = edge(several(1, Int.MaxValue)) // Spec's `edge (***)`

  def tbl(g: PropertyGraph, p: Pat): Vector[Seq[Any]] = Query.tableCollected(g, p)
  // Single-hop steps expose their (src,label) node-edge pairs in the edge
  // layer (evalLtoR count==1, Cypher.hs:665-667); the Spec's `NE []` rows all
  // use `edge (***)` whose path length ends > 1.
  val matchTable: Vector[Seq[Any]] = Vector(Seq(0L), Seq((0L, 0)), Seq(1L))
  val matchTableRep: Vector[Seq[Any]] = Vector(Seq(0L), Seq(), Seq(1L))
  val emptyTable: Vector[Seq[Any]] = Vector(Seq(), Seq(), Seq())

  test("F1.0 both arrows behave as undirected (Spec.hs:153-154)") {
    assert(tbl(rightEdge, ns0 <--| ee |--> ns1) === tbl(rightEdge, ns0 --| ee |-- ns1))
  }
  test("F1.2 right edge, query left → empty") { assert(tbl(rightEdge, ns0 <-- ns1) === emptyTable) }
  test("F1.3 right edge, query right → match") { assert(tbl(rightEdge, ns0 --> ns1) === matchTable) }
  test("F1.4 right edge, query undirected → match") { assert(tbl(rightEdge, ns0 ~~ ns1) === matchTable) }
  test("F1.5 left edge, query right → empty") { assert(tbl(leftEdge, ns0 --> ns1) === emptyTable) }
  test("F1.6 left edge, query left → match") { assert(tbl(leftEdge, ns0 <-- ns1) === matchTable) }
  test("F1.8 right edge, labeled query left → empty") { assert(tbl(rightEdge, ns0 <--| ee |-- ns1) === emptyTable) }
  test("F1.9 right edge, labeled query right → match") { assert(tbl(rightEdge, ns0 --| ee |--> ns1) === matchTableRep) }
  test("F1.10 left edge, labeled query right → empty") { assert(tbl(leftEdge, ns0 --| ee |--> ns1) === emptyTable) }
  test("F1.11 left edge, labeled query left → match") { assert(tbl(leftEdge, ns0 <--| ee |-- ns1) === matchTableRep) }

  test("planned strategy walks `several` leftward from a cheap center (same paths)") {
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1)))
    val chain = Loaders.fromList(spark,
      (0 until 3).map(i => InputEdge(i, i + 1, Seq(1), addReverse = false)), ranges)
    // nodes32(3) costs 1, but the pattern has a repetition step, so runOnE
    // must pin the strategy to left-to-right (`several` stop rules are
    // global over the frontier and defined in walk order — a leftward walk
    // seeds the repetition with every right-end node, and unconnected deep
    // chains would flip its dry-up decisions). Planned ≡ quick here BY
    // FALLBACK; this test pins that equality.
    val pat = anyNode --| edge(attr(1), several(2, 2)) |--> nodes32(3)
    def pathSet(quick: Boolean) = Query.paths(chain, pat, quick)
      .select("n0", "n1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pathSet(quick = true) === Set((1L, 3L)))
    assert(pathSet(quick = false) === Set((1L, 3L)))
    assert(Query.tableCollected(chain, pat, quick = true) ===
      Vector(Seq(0L, 1L, 2L, 3L), Seq(), Seq(3L)))
  }

  test("orth overlay: subset-of-queried-bits semantics through repetition") {
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1, 2)))
    // chain whose edges carry BOTH orth bits {1,2} (mask 6)
    val g = Loaders.fromList(spark,
      (0 until 3).map(i => InputEdge(i, i + 1, Seq(1, 2), addReverse = false)), ranges)
    // querying both orths → combination {1,2} is generated → match
    val both = Query.tableCollected(g,
      nodes32(0) --| edge(orth(1), orth(2), several(2, 2)) |--> anyNode)
    assert(both === Vector(Seq(0L), Seq(), Seq(2L)))
    // a single orth bit does NOT match a {1,2}-overlaid edge (genAttrs
    // enumerates combinations of the QUERIED orths only, Cypher.hs:288-316)
    val one = Query.tableCollected(g,
      nodes32(0) --| edge(orth(2), several(2, 2)) |--> anyNode)
    assert(one === Vector(Seq(), Seq(), Seq()))
  }

  test("createMem + applyDiff: appl-rewired traversal upserts edges (SortNodes.hs:53-69 shape)") {
    import org.apache.spark.sql.functions.{col, lit}
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1)))
    val g = Loaders.fromList(spark,
      Seq(InputEdge(0, 1, Seq(1), addReverse = false)), ranges)
    // the appl hook rewires the step's target — the traversed (0,1,99)
    // triple is novel, so createMem reports it as the upsert diff
    val pat = nodes32(0) --| edge(attr(1)) |--> anyNode.appl(_.withColumn("n1", lit(99L)))
    val diff = Query.createMem(g, pat)
    val newE = diff.newEdges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(newE === Set((0L, 99L)))
    // the old (src,label,dir) slot is overwritten per insertNodeEdgeAttr
    // overwrite=True (Cypher.hs:866-889)
    val delE = diff.deletedEdges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delE === Set((0L, 1L)))
    val g2 = Query.applyDiff(g, diff)
    assert(g2.edges.select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet === Set((0L, 99L)))
  }

  test("deep repetition: several(1,30) over a 30-deep chain stays bounded") {
    // 30 hop iterations × localCheckpoint each — pins that the loop's
    // lineage cuts keep per-hop plans constant-size (no analysis blowup)
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1)))
    val chain = Loaders.fromList(spark,
      (0 until 30).map(i => InputEdge(i, i + 1, Seq(1), addReverse = false)), ranges)
    val t = Query.tableCollected(chain,
      nodes32(0) --| edge(attr(1), several(1, 30)) |--> anyNode)
    assert(t(2) === Seq(30L)) // final frontier only (reference stop semantics)
  }

  test("appl hook transforms evaluated layers (Cypher.hs:179-192, SortNodes.hs:58-59)") {
    import org.apache.spark.sql.functions.col
    // start-layer hook: drop the only start node → query collapses
    val dropStart = nodes32(0).appl(_.filter(col("id") =!= 0))
    assert(tbl(rightEdge, dropStart --> ns1) === emptyTable)
    // target-layer hook: sees the paths DF of the step; keep matching rows
    assert(tbl(rightEdge, ns0 --> anyNode.appl(_.filter(col("n1") === 1))) === matchTable)
    assert(tbl(rightEdge, ns0 --> anyNode.appl(_.filter(col("n1") === 99))) === emptyTable)
  }

  test("F1.12 unicode aliases ≡ ascii combinators (Cypher.hs:98-144)") {
    assert(tbl(rightEdge, ns0 ⟼ ns1) === tbl(rightEdge, ns0 --> ns1))
    assert(tbl(rightEdge, ns0 ⟻ ns1) === tbl(rightEdge, ns0 <-- ns1))
    assert(tbl(rightEdge, ns0 ⟞⟝ ns1) === tbl(rightEdge, ns0 ~~ ns1))
    assert(tbl(rightEdge, ns0 ─┤ ee ├─ ns1) === tbl(rightEdge, ns0 --| ee |-- ns1))
    assert(tbl(rightEdge, (ns0 <─┤ ee) ├─> ns1) === tbl(rightEdge, ns0 <--| ee |--> ns1))
  }

  test("F1 adjacency ops: one child edge/node of n0 (Spec.hs:126-141)") {
    assert(GraphOps.allChildNodes(rightEdge, 0).collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(GraphOps.allChildEdges(rightEdge, 0).count() === 1L)
    assert(GraphOps.adjacentEdgeCount(rightEdge, 0, 0) === 1L)
    assert(GraphOps.adjacentNodesByAttr(rightEdge, 0, 0).collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("F1 union: empty∪empty = empty; overlapping non-empty (Spec.hs:74-83)") {
    val e0 = PropertyGraph.empty(spark, f1Ranges)
    assert(GraphOps.union(e0, PropertyGraph.empty(spark, f1Ranges)).isNull)
    val u = GraphOps.union(rightEdge, leftEdge)
    assert(!u.isNull)
    assert(u.edges.count() === 4L) // 4 distinct (src,dst,dir) rows
    // idempotent
    assert(GraphOps.union(rightEdge, rightEdge).edges.count() === rightEdge.edges.count())
  }

  // ---- F2: issue tracker (app/Main.hs:33-59) ------------------------------
  // labels: PROGRAMMER=0 ORGANISATION=1 ISSUE=2 PULL_REQUEST=3
  // edge labels: Raises=1 Accepts=2 Closes=3 BelongsTo=4 References=5
  val PROGRAMMER = 0; val ORGANISATION = 1; val ISSUE = 2; val PULL_REQUEST = 3
  val Raises = 1; val Accepts = 2; val Closes = 3; val BelongsTo = 4; val References = 5
  val f2Ranges = Seq(
    RangeDef(0, 2, PROGRAMMER, Seq(Raises, Closes, BelongsTo)),
    RangeDef(2, 1, ORGANISATION, Seq(Accepts)),
    RangeDef(3, 4, ISSUE, Seq(References, Closes)),
    RangeDef(7, 1, PULL_REQUEST, Seq()))
  lazy val issueGraph = Loaders.fromList(spark, Seq(
    InputEdge(0, 3, Seq(Raises), addReverse = false),
    InputEdge(0, 4, Seq(Raises), addReverse = false),
    InputEdge(0, 5, Seq(Raises), addReverse = false),
    InputEdge(0, 6, Seq(Raises), addReverse = false),
    InputEdge(3, 5, Seq(References), addReverse = false),
    InputEdge(4, 3, Seq(References), addReverse = false),
    InputEdge(4, 6, Seq(References), addReverse = false),
    InputEdge(5, 4, Seq(Closes), addReverse = false),
    InputEdge(0, 3, Seq(Closes), addReverse = false),
    InputEdge(1, 7, Seq(Accepts), addReverse = false),
    InputEdge(0, 2, Seq(BelongsTo), addReverse = false)), f2Ranges)

  test("F2 flagship: simon --| raises |-- issue --| references |-- issue") {
    val simon = nodes32(0)
    val issue = labels(ISSUE)
    val res = Query.run(issueGraph, simon --| edge(attr(Raises)) |-- issue --| edge(attr(References)) |-- issue)
    // layer 0 = [0]; layer 1 = [3,4,5,6]... but paths only keep raised
    // issues that DO reference: table layer1 flattens all reached nodes.
    val t = Query.tableCollected(issueGraph,
      simon --| edge(attr(Raises)) |-- issue --| edge(attr(References)) |-- issue)
    assert(t(0) === Seq(0L))
    assert(t(2) === Seq(3L, 4L, 5L, 6L))
    assert(t(4) === Seq(3L, 5L, 6L)) // references targets of {3,4}: 3→5, 4→{3,6}
    // nested view (temp): children per provenance, empties retained
    val nested = Query.temp(issueGraph,
      simon --| edge(attr(Raises)) |-- issue --| edge(attr(References)) |-- issue)
    val layer2 = nested(1).collect().map(r => (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(layer2 === Map(3L -> Seq(5L), 4L -> Seq(3L, 6L), 5L -> Seq(), 6L -> Seq()))
  }

  test("F2 quick and planned strategies agree") {
    val p = nodes32(0) --| edge(attr(Raises)) |-- labels(ISSUE) --| edge(attr(References)) |-- labels(ISSUE)
    val quick = Query.paths(issueGraph, p, quick = true)
    val planned = Query.paths(issueGraph, p, quick = false)
    val qs = quick.select("n0", "n1", "n2").collect().map(_.toSeq).toSet
    val ps = planned.select("n0", "n1", "n2").collect().map(_.toSeq).toSet
    assert(qs === ps)
    assert(qs.nonEmpty)
  }

  test("F2 temp under the planned strategy: quick nesting minus empty-children rows") {
    // the reference's temp always runs its planned runOnE (the quickStrat
    // TODO at Cypher.hs:473); here both strategies are honored and their
    // contract difference is exactly the dried-up prefixes. Graph chosen
    // so the planner genuinely starts mid-pattern (C = 2 nodes) and some
    // A→B prefixes dry up before C (B 106/107 have no C edge).
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1)), RangeDef(100, 100, 1, Seq(1)),
      RangeDef(200, 100, 2, Seq(1)), RangeDef(300, 100, 3, Seq(1)))
    val edges =
      (0 until 10).map(i => InputEdge(i, 100 + i % 8, Seq(1), addReverse = false)) ++
      (0 until 6).map(i => InputEdge(100 + i, 200 + i % 2, Seq(1), addReverse = false)) ++
      (0 until 50).map(i => InputEdge(200 + i % 2, 300 + i, Seq(1), addReverse = false))
    val g = Loaders.fromList(spark, edges, ranges)
    val pat = labels(0) --| edge(attr(1)) |--> labels(1) --| edge(attr(1)) |--> labels(2) --|
      edge(attr(1)) |--> labels(3)
    assert(Exec.planStart(g, pat) === 2) // genuinely planned, no LtoR fallback
    val quick = Query.temp(g, pat, quick = true)
    val planned = Query.temp(g, pat, quick = false)
    assert(quick.length === planned.length)
    // planned contract: the nested view OF the final paths — every prefix
    // row and child extends to a complete match
    val full = Query.paths(g, pat).select("n0", "n1", "n2", "n3")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(r => r.toSeq.dropRight(1) :+ r.getSeq[Long](r.length - 1).toList).toSet
    val expected: Vector[Set[Seq[Any]]] = Vector(
      full.groupBy(p => Seq[Any](p._1)).view
        .mapValues(_.map(_._2).distinct.sorted.toList).toSeq.map { case (p, c) => p :+ c }.toSet,
      full.groupBy(p => Seq[Any](p._1, p._2)).view
        .mapValues(_.map(_._3).distinct.sorted.toList).toSeq.map { case (p, c) => p :+ c }.toSet,
      full.groupBy(p => Seq[Any](p._1, p._2, p._3)).view
        .mapValues(_.map(_._4).distinct.sorted.toList).toSeq.map { case (p, c) => p :+ c }.toSet)
    (planned zip expected).foreach { case (pl, exp) =>
      assert(rows(pl) === exp, "planned nesting must be the nested view of full paths")
    }
    // concretely: quick retains the dried A→B prefixes (B 106/107) with
    // [] one layer later and their children at layer 1; the planned view
    // prunes both (A 6/7 gone entirely) and has no empty-children rows
    val quickL2 = quick(1).collect().map(r => (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(quickL2(106L) === Seq() && quickL2(107L) === Seq())
    val plannedL1Keys = planned(0).collect().map(_.getLong(0)).toSet
    assert(!plannedL1Keys.contains(6L) && !plannedL1Keys.contains(7L))
    assert(planned(1).filter(org.apache.spark.sql.functions.size(
      org.apache.spark.sql.functions.col("children")) === 0).isEmpty)
  }

  test("F2 target label restriction: Raises targets restricted to PULL_REQUEST is empty") {
    val t = Query.tableCollected(issueGraph, nodes32(0) --| edge(attr(Raises)) |-- labels(PULL_REQUEST))
    assert(t === Vector(Seq(), Seq(), Seq()))
  }

  test("F2 graphQuery returns the traversed subgraph (reference stubbed this)") {
    val sub = Query.graphQuery(issueGraph, nodes32(0) --| edge(attr(Raises)) |-- labels(ISSUE))
    assert(sub.edges.count() === 4L)
    assert(sub.edges.select("label").distinct().collect().map(_.getInt(0)).toSeq === Seq(Raises))
  }

  test("F2 createMem on an already-stored pattern yields no new edges") {
    val diff = Query.createMem(issueGraph, nodes32(0) --| edge(attr(Raises)) |-- labels(ISSUE))
    assert(diff.newEdges.isEmpty)
  }

  // ---- F3: several / repetition (SortNodes.hs:89-99) ----------------------
  // NextVer chains: 1→2→3 and 7→8→9→10
  val PACKAGE = 0; val PACKAGEVER = 1; val FUNCTION = 2
  val PartOf = 1; val NextVer = 2
  val f3Ranges = Seq(RangeDef(0, 1, PACKAGE, Seq(PartOf)),
    RangeDef(1, 3, PACKAGEVER, Seq(NextVer, PartOf)),
    RangeDef(4, 7, FUNCTION, Seq(NextVer)))
  lazy val pkgGraph = Loaders.fromList(spark,
    Seq((0, 1), (0, 2), (0, 3)).map { case (s, d) => InputEdge(s, d, Seq(PartOf), addReverse = false) } ++
      Seq((1, 4), (2, 4), (2, 5), (2, 6), (3, 4), (3, 5)).map { case (s, d) => InputEdge(s, d, Seq(PartOf), addReverse = false) } ++
      Seq((1, 2), (2, 3), (7, 8), (8, 9), (9, 10)).map { case (s, d) => InputEdge(s, d, Seq(NextVer), addReverse = false) },
    f3Ranges)

  test("F3 several(1,3): 3 hops taken, stop at hi → final frontier {10}") {
    val t = Query.tableCollected(pkgGraph, nodes32(7) --| edge(attr(NextVer), several(1, 3)) |-- anyNode)
    assert(t.last === Seq(10L))
  }
  test("F3 several(1,3) from 9: dries after 1 hop ≥ lo → previous frontier {10}") {
    val t = Query.tableCollected(pkgGraph, nodes32(9) --| edge(attr(NextVer), several(1, 3)) |-- anyNode)
    assert(t.last === Seq(10L))
  }
  test("F3 several(2,3) from 10: dries at count 1 < lo → failed query") {
    val t = Query.tableCollected(pkgGraph, nodes32(10) --| edge(attr(NextVer), several(2, 3)) |-- anyNode)
    assert(t === Vector(Seq(), Seq(), Seq()))
  }
  test("F3 several(2,2) from 9: dries exactly at lo → previous frontier {10}") {
    // the exact-k lazy path must preserve the stop rule: hop1={10}, hop2
    // dry at count==lo → previous frontier, NOT a failed query
    val t = Query.tableCollected(pkgGraph, nodes32(9) --| edge(attr(NextVer), several(2, 2)) |-- anyNode)
    assert(t.last === Seq(10L))
    // but a target spec that rejects the fallback frontier still fails
    val t2 = Query.tableCollected(pkgGraph, nodes32(9) --| edge(attr(NextVer), several(2, 2)) |-- labels(PACKAGE))
    assert(t2 === Vector(Seq(), Seq(), Seq()))
  }

  test("F3 several(1,1) ≡ plain labeled step") {
    val a = Query.tableCollected(pkgGraph, nodes32(1) --| edge(attr(NextVer), several(1, 1)) |-- anyNode)
    val b = Query.tableCollected(pkgGraph, nodes32(1) --| edge(attr(NextVer)) |-- anyNode)
    assert(a.last === b.last)
    assert(a.last === Seq(2L))
  }
  test("F3 anyLength (***): BFS fixpoint, terminates, all reachable") {
    val t = Query.tableCollected(pkgGraph, nodes32(7) --| edge(attr(NextVer), several(1, Int.MaxValue)) |-- anyNode)
    assert(t.last === Seq(8L, 9L, 10L))
  }

  // ---- orth overlay --------------------------------------------------------
  test("orth: bitmask predicate equals explicit combination enumeration") {
    val A = 1; val B = 2; val C = 3
    val g = Loaders.fromList(spark, Seq(
      InputEdge(0, 1, Seq(A), addReverse = false),       // mask 0b0010
      InputEdge(0, 2, Seq(A, B), addReverse = false),    // mask 0b0110
      InputEdge(0, 3, Seq(B), addReverse = false),
      InputEdge(0, 4, Seq(C), addReverse = false),       // not in {A,B} combos
      InputEdge(0, 5, Seq(A, C), addReverse = false)),   // has C bit → excluded
      Seq(RangeDef(0, 10, 0, Seq(A, B, C))))
    val t = Query.tableCollected(g, nodes32(0) --| edge(orth(A), orth(B)) |-- anyNode)
    assert(t.last === Seq(1L, 2L, 3L))
  }

  test("where_ predicate filters edges") {
    val t = Query.tableCollected(issueGraph,
      nodes32(0) --| edge(attr(Raises), attr(Closes), where_(l => l === Raises)) |-- anyNode)
    assert(t.last === Seq(3L, 4L, 5L, 6L))
  }

  test("whereEdge: predicate sees attrMask bits and target node (Cypher.hs:268-270)") {
    import org.apache.spark.sql.functions.lit
    val A = 1; val B = 2
    val g = Loaders.fromList(spark, Seq(
      InputEdge(0, 1, Seq(A), addReverse = false),    // mask 1<<A = 2
      InputEdge(0, 2, Seq(A, B), addReverse = false), // mask 2|4 = 6
      InputEdge(0, 3, Seq(B), addReverse = false)),   // mask 4
      Seq(RangeDef(0, 10, 0, Seq(A, B))))
    // attr-bit filter: only edges carrying the B bit
    val hasB = Query.tableCollected(g,
      nodes32(0) --| edge(whereEdge(v => v.attrMask.bitwiseAND(lit(1L << B)) =!= 0)) |-- anyNode)
    assert(hasB.last === Seq(2L, 3L))
    // target-node filter through the edge view (the reference's edge map)
    val noTwo = Query.tableCollected(g,
      nodes32(0) --| edge(whereEdge(v => v.dst =!= 2L)) |-- anyNode)
    assert(noTwo.last === Seq(1L, 3L))
    // composes with attr(): label predicate AND where view
    val aAndB = Query.tableCollected(g,
      nodes32(0) --| edge(attr(A), whereEdge(v => v.attrMask.bitwiseAND(lit(1L << B)) =!= 0)) |-- anyNode)
    assert(aAndB.last === Seq(2L))
  }

  test("whereEdge on a DirL step sees the traversed mirror row's dst (documented view)") {
    // leftEdge stores 1→0 (dir=true) + mirror 0→1 (dir=false); a DirL query
    // traverses the mirror row, so the EdgeView dst is 1 — the node walked
    // to, per the EdgeView scaladoc
    assert(tbl(leftEdge, ns0 <--| edge(whereEdge(v => v.dst === 1L)) |-- ns1) === matchTable)
    assert(tbl(leftEdge, ns0 <--| edge(whereEdge(v => v.dst =!= 1L)) |-- ns1) === emptyTable)
  }

  test("whereEdge applies per hop inside repetition (dst filter truncates the walk)") {
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1)))
    val chain = Loaders.fromList(spark,
      (0 until 5).map(i => InputEdge(i, i + 1, Seq(1), addReverse = false)), ranges)
    // block walking INTO node 3: several(1,5) from 0 must stop at frontier {2}
    val t = Query.tableCollected(chain,
      nodes32(0) --| edge(attr(1), whereEdge(v => v.dst =!= 3L), several(1, 5)) |-- anyNode)
    assert(t.last === Seq(2L))
  }

  test("planStart picks a non-leftmost start when data cardinality says so") {
    // equal 100-wide range spans — the old span-cost model saw both layers
    // as cost 100 and degenerated to leftmost; real counts are 20 vs 1
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1)), RangeDef(100, 100, 1, Seq(1)))
    val g = Loaders.fromList(spark,
      (0 until 20).map(i => InputEdge(i, 100, Seq(1), addReverse = false)), ranges)
    val pat = labels(0) --| edge(attr(1)) |--> labels(1)
    assert(Exec.planStart(g, pat) === 1)
    // planned result still agrees with quick
    val q = Query.paths(g, pat, quick = true)
      .select("n0", "n1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p = Query.paths(g, pat, quick = false)
      .select("n0", "n1").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p === q && q.size === 20)
  }

  test("planned expansion re-costs per step: expensive middle approached from both cheap ends") {
    // 4 labels, node counts by DATA (not spans): A=10, B=8, C=2, D=50.
    // Chain pattern A→B→C→D starts at C (min). A right-then-left sweep
    // would walk D (50) before B (8); per-step re-costing goes LEFT first
    // (B=8 < D=50), then left again (A=10 < D=50), then right.
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1)), RangeDef(100, 100, 1, Seq(1)),
      RangeDef(200, 100, 2, Seq(1)), RangeDef(300, 100, 3, Seq(1)))
    val edges =
      (0 until 10).map(i => InputEdge(i, 100 + i % 8, Seq(1), addReverse = false)) ++
      (0 until 8).map(i => InputEdge(100 + i, 200 + i % 2, Seq(1), addReverse = false)) ++
      (0 until 50).map(i => InputEdge(200 + i % 2, 300 + i, Seq(1), addReverse = false))
    val g = Loaders.fromList(spark, edges, ranges)
    val pat = labels(0) --| edge(attr(1)) |--> labels(1) --| edge(attr(1)) |--> labels(2) --|
      edge(attr(1)) |--> labels(3)
    assert(Exec.planStart(g, pat) === 2)
    assert(Exec.planExpansionOrder(g, pat) === Vector(2, 1, 0, 3))
    // and the interleaved walk still produces exactly the quick result
    val q = Query.paths(g, pat, quick = true).select("n0", "n1", "n2", "n3")
      .collect().map(_.toSeq).toSet
    val p = Query.paths(g, pat, quick = false).select("n0", "n1", "n2", "n3")
      .collect().map(_.toSeq).toSet
    assert(p === q && q.nonEmpty)
  }

  test("degree skew flips the expansion direction node counts alone would pick") {
    // X=5, Y=4, Z=10 nodes; start at Y (min count). Node-cardinality
    // costing expands LEFT first (X=5 < Z=10) — but X→Y is a complete
    // bipartite fan (5·4 = 20 edges) while Y→Z carries one edge per Z
    // (10). The join pays EDGE rows, so the degree-aware planner goes
    // RIGHT first: order (1, 2, 0), not (1, 0, 2).
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1)), RangeDef(100, 100, 1, Seq(1)),
      RangeDef(200, 100, 2, Seq(1)))
    val edges =
      (for (x <- 0 until 5; y <- 0 until 4) yield InputEdge(x, 100 + y, Seq(1), addReverse = false)) ++
      (0 until 10).map(i => InputEdge(100 + i % 4, 200 + i, Seq(1), addReverse = false))
    val g = Loaders.fromList(spark, edges, ranges)
    val pat = labels(0) --| edge(attr(1)) |--> labels(1) --| edge(attr(1)) |--> labels(2)
    assert(Exec.planStart(g, pat) === 1)
    assert(Exec.planExpansionOrder(g, pat) === Vector(1, 2, 0))
    // the stats themselves: 20 X→Y rows vs 10 Y→Z rows, one agg, memoized
    assert(g.labelEdgeStats((0, 1, 1)) === 20L && g.labelEdgeStats((1, 2, 1)) === 10L)
    // and the reordered walk still produces exactly the quick result
    val q = Query.paths(g, pat, quick = true).select("n0", "n1", "n2")
      .collect().map(_.toSeq).toSet
    val p = Query.paths(g, pat, quick = false).select("n0", "n1", "n2")
      .collect().map(_.toSeq).toSet
    assert(p === q && q.size === 50)
  }

  test("planner stats materialize once per graph: N planned queries run zero stats jobs") {
    // round-12 pin (the VERDICT stretch): planStart/planExpansionOrder
    // read two session-cached driver-side maps (labelCounts,
    // labelEdgeStats) — the per-(label,label,attr) aggregation runs ONCE
    // per graph, and every later planned query in the session plans
    // without touching the cluster.
    val ranges = Seq(RangeDef(0, 100, 0, Seq(1)), RangeDef(100, 100, 1, Seq(1)),
      RangeDef(200, 100, 2, Seq(1)))
    val edges =
      (0 until 20).map(i => InputEdge(i % 10, 100 + i % 4, Seq(1), addReverse = false)) ++
      (0 until 10).map(i => InputEdge(100 + i % 4, 200 + i, Seq(1), addReverse = false))
    val g = Loaders.fromList(spark, edges, ranges)
    g.labelEdgeStats; g.labelCounts // first touch: one aggregation job each
    // a fresh PropertyGraph over the SAME edge plan resolves its lazy
    // stats through the session cache — the very Map instances, no job
    val g2 = g.copy()
    assert(g2.labelEdgeStats eq g.labelEdgeStats)
    assert(g2.labelCounts eq g.labelCounts)
    // and planning N queries on warm stats launches ZERO Spark jobs (the
    // profile is read after a listener-bus drain, so a launched job counts)
    val pat = labels(0) --| edge(attr(1)) |--> labels(1) --| edge(attr(1)) |--> labels(2)
    val (_, prof) = graft.obs.GateProfiler.of(spark).profile("warm-stats planning") {
      (1 to 5).foreach { _ =>
        Exec.planStart(g2, pat)
        Exec.planExpansionOrder(g2, pat)
      }
    }
    assert(prof.jobs === 0, s"planning on warm stats launched ${prof.jobs} Spark jobs")
  }

  test("fromTemp: composing query 2 from query 1's temp output matches one-shot") {
    val q1 = Query.temp(issueGraph, nodes32(0) --| edge(attr(Raises)) |-- labels(ISSUE))
    val start = Query.fromTemp(q1.last)
    val composed = Query.tableCollected(issueGraph,
      start --| edge(attr(References)) |-- labels(ISSUE))
    val oneShot = Query.tableCollected(issueGraph,
      nodes32(0) --| edge(attr(Raises)) |-- labels(ISSUE) --| edge(attr(References)) |-- labels(ISSUE))
    assert(composed.last === oneShot.last)
    assert(composed.last === Seq(3L, 5L, 6L))
  }

  test("multi-attr follows union of labels (Cypher.hs:250-253)") {
    val t = Query.tableCollected(issueGraph,
      nodes32(0) --| edge(attr(Raises), attr(BelongsTo)) |-- anyNode)
    assert(t.last === Seq(2L, 3L, 4L, 5L, 6L))
  }
}
