package graft.cypher

import graft.model._
import graft.operators.GraphOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.UnionOf

/** The four result modes of the reference's `GraphCreateReadUpdate` class
  * (Cypher.hs:423-520): table / temp / createMem / graphQuery, plus the
  * flat path DataFrame that is this engine's ground truth.
  */
object Query {

  /** Evaluate with quick (left-to-right) or planned strategy — the
    * reference's `quickStrat` flag (Cypher.hs:465-471). */
  def run(g: PropertyGraph, pat: Pat, quick: Boolean = true): Exec.QueryResult =
    if (quick) Exec.evalLtoR(g, pat) else Exec.runOnE(g, pat)

  /** Flat path DataFrame: one row per complete match, columns
    * n0, e1_label, n1, …, nk. The quick strategy returns it without the
    * whole-result emptiness action `run` takes (see [[Exec.pathsLtoR]]). */
  def paths(g: PropertyGraph, pat: Pat, quick: Boolean = true): DataFrame =
    if (quick) Exec.pathsLtoR(g, pat) else Exec.runOnE(g, pat).paths

  /** Flattened layer table (reference `table`, Cypher.hs:463-471): one
    * entry per pattern component — distinct node ids per node layer,
    * (src,label) pairs per edge layer (empty unless path length 1). */
  def table(g: PropertyGraph, pat: Pat, quick: Boolean = true): Vector[Exec.LayerOut] =
    run(g, pat, quick).layers

  /** Driver-side rendering of `table` for tests/debug (small results). */
  def tableCollected(g: PropertyGraph, pat: Pat, quick: Boolean = true): Vector[Seq[Any]] =
    table(g, pat, quick).map {
      case Exec.NodeLayerOut(df) => df.orderBy("id").collect().map(_.getLong(0)).toSeq
      case Exec.EdgeLayerOut(df) =>
        df.orderBy("src", "label").collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
    }

  /** Nested view (reference `temp`, Cypher.hs:473-479): for each step k ≥ 1
    * a DataFrame (prefix n0..n{k-1}, children ARRAY<LONG>) — children of each
    * distinct path prefix.
    *
    * Strategy choice (the reference's own `temp` IGNORES quickStrat and
    * always runs its planned `runOnE` — the "TODO temp graph quickstrat"
    * at Cypher.hs:473; we honor the flag with a precise contract per
    * strategy):
    *  - `quick = true` (default, the walk-order view): prefixes are each
    *    layer's PRE-continuation snapshot, so a prefix whose branch dries
    *    up at step k is retained with children = [] — exactly the
    *    reference's Nodes2..9 nesting with empty sublists (walkPaths
    *    keeps non-matching centers with [], Cypher.hs:806-812).
    *  - `quick = false` (the planned view): evaluation order comes from
    *    real cardinalities ([[Exec.planExpansionOrder]]) and the layer
    *    snapshots are projections of the final join, so the nesting is
    *    restricted to FULL matches — every prefix row and every child
    *    extends to a complete path; equivalently, the nested view OF
    *    `paths`, order-independent. This prunes strictly more than the
    *    quick view's empty-children rows: a child whose own continuation
    *    dries up downstream is also absent (under quick it appears at its
    *    layer and its prefix carries [] one layer later). The
    *    empty-children contract is unobtainable here by construction: a
    *    dried-up prefix no longer exists in the final join. (Patterns the
    *    planner refuses — repetition steps, or a plan that starts at
    *    layer 0 — fall back to the left-to-right walk, as everywhere else
    *    in the engine.)
    */
  def temp(g: PropertyGraph, pat: Pat, quick: Boolean = true): Vector[DataFrame] = {
    val res = run(g, pat, quick)
    if (res.failed) return Vector.empty
    (1 until res.pathsPerLayer.length).map { k =>
      val prefix = res.pathsPerLayer(k - 1).columns.filter(_.startsWith("n"))
      // left-join layer-(k-1) prefixes against layer-k paths: prefixes whose
      // branch dried up keep an empty child list.
      val prefixes = res.pathsPerLayer(k - 1).select(prefix.map(col).toSeq: _*).distinct()
      val nextCol = res.pathsPerLayer(k).columns.filter(_.startsWith("n")).last
      val next = res.pathsPerLayer(k).select((prefix :+ nextCol).toSeq.map(col): _*).distinct()
      prefixes.join(next, prefix.toSeq, "left")
        .groupBy(prefix.map(col).toSeq: _*)
        .agg(sort_array(collect_list(col(nextCol))).as("children"))
    }.toVector
  }

  /** Re-feed a `temp` layer into a follow-up pattern — the reference's
    * reuse flow, where `temp` output feeds the next query
    * (README.md:229-240, Cypher.hs:473-479). The layer's nested children
    * lists flatten back to a distinct node frontier, usable as any pattern
    * position via `nodesDF`; composing query 2 from query 1's temp output
    * matches running the combined pattern one-shot. */
  def fromTemp(layer: DataFrame): NodeSpec =
    Dsl.nodesDF(layer.select(explode(col("children")).as("id")).distinct())

  /** Query-driven update (reference `createMem`, Cypher.hs:481-484,866-889):
    * the traversal's (src, label, dst) triples are upserted; the return
    * value is the GraphDiff to apply to the stored copy. DataFrames are
    * immutable, so the diff IS the result: newEdges = traversed edges not
    * already present; deletedEdges = rows overwritten by an upsert (same
    * (src,label,dir) slot, different target — the reference's
    * insertNodeEdgeAttr overwrite=True, Cypher.hs:866-889).
    *
    * A quick walk with no appl hook traverses stored rows only, so every
    * triple it finds is already present: its diff is empty, and no job
    * runs (repetition probes aside). Otherwise both sides are cut from
    * their lineage, as plans they hold `g.edges` twice and three times, and
    * a version written through `applyDiff` would multiply the lineage of
    * the one before (SCALING.md "Anchored reads in two jobs"):
    *  - when `g.edges` fits the optimizer's broadcast rule, each side is
    *    collected into a local relation (a side holds at most a few rows per
    *    edge of `g`), so the diff, and every version `applyDiff` builds from
    *    it, is driver data that no lost executor can take away;
    *  - a larger graph's diff keeps the eager `localCheckpoint`, which
    *    depends on blocks held by the executors: they cannot be recomputed
    *    if an executor is lost (ROADMAP item 12).
    *
    * The quick strategy walks without `run`'s whole-result emptiness
    * action: a walk that adds no edge is the empty diff whether or not it
    * collapsed, so the collapse is checked only for a diff with new edges.
    */
  def createMem(g: PropertyGraph, pat: Pat, quick: Boolean = true): GraphDiff = {
    val res = if (quick) Exec.walkLtoR(g, pat) else Exec.runOnE(g, pat)
    val cols = Seq("src", "dst", "label", "attrMask", "dir")
    if (res.failed) {
      val e = res.traversed
      return GraphDiff(e, e)
    }
    val trav = res.traversed.select(cols.map(col): _*).distinct()
    if (quick && !Exec.hooked(pat)) {
      val e = g.spark.createDataFrame(java.util.List.of[Row](), trav.schema)
      return GraphDiff(e, e)
    }
    val small = GraphOps.fits(g.edges)
    def cut(df: DataFrame) =
      if (small) g.spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
      else df.localCheckpoint()
    val key = Seq("src", "dst", "label")
    val slot = Seq("src", "label", "dir")
    val newEdges = cut(trav.join(g.edges.select(key.map(col): _*), key, "left_anti"))
    if (newEdges.isEmpty) return GraphDiff(newEdges, newEdges)
    if (res.paths.isEmpty) { // the walk collapsed
      val e = newEdges.limit(0)
      return GraphDiff(e, e)
    }
    GraphDiff(newEdges, cut(g.edges.join(newEdges.select(slot.map(col): _*), slot, "left_semi")))
  }

  /** Apply a diff (the reference applies it to the LMDB copy offline). The
    * new version is `g.edges` minus the deleted keys plus the new rows,
    * unioned as whole subtrees, so a cached `g` is read from its cache. A
    * side that is a small local relation, as `createMem` returns for a
    * small graph ([[GraphOps.localRows]]), is applied as data: the deleted
    * keys as a predicate, the new rows as a local relation, and an empty
    * side adds nothing to the plan. A checkpointed side keeps the anti-join
    * or union. */
  def applyDiff(g: PropertyGraph, diff: GraphDiff): PropertyGraph = {
    val cols = Seq("src", "dst", "label", "attrMask", "dir")
    val key = Seq("src", "dst", "label")
    val del = diff.deletedEdges.select(key.map(col): _*)
    val kept = GraphOps.localRows(del) match {
      case Some(rs) => GraphOps.minus(g.edges, key, rs.map(GraphOps.keyOf(_, key)))
      case None => g.edges.join(del, key, "left_anti")
    }
    val add = diff.newEdges.select(cols.map(col): _*)
    g.copy(edges = if (GraphOps.localRows(add).exists(_.isEmpty)) kept else UnionOf.byName(kept, add))
  }

  /** Subgraph of all edges traversed by the pattern (reference `graphQuery`
    * — stubbed there, Cypher.hs:895-898; real here): a new PropertyGraph
    * whose edge set is the matched steps. */
  def graphQuery(g: PropertyGraph, pat: Pat, quick: Boolean = true): PropertyGraph = {
    val res = run(g, pat, quick)
    if (res.failed) return PropertyGraph.empty(g.spark, g.ranges)
    val nodeCols = res.paths.columns.filter(_.startsWith("n")).sorted
    val stepEdges = (1 until nodeCols.length).flatMap { k =>
      if (res.paths.columns.contains(s"e${k}_label"))
        Some(res.paths.select(
          col(nodeCols(k - 1)).as("src"), col(nodeCols(k)).as("dst"),
          col(s"e${k}_label").as("label")))
      else None
    }
    if (stepEdges.isEmpty) return PropertyGraph.empty(g.spark, g.ranges)
    val wanted = stepEdges.reduce(_ unionByName _).distinct()
    // semi-join back to the edge relation to recover attrMask/dir
    val sub = g.edges.join(wanted, Seq("src", "dst", "label"), "left_semi")
    PropertyGraph(sub, g.ranges, g.nodeProps, g.edgeProps)
  }
}
