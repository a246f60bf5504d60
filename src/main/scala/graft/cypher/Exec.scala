package graft.cypher

import graft.model._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pattern execution: frontier joins over the distributed edge relation.
  *
  * The reference walks adjacency lists node-by-node (`walkPaths`,
  * Cypher.hs:798-863); the Spark-native equivalent advances a whole frontier
  * at once with one join per step — path provenance is kept as columns
  * (`n0, e1_label, n1, …, nk`) instead of nested lists (`Nodes2..9`,
  * Table.hs:21-32), which both `table` (flatten) and `temp` (re-nest via
  * collect_list) views derive from.
  *
  * Reference semantics preserved (pinned by GraphQuerySpec):
  *  - direction truth table of `-->/<--/~~/<--| |--/--| |-->` (Spec.hs:151-178);
  *  - a step that matches nothing collapses the whole result to empty
  *    (evalLtoR `noMoreNodesFound`, Cypher.hs:680-683);
  *  - `several lo hi` yields the FINAL frontier only — on dry-up after ≥lo
  *    hops the previous frontier is the result; dry-up before lo fails the
  *    query (stopRecursion, Cypher.hs:823-837);
  *  - edge layers appear in `table` output only when the step's path length
  *    is exactly 1 (`count == 1` check, Cypher.hs:665-667);
  *  - orth overlay: a query with orths O matches edges whose attrMask is a
  *    nonzero combination of O's bits (genAttrs setProduct, Cypher.hs:288-316)
  *    — here a bitmask predicate instead of attr enumeration.
  *
  * Documented deviations (strict refinements):
  *  - target node specifiers restrict each step (the reference's evalLtoR
  *    discards them, Cypher.hs:653-663 — its examples all have redundant
  *    target specs; intersection matches the documented intent);
  *  - `***` (unbounded repetition) runs BFS to fixpoint and therefore
  *    terminates on cyclic graphs, returning all nodes reachable in ≥1 hop;
  *  - the planned strategy's leftward expansion traverses the SAME oriented
  *    rows as a rightward walk (dst-side join, see [[hop]]) instead of
  *    mirror entries, so planned ≡ quick paths even on one-sided graphs.
  *
  * Scale: each step is one equi-join `paths.src = edges.src` with the label
  * /direction/orth predicates pushed into the scan; AQE turns small-frontier
  * joins into broadcasts at runtime. A start that is a predicate (labels,
  * anyNode, or distinct ids) joins nothing on the first hop: it folds into
  * the edge scan's filter, ids as a data-bound `InSet` ([[idIn]]), so a
  * read from a new anchor reuses the classes compiled for the last one.
  * [[evalLtoR]] ends with one emptiness action for the whole-result
  * collapse; [[pathsLtoR]] (`Query.paths`) skips it when no node spec has
  * an appl hook, so an anchored 1-hop read runs only the caller's own
  * action. Repetition loops `localCheckpoint` every hop to cut lineage and
  * keep the per-hop plan constant-size.
  */
object Exec {

  sealed trait LayerOut
  /** Distinct node ids of one layer (reference `N (Ns …)`). */
  final case class NodeLayerOut(ids: DataFrame) extends LayerOut
  /** (src,label) node-edge pairs of one step (reference `NE [nodeEdge]`);
    * empty DataFrame when the step had path length > 1. */
  final case class EdgeLayerOut(pairs: DataFrame) extends LayerOut

  final case class QueryResult(
      layers: Vector[LayerOut],
      paths: DataFrame,
      traversed: DataFrame,
      failed: Boolean,
      /** Path snapshot after each node layer (index k = paths of length k)
        * — `temp`'s nesting needs the pre-continuation prefixes so dried-up
        * branches keep their empty child lists (walkPaths keeps
        * non-matching centers, Cypher.hs:806-812). */
      pathsPerLayer: Vector[DataFrame] = Vector.empty)

  // ---- node specifier evaluation (reference evalNode, Cypher.hs:622-642) --

  def frontierOf(g: PropertyGraph, spec: NodeSpec): DataFrame = {
    val base = spec.sel match {
      case AllNodes => g.nodes.select(col("id"))
      case LabelSel(_) =>
        // Nodes of the graph within the label's range spans. NOT a driver
        // enumeration of [start, start+len): ranges may be sparse id
        // reservations (e.g. 10^7-wide), so the node set must come from the
        // data, bounded by actual graph size.
        val pred = targetPred(g, spec, col("id")).getOrElse(lit(true))
        g.nodes.select(col("id")).filter(pred)
      case IdSel(ids) =>
        val spark = g.spark
        import spark.implicits._
        ids.toDF("id")
      case DfSel(df) => df.select(col("id"))
    }
    spec.applFn.fold(base)(f => f(base))
  }

  /** Predicate restricting a target column to a node spec — used to filter
    * join results without materializing the frontier when the spec is
    * range-expressible. */
  private def targetPred(g: PropertyGraph, spec: NodeSpec, c: Column): Option[Column] =
    spec.sel match {
      case AllNodes => None
      case LabelSel(ls) =>
        val spans = g.ranges.filter(r => ls.contains(r.nodeLabel))
        if (spans.isEmpty) Some(lit(false))
        else Some(spans.map(r => c >= r.start && c < r.start + r.len).reduce(_ || _))
      case IdSel(ids) => Some(idIn(c, ids))
      case DfSel(_) => None // handled with a semi-join by the caller
    }

  /** `c IN ids` over a node-id column, built as Catalyst `InSet`. For a
    * LONG column the generated code holds the id set as a reference object,
    * so every id set reuses the same compiled classes; `===` or `isin` would
    * write each id into the Java source and compile new classes per anchor.
    * The cast folds away on LONG columns and keeps the set's boxed longs
    * comparable on narrower ones. */
  private def idIn(c: Column, ids: Iterable[Long]): Column = {
    import org.apache.spark.sql.catalyst.expressions.InSet
    import org.apache.spark.sql.graft.ColumnOf
    ColumnOf(InSet(ColumnOf.expr(c.cast("long")), ids.map(id => id: Any).toSet))
  }

  // ---- one hop ------------------------------------------------------------

  /** Edge-row predicate for a spec (label ∈ attrs ∪ orth-combinations ∪ all,
    * direction, where_), always in rightward orientation — leftward walks
    * reuse it and join from the dst side (see [[hop]]). */
  def edgePred(e: EdgeSpec, label: Column, attrMask: Column, dirC: Column,
      dst: Column): Column = {
    val labelPred: Column = {
      val attrP = if (e.attrs.nonEmpty) Some(label.isin(e.attrs: _*)) else None
      val orthP = if (e.orths.nonEmpty)
        Some(attrMask =!= 0L && attrMask.bitwiseAND(lit(~e.orthMask)) === 0L)
      else None
      (attrP, orthP) match {
        case (Some(a), Some(o)) => a || o
        case (Some(a), None) => a
        case (None, Some(o)) => o
        case (None, None) => lit(true)
      }
    }
    val dirPred: Column = e.dir match {
      case DirNone => lit(true)
      case DirR => dirC === true
      case DirL => dirC === false
    }
    val wherePred = e.whereFn.fold(lit(true))(f => f(EdgeView(label, attrMask, dst)))
    labelPred && dirPred && wherePred
  }

  /** Advance `paths` one hop: join current endpoint against edges, keep
    * provenance columns, emit `e{step}_label` + `n{step}`.
    *
    * Walking LEFTWARD (runOnE's planned strategy expanding from a cheap
    * center) traverses exactly the row set the rightward walk would match,
    * joined from the `dst` side — NOT the mirror rows. The reference walks
    * left over backward slot entries and therefore silently loses paths on
    * one-sided (unmirrored) graphs; joining the same oriented rows from the
    * other end makes planned ≡ quick on every graph (documented strict
    * refinement). Direction-bit VISIBILITY semantics (Spec.hs:151-178) are
    * untouched: the predicate is always evaluated in rightward orientation.
    */
  private def hop(g: PropertyGraph, paths: DataFrame, fromCol: String, e: EdgeSpec,
      step: Int, walkRight: Boolean, keepEdgeCols: Boolean): DataFrame = {
    val ed = g.edges.select(
      col("src").as("__src"), col("dst").as("__dst"),
      col("label").as("__label"), col("attrMask").as("__mask"), col("dir").as("__dir"))
    val pred = edgePred(e, col("__label"), col("__mask"), col("__dir"), col("__dst"))
    val (joinSide, emitSide) = if (walkRight) ("__src", "__dst") else ("__dst", "__src")
    val joined = paths.join(ed.filter(pred), paths(fromCol) === col(joinSide))
    val keep = paths.columns.toSeq.map(paths(_)) ++
      (if (keepEdgeCols) Seq(col("__label").as(s"e${step}_label")) else Nil) :+
      col(emitSide).as(s"n$step")
    joined.select(keep: _*)
  }

  private def applyTarget(g: PropertyGraph, df: DataFrame, spec: NodeSpec, colName: String): DataFrame = {
    val restricted = spec.sel match {
      case DfSel(f) =>
        // an expression key, not `Seq(colName)`: a USING join moves the key
        // column first, and the path columns must keep their n0, e1_label,
        // n1, … order
        df.join(f.select(col("id").as("__target")), col(colName) === col("__target"), "left_semi")
      case _ => targetPred(g, spec, col(colName)).fold(df)(p => df.filter(p))
    }
    spec.applFn.fold(restricted)(f => f(restricted))
  }

  /** One pattern step incl. repetition. Returns (paths, pathLen) or None if
    * the step failed (frontier dried up per reference stop semantics). */
  private def walkStep(g: PropertyGraph, paths0: DataFrame, fromCol: String,
      e: EdgeSpec, target: NodeSpec, step: Int, walkRight: Boolean): Option[(DataFrame, Int)] = {
    val (lo, hi) = e.several.getOrElse((1, 1))
    val unbounded = hi == Int.MaxValue

    if (lo == 1 && hi == 1) {
      // Lazy: no per-step action. Empty frontiers propagate through the
      // inner joins, so the result is already empty when any step is;
      // evalLtoR's one final emptiness check only swaps in the collapsed
      // layers and `failed` (pathsLtoR skips it). The full multi-join plan
      // stays visible to Catalyst.
      Some((applyTarget(g, hop(g, paths0, fromCol, e, step, walkRight, keepEdgeCols = true), target, s"n$step"), 1))
    } else if (lo == hi && hi <= 8) {
      // Exact-k repetition (several(k,k)): the k hops compose LAZILY
      // (dropDuplicates is a shuffle op, not an action) into ONE Spark job
      // with a single materialization on the common path, instead of a
      // checkpoint + emptiness action per hop. The reference stop rule
      // still applies when the frontier dries EXACTLY at hop k (count ==
      // lo ≥ lo → previous frontier, Cypher.hs:830-832), so an empty k-th
      // frontier falls back to materializing the (k-1)-th: nonempty →
      // that's the result; empty → the walk dried before lo → failed.
      // Capped at 8 hops to keep the composed plan small; deeper exact-k
      // loops use the checkpointing path below.
      val prefix = paths0.columns
      def hopN(from: DataFrame, i: Int): DataFrame =
        hop(g, from, s"n$step", e, step + 1000 + i, walkRight, keepEdgeCols = false)
          .drop(s"n$step").withColumnRenamed(s"n${step + 1000 + i}", s"n$step")
          .dropDuplicates(prefix :+ s"n$step")
      val f0 = paths0.select(prefix.map(col).toSeq :+ col(fromCol).as(s"n$step"): _*)
      val fPrev = (1 until hi).foldLeft(f0)(hopN) // frontier after k-1 hops
      // dryness is judged on the RAW frontier (before the target spec
      // restricts it), exactly like the general loop's `next.isEmpty`
      val fK = hopN(fPrev, hi).localCheckpoint(true)
      val resultFrontier =
        if (!fK.isEmpty) Some(fK)
        else if (hi == 1) None // dry at count 1 → failed (Cypher.hs:824-826)
        else {
          // dry at hop k (count == lo): previous frontier is the result
          // unless it is itself empty (the walk dried before lo → failed)
          val prev = fPrev.localCheckpoint(true)
          if (prev.isEmpty) None else Some(prev)
        }
      resultFrontier.flatMap { f =>
        val res = applyTarget(g, f, target, s"n$step").localCheckpoint(true)
        if (res.isEmpty) None else Some((res, hi))
      }
    } else {
      // Repetition: replace the step column per hop; provenance = prefix cols.
      val prefix = paths0.columns
      var cur = paths0.select(prefix.map(col).toSeq :+ col(fromCol).as(s"n$step"): _*)
        .localCheckpoint(true)
      var count = 0
      var visited = if (unbounded) cur.select((prefix :+ s"n$step").toSeq.map(col): _*) else null
      var acc: DataFrame = null // unbounded: union of frontiers at depth >= lo
      var done = false
      var failedStep = false
      while (!done) {
        val next0 = hop(g, cur, s"n$step", e, step + 1000, walkRight, keepEdgeCols = false)
          .drop(s"n$step").withColumnRenamed(s"n${step + 1000}", s"n$step")
          .dropDuplicates(prefix :+ s"n$step")
        // LAZY checkpoints, materialized by the dry-count probe / the next
        // round's anti-join (round 19, the a24 fix applied here): the
        // unbounded walk ran THREE driver actions per round (eager next
        // checkpoint + isEmpty + eager visited checkpoint) over
        // tiny-frontier rounds — g13 measured 3.0 s wall over 4.6
        // executor-cpu-s at sf1. The probe must be count(), NOT isEmpty:
        // isEmpty is limit-based and materializes only the partitions the
        // limit touches, so the lazy checkpoint stayed PARTIAL and every
        // later round recomputed the full upstream lineage (measured 3.0
        // → 4.0 s before the count swap). count() runs every partition —
        // lineage is cut exactly as the eager form cut it, in one action.
        val next = (if (unbounded)
          next0.join(visited, (prefix :+ s"n$step").map(c => next0(c) === visited(c)).reduce(_ && _), "left_anti")
        else next0).localCheckpoint(false)
        count += 1
        val dry = next.count() == 0L
        if (dry) {
          if (count == 1 || count < lo) { failedStep = true; done = true } // failed query (Cypher.hs:824-826)
          else done = true // success: frontier before the dry hop, i.e. `cur`
                           // (stopRecursion returns its input startNs, Cypher.hs:830-832)
        } else if (!unbounded && count >= hi) {
          cur = next; done = true                                          // success at hi
        } else {
          cur = next
          if (unbounded) {
            visited = visited.unionByName(next.select((prefix :+ s"n$step").toSeq.map(col): _*)).localCheckpoint(false)
            if (count >= lo) acc = if (acc == null) next else acc.unionByName(next)
          }
        }
      }
      if (failedStep) None
      else {
        val res0 = if (unbounded) {
          val all = if (acc == null) cur else acc
          all.dropDuplicates(prefix :+ s"n$step")
        } else cur
        val res = applyTarget(g, res0, target, s"n$step").localCheckpoint(true)
        if (res.isEmpty) None else Some((res, count))
      }
    }
  }

  // ---- full evaluation ----------------------------------------------------

  private def pairsOf(comps: Vector[Comp]): Seq[(EdgeSpec, NodeSpec)] =
    comps.tail.grouped(2).collect { case Vector(CompE(e), CompN(n)) => (e, n) }.toSeq

  /** Quick strategy — strict left-to-right (reference evalLtoR,
    * Cypher.hs:650-695). One final action implements the reference's
    * whole-result collapse (noMoreNodesFound, Cypher.hs:680-688): any empty
    * step empties the final inner-join chain, and the result then reports
    * `failed` with every layer empty. */
  def evalLtoR(g: PropertyGraph, pat: Pat): QueryResult = {
    val res = walkLtoR(g, pat)
    if (res.failed || !res.paths.isEmpty) res else emptyResult(g, pat.comps)
  }

  /** `evalLtoR(g, pat).paths` without the collapse action where it cannot
    * change the frame. Without appl hooks an empty walk already is the
    * collapsed result's empty frame, with the same columns; a hook may
    * reshape or refill its layer, so a pattern with one takes the full
    * evaluation. */
  private[cypher] def pathsLtoR(g: PropertyGraph, pat: Pat): DataFrame = {
    if (hooked(pat)) evalLtoR(g, pat).paths else walkLtoR(g, pat).paths
  }

  /** Whether a node spec of `pat` carries an appl hook. */
  private[cypher] def hooked(pat: Pat): Boolean =
    pat.comps.exists { case CompN(n) => n.applFn.isDefined; case _ => false }

  /** The left-to-right walk, lazy unless a repetition step must probe its
    * frontier; `failed` only when such a probe found the walk dry. */
  private[cypher] def walkLtoR(g: PropertyGraph, pat: Pat): QueryResult = {
    val comps = pat.comps
    val start = comps.head match {
      case CompN(n) => n
      case _ => throw new IllegalArgumentException("a query has to start with a node")
    }
    val stepPairs = pairsOf(comps)
    // Predicate-only starts (labels/anyNode/distinct ids, no appl hook)
    // never materialize a frontier: the restriction folds into the first
    // edge scan — at scale a label's id span can be a sparse 10^7-wide
    // reservation while the matching edges are few; enumerating it would
    // dwarf the query, and an id list would cost a local relation and a
    // broadcast join per read. A repeated id stays a frontier row: the join
    // emits its paths once per occurrence, a filter would emit them once.
    val pushdownStart = stepPairs.nonEmpty && start.applFn.isEmpty &&
      (start.sel match {
        case AllNodes | LabelSel(_) => true
        case IdSel(ids) => ids.distinct.size == ids.size
        case DfSel(_) => false
      })

    // Layer 0 display stays reference-faithful (all nodes of the start
    // spec, even match-less ones) but lazy — only computed if collected.
    var layers = Vector[LayerOut](NodeLayerOut(frontierOf(g, start).distinct()))
    var snapshots = Vector(frontierOf(g, start).select(col("id").as("n0")))
    var paths: DataFrame =
      if (pushdownStart) {
        val (e1, _) = stepPairs.head
        val srcPred = targetPred(g, start, col("src")).getOrElse(lit(true))
        if (e1.several.isEmpty) null // first hop reads edges directly below
        else // repetition seed: start nodes having >=1 matching edge
          g.edges.filter(srcPred &&
              edgePred(e1, col("label"), col("attrMask"), col("dir"), col("dst")))
            .select(col("src").as("n0")).distinct()
      } else frontierOf(g, start).select(col("id").as("n0"))

    var traversed: DataFrame = null
    var step = 0
    for ((e, n) <- stepPairs) {
      step += 1
      val stepRes: Option[(DataFrame, Int)] =
        if (paths == null) {
          // first hop straight off the edge scan (no frontier join at all)
          val srcPred = targetPred(g, start, col("src")).getOrElse(lit(true))
          val p0 = g.edges
            .filter(srcPred && edgePred(e, col("label"), col("attrMask"), col("dir"), col("dst")))
            .select(col("src").as("n0"), col("label").as("e1_label"), col("dst").as("n1"))
          Some((applyTarget(g, p0, n, "n1"), 1))
        } else walkStep(g, paths, s"n${step - 1}", e, n, step, walkRight = true)
      stepRes match {
        case None => return emptyResult(g, comps)
        case Some((p, count)) =>
          paths = p
          snapshots = snapshots :+ p
          val edgeLayer =
            if (count == 1 && p.columns.contains(s"e${step}_label"))
              p.select(col(s"n${step - 1}").as("src"), col(s"e${step}_label").as("label")).distinct()
            else emptyEdgePairs(g)
          layers = layers :+ EdgeLayerOut(edgeLayer) :+
            NodeLayerOut(p.select(col(s"n$step").as("id")).distinct())
          if (count == 1 && p.columns.contains(s"e${step}_label")) {
            val t = p.select(col(s"n${step - 1}").as("src"), col(s"n$step").as("dst"),
              col(s"e${step}_label").as("label"), lit(0L).as("attrMask"), lit(true).as("dir"))
            traversed = if (traversed == null) t else traversed.unionByName(t)
          }
      }
    }
    QueryResult(layers, paths, Option(traversed).getOrElse(emptyEdges(g)), failed = false, snapshots)
  }

  /** The planned strategy's start choice (exposed for tests): the node
    * layer with the smallest REAL cardinality. Label/all-node costs come
    * from actual per-label node counts ([[PropertyGraph.labelCounts]]), not
    * range spans — spans are id reservations and say nothing about data
    * size (the reference's 0/#labels/100000 heuristic, Cypher.hs:573-583,
    * had the same blind spot). Explicit ids are exact; a DfSel frontier is
    * unknown-but-usually-small. */
  def planStart(g: PropertyGraph, pat: Pat): Int = {
    val nodeIdx = pat.comps.zipWithIndex.collect { case (CompN(n), i) => (n, i) }
    val (_, startIdx) = nodeIdx.minBy { case (n, i) => (specCost(g, n), i) }
    startIdx / 2
  }

  private def specCost(g: PropertyGraph, n: NodeSpec): Long = n.sel match {
    case IdSel(ids) => ids.size.toLong
    case DfSel(_) => 1000L
    case LabelSel(ls) => ls.distinct.map(l => g.labelCounts.getOrElse(l, 0L)).sum
    case AllNodes => g.labelCounts.values.sum max 1L
  }

  /** The label set a spec can match, None = unknown/all (AllNodes, DfSel).
    * Explicit ids resolve through the driver-side range arithmetic. */
  private def specLabels(g: PropertyGraph, n: NodeSpec): Option[Set[Int]] = n.sel match {
    case LabelSel(ls) => Some(ls.toSet)
    case IdSel(ids) => Some(ids.map(g.labelOfId).toSet)
    case _ => None
  }

  /** DEGREE-AWARE step cost (the reference's own TODO — "use counter of
    * edge-attr", Cypher.hs:574): the estimated edge-row count of
    * expanding across one step, from [[PropertyGraph.labelEdgeStats]].
    * Node cardinalities alone miss fan-out skew — a 5-node layer whose
    * nodes each carry 100 edges is a worse expansion than a 10-node
    * layer with 1 edge each, and the join's cost IS the edge rows. The
    * estimate sums stat entries whose edge label is allowed by the step
    * spec (empty attrs = any) and whose endpoint labels match the two
    * layer specs in EITHER orientation (auto-reverse graphs materialize
    * both row orientations, and direction-flipped steps walk the stored
    * rows from the dst side — an orientation-agnostic adjacency sum is
    * the consistent proxy for both). A wildcard side (AllNodes/DfSel)
    * matches every label; each stat entry counts at most once. */
  private def stepCost(g: PropertyGraph, a: NodeSpec, e: EdgeSpec, b: NodeSpec): Long = {
    val aL = specLabels(g, a)
    val bL = specLabels(g, b)
    // an orth overlay widens the match beyond the attr label list (the
    // edge predicate is label-IN-attrs OR mask-overlap) — restricting the
    // stats to attrs would undercount that side; treat it as any-label
    val eL = if (e.attrs.isEmpty || e.orths.nonEmpty) None else Some(e.attrs.toSet)
    g.labelEdgeStats.iterator.collect { case ((sl, dl, el), n)
        if eL.forall(_.contains(el)) &&
          ((aL.forall(_.contains(sl)) && bL.forall(_.contains(dl))) ||
           (aL.forall(_.contains(dl)) && bL.forall(_.contains(sl)))) => n }.sum
  }

  /** The planned strategy's expansion order (exposed for tests): node-layer
    * indices in the order their column joins the walk. Starts at
    * [[planStart]]; after EVERY expansion the two frontier-adjacent layers
    * are re-costed from real label stats and the cheaper side expands next
    * (the reference re-costs per step and picks sides via `useLeft`,
    * Cypher.hs:711-785, :777-782) — so a chain with two cheap ends
    * approaches its expensive middle from both sides, instead of sweeping
    * right-to-end then left. Ties expand right.
    * NOTE: patterns containing repetition steps evaluate strictly left-to-
    * right regardless of this order (see the guard in [[runOnE]]). */
  def planExpansionOrder(g: PropertyGraph, pat: Pat): Vector[Int] = {
    val nodeSpecs = pat.comps.collect { case CompN(n) => n }
    val edgeSpecs = pairsOf(pat.comps).map(_._1).toVector
    val last = nodeSpecs.size - 1
    val start = planStart(g, pat)
    var lo = start; var hi = start
    var order = Vector(start)
    while (lo > 0 || hi < last) {
      val goRight =
        if (lo == 0) true
        else if (hi == last) false
        else
          // DEGREE-aware side choice (round 11): compare the estimated
          // EDGE rows each expansion would join — [[stepCost]] over the
          // per-(label, label, edge-attr) stats — not just the target
          // layer's node count. Ties (uniform-degree graphs, where both
          // estimates reduce to edge totals) expand right, as before.
          stepCost(g, nodeSpecs(hi), edgeSpecs(hi), nodeSpecs(hi + 1)) <=
            stepCost(g, nodeSpecs(lo - 1), edgeSpecs(lo - 1), nodeSpecs(lo))
      if (goRight) { hi += 1; order = order :+ hi }
      else { lo -= 1; order = order :+ lo }
    }
    order
  }

  /** Planned strategy (reference runOnE, Cypher.hs:711-785): start at the
    * cheapest node column by REAL cardinality and grow the covered interval
    * one layer at a time, re-costing both frontier-adjacent layers after
    * every expansion and taking the cheaper side
    * (see [[planExpansionOrder]]). Target-spec intersection makes the
    * result order-independent, so the planner only affects cost.
    */
  def runOnE(g: PropertyGraph, pat: Pat): QueryResult = {
    val comps = pat.comps
    val nodeIdx = comps.zipWithIndex.collect { case (CompN(n), i) => (n, i) }
    // Repetition steps pin the strategy to left-to-right: `several`'s stop
    // rules are GLOBAL over the frontier (dry-up keeps the previous
    // frontier, any extension drops all shorter branches —
    // Cypher.hs:823-837), so they are defined operationally in walk order.
    // A walk from elsewhere seeds the repetition with every node of the
    // start spec — including chains the rightward walk never reaches —
    // and those extra branches can flip the dry-up decisions (e.g. an
    // unconnected deep chain keeps the loop alive past the depth where
    // the real paths dried, emptying the result after target filtering).
    // Plain-step patterns keep full planning freedom: inner joins are
    // order-independent under target intersection.
    if (pairsOf(comps).exists(_._1.several.exists(s => s != (1, 1))))
      return evalLtoR(g, pat)
    val order = planExpansionOrder(g, pat)
    val startLayer = order.head
    if (startLayer == 0) return evalLtoR(g, pat)

    val startSpec = nodeIdx.find(_._2 == startLayer * 2).get._1
    var paths = frontierOf(g, startSpec).select(col("id").as(s"n$startLayer")).localCheckpoint(true)
    if (paths.isEmpty) return emptyResult(g, comps)
    val stepPairs = pairsOf(comps).toVector

    var hi = startLayer
    for (layer <- order.tail) {
      if (layer > hi) {
        // rightward: edge (layer-1 → layer), target = node spec at `layer`
        val (e, n) = stepPairs(layer - 1)
        walkStep(g, paths, s"n${layer - 1}", e, n, layer, walkRight = true) match {
          case None => return emptyResult(g, comps)
          case Some((p, _)) => paths = p
        }
        hi = layer
      } else {
        // leftward: edge (layer → layer+1) walked from its dst side,
        // target = node spec at `layer` (see [[hop]] on oriented rows)
        val (e, _) = stepPairs(layer)
        val targetSpec = comps(2 * layer) match { case CompN(n) => n; case _ => NodeSpec(AllNodes) }
        val tmp = s"n${layer + 2000}"
        walkStep(g, paths, s"n${layer + 1}", e, targetSpec, layer + 2000, walkRight = false) match {
          case None => return emptyResult(g, comps)
          case Some((p, _)) =>
            paths = p.withColumnRenamed(tmp, s"n$layer")
              .withColumnRenamed(s"e${layer + 2000}_label", s"e${layer + 1}_label")
        }
      }
    }
    if (paths.isEmpty) return emptyResult(g, comps)
    val layers = (0 to stepPairs.size).flatMap { i =>
      val nl = NodeLayerOut(paths.select(col(s"n$i").as("id")).distinct())
      if (i == 0) Vector(nl)
      else {
        val el =
          if (paths.columns.contains(s"e${i}_label"))
            EdgeLayerOut(paths.select(col(s"n${i - 1}").as("src"), col(s"e${i}_label").as("label")).distinct())
          else EdgeLayerOut(emptyEdgePairs(g))
        Vector(el, nl)
      }
    }.toVector
    val snaps = (0 to stepPairs.size).map { k =>
      paths.select((0 to k).map(i => col(s"n$i")): _*).distinct()
    }.toVector
    QueryResult(layers, paths, emptyEdges(g), failed = false, snaps)
  }

  private def emptyEdges(g: PropertyGraph): DataFrame =
    g.spark.createDataFrame(g.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], PropertyGraph.edgeSchema)

  private def emptyEdgePairs(g: PropertyGraph): DataFrame = {
    import org.apache.spark.sql.types._
    g.spark.createDataFrame(g.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("src", LongType), StructField("label", IntegerType))))
  }

  /** A failed query collapses every layer (reference returns [] when a step
    * dries up, Cypher.hs:685-688). The empty `paths` DF still carries the
    * pattern's column shape (n0..nk, plus e{i}_label for plain steps —
    * exactly the columns a successful run emits), so downstream selects
    * compose instead of crashing on a schema-less empty. */
  private def emptyResult(g: PropertyGraph, comps: Vector[Comp]): QueryResult = {
    import org.apache.spark.sql.types._
    val emptyIds = g.spark.createDataFrame(g.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("id", LongType))))
    val pathFields = StructField("n0", LongType) +:
      pairsOf(comps).zipWithIndex.flatMap { case ((e, _), i) =>
        val step = i + 1
        val lbl = if (e.several.forall(_ == (1, 1)))
          Seq(StructField(s"e${step}_label", IntegerType)) else Nil
        lbl :+ StructField(s"n$step", LongType)
      }
    val emptyPaths = g.spark.createDataFrame(g.spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(pathFields))
    val layers = comps.map {
      case CompN(_) => NodeLayerOut(emptyIds)
      case CompE(_) => EdgeLayerOut(emptyEdgePairs(g))
    }.toVector
    QueryResult(layers, emptyPaths, emptyEdges(g), failed = true)
  }
}
