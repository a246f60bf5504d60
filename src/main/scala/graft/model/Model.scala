package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Core data model of the engine.
  *
  * The reference (tkvogt/judy-graph-db) stores a graph as a judy array of
  * 64-bit `node|edge` keys to 32-bit target nodes, with node labels implied
  * by index ranges and edge labels bit-packed into the edge word
  * (reference: src/JudyGraph/FastAccess.hs:19-58, 129-158). That encoding is
  * *physical* and single-machine; the Spark-native equivalent keeps the same
  * logical content as two distributed relations plus a small broadcastable
  * range table:
  *
  *   nodes:  id LONG, label INT
  *   edges:  src LONG, dst LONG, label INT, attrMask LONG, dir BOOLEAN
  *   ranges: (start, len, nodeLabel, validEdgeLabels)
  *
  * `dir = true` marks the stored direction of a directed edge; a mirrored
  * "back" edge (reference edgeBackward bit 0x80000000,
  * FastAccess.hs:149-150) is a row with src/dst swapped and `dir = false`.
  * An undirected edge is two `dir = true` rows (README.md:219-225).
  *
  * `attrMask` carries "orthogonal" overlay label bits: the reference sums
  * attr words when several labels overlay one physical edge
  * (FastAccess.hs:271-278); here each label `l` contributes bit `1 << l`
  * and overlay insert ORs masks (see [[graft.operators.GraphOps]]).
  */
final case class NodeRow(id: Long, label: Int)

final case class EdgeRow(src: Long, dst: Long, label: Int, attrMask: Long, dir: Boolean)

/** One node-class range: ids in [start, start+len) carry `nodeLabel` and may
  * only originate edges with labels in `validEdgeLabels`
  * (reference FastAccess.hs:157-158, Enum.hs:364-369).
  */
final case class RangeDef(start: Long, len: Long, nodeLabel: Int, validEdgeLabels: Seq[Int]) {
  def contains(id: Long): Boolean = id >= start && id < start + len
}

/** Result of a mutating query (`createMem`) — the reference returns the
  * delta to be applied to a persistent copy rather than mutating in place
  * (reference Cypher.hs:445-461, 866-889). Spark DataFrames are immutable,
  * so the diff IS the natural result here.
  */
final case class GraphDiff(newEdges: DataFrame, deletedEdges: DataFrame) {
  def isEmpty: Boolean = newEdges.isEmpty && deletedEdges.isEmpty
}

/** A property graph: distributed edge/node relations + small driver-side
  * range metadata + optional rich property tables (the reference's LMDB
  * tier, JudyGraph.hs:99-113, becomes parquet-backed DataFrames).
  *
  * Scale notes (designed for ~100 TB / 1000 executors):
  *  - `edges` is the big relation; traversals join a (usually small)
  *    frontier against it on `src`. Callers that traverse repeatedly should
  *    pre-partition once via [[partitionBySrc]] so every hop reuses the same
  *    hash partitioning and only the frontier moves.
  *  - `ranges` is driver-side and tiny (node classes), so label lookups are
  *    closed-form arithmetic — never a join against a big table.
  */
final case class PropertyGraph(
    edges: DataFrame,
    ranges: Seq[RangeDef],
    nodeProps: Option[DataFrame] = None,
    edgeProps: Option[DataFrame] = None,
    explicitNodes: Option[DataFrame] = None) {

  def spark: SparkSession = edges.sparkSession

  /** All node ids with labels. If the graph was built from an explicit node
    * list we use it; otherwise nodes are derived from edge endpoints (the
    * reference enumerates `nodesJ` the same way, FastAccess.hs:466-475).
    */
  def nodes: DataFrame = {
    val ids = explicitNodes.getOrElse(
      edges.select(col("src").as("id")).union(edges.select(col("dst").as("id"))).distinct())
    ids.select(col("id"), PropertyGraph.labelForId(col("id"), ranges).as("label"))
  }

  /** Column expression mapping a node id to its range label — a broadcast-free
    * CASE WHEN chain, since ranges are tiny driver-side metadata. */
  def labelOf(idCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PropertyGraph.labelForId(idCol, ranges)

  /** Hash-partition edges by src so repeated frontier joins co-locate
    * without reshuffling the big side (the Spark analogue of the
    * reference's contiguous-key locality, FastAccess.hs:602-607). */
  def partitionBySrc(n: Int): PropertyGraph =
    copy(edges = edges.repartition(n, col("src")).sortWithinPartitions("src", "label"))

  /** Cache the edge relation for iterative traversal. The caller owns the
    * cache: the first action materializes the whole relation, and
    * `edges.unpersist` releases it. A version written on a cached graph
    * (GraphOps' writes, `Query.applyDiff`) keeps it as a subtree, so
    * caching that version reads the predecessor from its cache: its plan is
    * the cached scan, a filter and a local union. Unpersisting the
    * predecessor after the new version is materialized keeps the new one. */
  def cached(): PropertyGraph = copy(edges = edges.cache())

  /** Real per-label node counts (one aggregation over the node set,
    * memoized per graph instance) — the planner's statistics source.
    * Range SPANS are id reservations (often uniform 10^7-wide), so
    * span length says nothing about data size; the reference's planner
    * had the same blind spot with its 0/#labels/100000 heuristic
    * (Cypher.hs:573-583). Driver-side result is tiny: one row per label. */
  lazy val labelCounts: Map[Int, Long] = {
    // memoized per (session, edge-plan, ranges): a stats pass costs one
    // aggregation over the node set, and prop-only copies (insertNodeProps/
    // insertEdgeProps/applyDiff round-trips that keep the same edge plan)
    // must not re-pay it — the per-instance lazy val alone dies with each
    // `copy()`. Edge-mutating copies get a new semantic hash and recount,
    // which is correct: the graph changed. Ranges are part of the key
    // because labels derive from them: two graphs sharing one edge plan
    // with different range tables have different per-label counts.
    // NOTE: this is a planning-time Spark action (distinct over endpoints +
    // groupBy) — the first planned query on a large uncached graph pays it
    // up front. Entries are tiny (one Long per label) but live for the
    // session; path-backed plans whose underlying files are overwritten
    // in-session would serve stale counts (cost-only: the planner picks a
    // worse start, results are unaffected).
    val key = s"${edges.queryExecution.logical.semanticHash()}|" +
      explicitNodes.map(_.queryExecution.logical.semanticHash()).getOrElse(0) +
      s"|${ranges.hashCode}"
    PropertyGraph.labelCountCache(spark, key) {
      nodes.groupBy(col("label")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
  }

  def isNull: Boolean = edges.isEmpty

  /** Per-(node,label) out-degree — the reference's `adjacentEdgeCount`
    * counter slots (FastAccess.hs:296-305) as a relation. */
  def degrees: DataFrame =
    edges.groupBy(col("src"), col("label")).agg(count(lit(1)).as("degree"))

  /** Per-(src-label, dst-label, edge-label) edge counts — the planner's
    * DEGREE statistics, finishing the reference's own TODO ("use counter
    * of edge-attr", Cypher.hs:574): node cardinalities alone cannot see
    * that one side of a pattern fans out 100× wider than the other. One
    * aggregation over the edge relation (same memoization contract and
    * staleness caveat as [[labelCounts]]); the driver-side result is
    * ≤ |labels|²·|edge labels| rows — tiny. */
  lazy val labelEdgeStats: Map[(Int, Int, Int), Long] = {
    val key = s"deg|${edges.queryExecution.logical.semanticHash()}|${ranges.hashCode}"
    PropertyGraph.labelEdgeStatCache(spark, key) {
      edges.groupBy(labelOf(col("src")).as("sl"), labelOf(col("dst")).as("dl"),
          col("label").as("el"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getLong(3)).toMap
    }
  }

  /** Driver-side range→label lookup (the CASE WHEN chain of [[labelOf]]
    * as arithmetic): later ranges shadow earlier ones, unmatched = -1. */
  def labelOfId(id: Long): Int =
    ranges.findLast(r => id >= r.start && id < r.start + r.len)
      .map(_.nodeLabel).getOrElse(-1)
}

object PropertyGraph {
  import org.apache.spark.sql.Column

  private[model] val labelCountCache = new graft.util.SessionCache[Map[Int, Long]]
  private[model] val labelEdgeStatCache = new graft.util.SessionCache[Map[(Int, Int, Int), Long]]

  /** CASE WHEN chain for range→label (reference nodeLabel, FastAccess.hs:654-667). */
  def labelForId(id: Column, ranges: Seq[RangeDef]): Column =
    ranges.foldLeft(lit(-1)) { (acc, r) =>
      when(id >= r.start && id < r.start + r.len, lit(r.nodeLabel)).otherwise(acc)
    }

  val edgeSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[EdgeRow].schema

  /** Empty graph over the given ranges (reference `empty`, FastAccess.hs:240-245). */
  def empty(spark: SparkSession, ranges: Seq[RangeDef]): PropertyGraph =
    PropertyGraph(spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], edgeSchema), ranges)
}
