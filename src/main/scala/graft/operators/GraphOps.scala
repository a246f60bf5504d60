package graft.operators

import graft.model._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, GetMapValue, InSet, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnOf, UnionOf}
import org.apache.spark.sql.types._

/** The reference's point-read / point-mutation surface (SURVEY §2.2-2.4) as
  * relational transforms. Reads are filters/joins the optimizer can push
  * into the parquet scan; "mutations" return a new PropertyGraph (immutable
  * lineage) — the reference itself treats post-load mutation as second-class
  * ("Deletion not tested and slows down the queries", README.md:17).
  *
  * A chained write builds on its cached predecessor at constant cost:
  *  - a new version unions through [[UnionOf.byName]], so the cached
  *    predecessor stays a subtree the cache lookup finds, instead of
  *    being re-derived from the base;
  *  - a transaction input that is a small local relation ([[localRows]])
  *    becomes a predicate or projection over the predecessor, with its
  *    keys bound as a reference object of the generated code ([[keyIn]]),
  *    so a write runs no broadcast job and compiles no new classes for new
  *    ids. Any other input keeps its join.
  */
object GraphOps {

  private val edgeCols = Seq("src", "dst", "label", "attrMask", "dir")
  private val edgeTypes: Map[String, DataType] =
    PropertyGraph.edgeSchema.fields.map(f => f.name -> f.dataType).toMap

  // ---- transaction inputs as data ------------------------------------------

  /** The rows of a transaction input that already is driver data: a local
    * relation that fits the optimizer's broadcast rule, read without a
    * job. None keeps the join: a file-backed input would cost a collect on
    * top of its scan, and at sf0.1 g8 measured slower that way (SCALING.md
    * "Chained writes at constant cost"). */
  private[graft] def localRows(df: DataFrame): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case _: LocalRelation if fits(df) => Some(df.collect())
      case _ => None
    }

  /** The optimizer's broadcast rule (`canBroadcastBySize`) applied to `df`. */
  private[graft] def fits(df: DataFrame): Boolean = {
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    size >= 0 && size <= df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
  }

  /** The values of `r`'s columns `cols` as the edge columns' types, so keys
    * from differently typed inputs compare equal on the driver and in
    * [[keyIn]]'s set. */
  private[graft] def keyOf(r: Row, cols: Seq[String]): Row = Row.fromSeq(cols.map { c =>
    (r.getAs[Any](c), edgeTypes(c)) match {
      case (n: Number, LongType) => n.longValue
      case (n: Number, IntegerType) => n.intValue
      case (v, _) => v
    }
  })

  /** `struct(cols) IN keys` over edge columns whose first is `src`, for
    * keys built by [[keyOf]]. Like `Exec.idIn` it is made of Catalyst
    * `InSet`s, whose generated code holds each set as a reference object,
    * so new keys compile no new classes. A struct set is a tree searched
    * with interpreted comparisons, so a hashed `src IN {…}` test goes
    * first and only rows that pass it search the tree. Keys with a null
    * field are left out: a join never matches them. */
  private def keyIn(cols: Seq[String], keys: Iterable[Row]): Column = {
    require(cols.head == "src", s"key columns must start with src: $cols")
    val ks = keys.filterNot(_.anyNull)
    val srcs = ks.iterator.map(_.get(0)).toSet
    val set = ks.iterator.map(k => InternalRow.fromSeq(k.toSeq): Any).toSet
    ColumnOf(And(InSet(ColumnOf.expr(col("src").cast(LongType)), srcs), InSet(ColumnOf.expr(keyStruct(cols)), set)))
  }

  private def keyStruct(cols: Seq[String]): Column =
    struct(cols.map(c => col(c).cast(edgeTypes(c)).as(c)): _*)

  /** Edges minus the rows whose `cols` match one of `keys` ([[keyOf]]
    * rows): the predicate form of a left anti-join with a small input. */
  private[graft] def minus(edges: DataFrame, cols: Seq[String], keys: Iterable[Row]): DataFrame =
    if (keys.isEmpty) edges else edges.filter(!keyIn(cols, keys))

  /** All (edge,target) pairs for node+label+dir — the reference's flagship
    * `adjacentNodesByAttr` ("the function that is the purpose of the whole
    * library", FastAccess.hs:602-619). A single pushed-down filter here;
    * the bulk form used by traversal is a frontier join in cypher.Exec.
    */
  def adjacentNodesByAttr(g: PropertyGraph, node: Long, label: Int, forward: Boolean = true): DataFrame =
    g.edges.filter(col("src") === node && col("label") === label && col("dir") === forward)
      .select(col("dst"))

  /** First adjacent node or None (reference adjacentNodeByAttr, FastAccess.hs:587-599). */
  def adjacentNodeByAttr(g: PropertyGraph, node: Long, label: Int, forward: Boolean = true): Option[Long] =
    adjacentNodesByAttr(g, node, label, forward).orderBy("dst").limit(1)
      .collect().headOption.map(_.getLong(0))

  /** All edge labels leaving a node (reference allChildEdges, Enum.hs:301-309). */
  def allChildEdges(g: PropertyGraph, node: Long): DataFrame =
    g.edges.filter(col("src") === node).select(col("label"), col("dir"))

  /** All target nodes of a node (reference allChildNodes, Enum.hs:312-321). */
  def allChildNodes(g: PropertyGraph, node: Long): DataFrame =
    g.edges.filter(col("src") === node).select(col("dst"))

  /** Per-(node,label) edge count (reference adjacentEdgeCount, Enum.hs:495-506). */
  def adjacentEdgeCount(g: PropertyGraph, node: Long, label: Int): Long =
    g.edges.filter(col("src") === node && col("label") === label).count()

  /** Enumerated adjacency slice: the start..end-th (1-based, inclusive)
    * adjacent (label, dst) entries of a node in deterministic (label, dst)
    * order — the reference's enum-index interleaved slot reads
    * (adjacentEdgesByIndex/adjacentNodesByIndex, Enum.hs:458-492). The
    * contiguous-slot physical encoding disappears; the ordinal is a
    * row_number over the node's partition. */
  def adjacentByIndex(g: PropertyGraph, node: Long, start: Int, end: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("label"), col("dst"), col("dir"))
    g.edges.filter(col("src") === node)
      .withColumn("idx", row_number().over(w))
      .filter(col("idx").between(start, end))
      .select(col("idx"), col("label"), col("dst"))
  }

  /** Keep only edges whose target satisfies a predicate (reference
    * filterEdgesTo, FastAccess.hs:411-420). */
  def filterEdgesTo(g: PropertyGraph, pred: Column => Column): PropertyGraph =
    g.copy(edges = g.edges.filter(pred(col("dst"))))

  /** The labels valid for a node per its range (reference allAttrBases, Enum.hs:342-349). */
  def allAttrBases(g: PropertyGraph, node: Long): Seq[Int] =
    g.ranges.find(_.contains(node)).map(_.validEdgeLabels).getOrElse(Nil)

  /** Range label of a node (reference nodeLabel, FastAccess.hs:654-667). */
  def nodeLabel(g: PropertyGraph, node: Long): Option[Int] =
    g.ranges.find(_.contains(node)).map(_.nodeLabel)

  // ---- mutations (return new graphs / diffs) -------------------------------

  /** Insert edges; `overwrite=true` upserts per (src,dst,label,dir) keeping
    * the new row (reference insertNodeEdge's overwrite flag,
    * FastAccess.hs:283-290); otherwise appends (multi-edges allowed, like
    * the reference's counter-bumped extra slots).
    *
    * The new version is the old one's edges plus the new rows, unioned as
    * whole subtrees, so a cached `g` is read from its cache. An upsert
    * whose input is a small local relation ([[localRows]]) turns its keys
    * into a predicate on the old edges, with no job; any other input keeps
    * the anti-join.
    */
  def insertEdges(g: PropertyGraph, newEdges: DataFrame, overwrite: Boolean = false): PropertyGraph = {
    val rows = newEdges.select(edgeCols.map(col): _*)
    val key = Seq("src", "dst", "label", "dir")
    g.copy(edges =
      if (!overwrite) UnionOf.byName(g.edges, rows)
      else localRows(rows) match {
        case Some(rs) => UnionOf.byName(minus(g.edges, key, rs.map(keyOf(_, key))), rows)
        case None => UnionOf.byName(g.edges.join(rows, key, "left_anti"), rows)
      })
  }

  /** Overlay additional labels onto existing edges — the reference sums
    * orthogonal attr words onto one physical edge (insertNodeEdges overlay,
    * FastAccess.hs:271-278). Here: OR the bits into attrMask for matching
    * (src,dst) rows.
    */
  def overlayLabels(g: PropertyGraph, pairs: DataFrame, mask: Long): PropertyGraph = {
    // distinct: a duplicate (src,dst) in pairs must not multiply edge rows
    // through the left join
    val tagged = g.edges.join(
      pairs.select(col("src"), col("dst")).distinct().withColumn("__hit", lit(true)),
      Seq("src", "dst"), "left")
    g.copy(edges = tagged.withColumn("attrMask",
        when(col("__hit"), col("attrMask").bitwiseOR(lit(mask))).otherwise(col("attrMask")))
      .drop("__hit"))
  }

  /** Delete all edges touching the given nodes (reference deleteNode(s),
    * FastAccess.hs:351-358 — the Spark form is an actual implementation
    * where the reference's was effectively a stub). */
  def deleteNodes(g: PropertyGraph, nodes: Seq[Long]): PropertyGraph =
    g.copy(edges = g.edges.filter(!col("src").isin(nodes: _*) && !col("dst").isin(nodes: _*)),
      explicitNodes = g.explicitNodes.map(_.filter(!col("id").isin(nodes: _*))))

  /** Delete specific (src,dst) edges in both directions (reference
    * deleteEdge(s), FastAccess.hs:364-376). `pairs` that are a small local
    * relation ([[localRows]]) become one predicate over both orientations,
    * with no job; other pairs keep the two anti-joins. */
  def deleteEdges(g: PropertyGraph, pairs: DataFrame): PropertyGraph = {
    val both = Seq("src", "dst")
    localRows(pairs.select(both.map(col): _*)) match {
      case Some(rows) =>
        val keys = rows.map(keyOf(_, both))
        g.copy(edges = minus(g.edges, both, keys ++ keys.map(k => Row(k(1), k(0)))))
      case None =>
        val back = pairs.select(col("dst").as("src"), col("src").as("dst"))
        g.copy(edges = g.edges
          .join(pairs.select("src", "dst"), both, "left_anti")
          .join(back, both, "left_anti"))
    }
  }

  /** Rewrite the target of one (node,label) slot (reference updateNodeEdges,
    * FastAccess.hs:442-449). The slot and its new target are data: a
    * one-entry map literal, held by the generated code as a reference
    * object and looked up by `struct(src, label)`, so a write with new
    * values compiles no new classes (literals in `when` would). */
  def updateEdgeTarget(g: PropertyGraph, src: Long, label: Int, newDst: Long): PropertyGraph = {
    val slot = Seq("src", "label")
    val keyType = StructType(slot.map(c => StructField(c, edgeTypes(c), nullable = false)))
    val target = Literal(ArrayBasedMapData(Array[Any](InternalRow(src, label)), Array[Any](newDst)),
      MapType(keyType, LongType, valueContainsNull = false))
    val moved = ColumnOf(GetMapValue(target, ColumnOf.expr(keyStruct(slot))))
    g.copy(edges = g.edges.withColumn("dst", coalesce(moved, col("dst"))))
  }

  /** Re-map node ids through a column function, preserving edges (reference
    * mapNodeJ re-maps node-attr bits of every key, FastAccess.hs:516-547).
    */
  def mapNodes(g: PropertyGraph, f: Column => Column): PropertyGraph =
    g.copy(edges = g.edges.withColumn("src", f(col("src"))).withColumn("dst", f(col("dst"))),
      explicitNodes = g.explicitNodes.map(_.withColumn("id", f(col("id")))))

  /** Merge two graphs (reference union, FastAccess.hs:378-393): union of
    * edge sets, deduped on the full key — the reference's insert-smaller-
    * into-bigger trick is irrelevant under a shuffle-dedup. Ranges must
    * agree (the reference unions same-schema graphs too).
    */
  def union(a: PropertyGraph, b: PropertyGraph): PropertyGraph = {
    // attrMask bits OR together — the model contract for overlay labels
    // (Model.scala: overlay insert ORs masks; the reference SUMS disjoint
    // attr words). max() would silently drop bits one side carries.
    val merged = a.edges.unionByName(b.edges)
      .groupBy(col("src"), col("dst"), col("label"), col("dir"))
      .agg(expr("bit_or(attrMask)").as("attrMask"))
      .select(edgeCols.map(col): _*)
    PropertyGraph(merged, if (a.ranges.nonEmpty) a.ranges else b.ranges,
      a.nodeProps.orElse(b.nodeProps), a.edgeProps.orElse(b.edgeProps))
  }

  /** Edge-set intersection — absent in the reference (SURVEY §2.4), free
    * relationally. attrMask keeps the left side's bits. */
  def intersect(a: PropertyGraph, b: PropertyGraph): PropertyGraph =
    a.copy(edges = a.edges.join(
      b.edges.select("src", "dst", "label", "dir"), Seq("src", "dst", "label", "dir"), "left_semi"))

  /** Edge-set difference (a minus b) — absent in the reference, free. */
  def except(a: PropertyGraph, b: PropertyGraph): PropertyGraph =
    a.copy(edges = a.edges.join(
      b.edges.select("src", "dst", "label", "dir"), Seq("src", "dst", "label", "dir"), "left_anti"))

  // ---- rich property tier (the reference's LMDB databases,
  //      JudyGraph.hs:99-113, as parquet-backed DataFrames) ---------------

  /** Rich node properties for one id (reference lookupNode, JudyGraph.hs:403-410). */
  def lookupNode(g: PropertyGraph, id: Long): Option[org.apache.spark.sql.Row] =
    g.nodeProps.flatMap(_.filter(col("id") === id).limit(1).collect().headOption)

  /** Rich edge properties for one (src,dst) (reference lookupEdge, JudyGraph.hs:412-417). */
  def lookupEdge(g: PropertyGraph, src: Long, dst: Long): Option[org.apache.spark.sql.Row] =
    g.edgeProps.flatMap(_.filter(col("src") === src && col("dst") === dst).limit(1).collect().headOption)

  /** Upsert node property rows by id (reference insertNode(s), JudyGraph.hs:134-157). */
  def insertNodeProps(g: PropertyGraph, props: DataFrame): PropertyGraph = {
    val merged = g.nodeProps match {
      case Some(old) => UnionOf.byName(old.join(props.select("id"), Seq("id"), "left_anti"), props)
      case None => props
    }
    g.copy(nodeProps = Some(merged))
  }

  /** Append rich edge-property rows for (src,dst) pairs — the peer of
    * [[insertNodeProps]]. The reference APPENDS each rich edge label to the
    * (src,dst) pair's label list (insertNodeEdge P-variant,
    * JudyGraph.hs:227-235) and lookupEdge returns the accumulated list
    * (JudyGraph.hs:412-417); relationally the list is the multiset of rows
    * per (src,dst), so append = union without dedup.
    */
  def insertEdgeProps(g: PropertyGraph, props: DataFrame): PropertyGraph = {
    val merged = g.edgeProps match {
      case Some(old) => UnionOf.byName(old, props, allowMissingColumns = true)
      case None => props
    }
    g.copy(edgeProps = Some(merged))
  }

  /** All rich edge-property rows of one (src,dst) pair, in insert order
    * semantics (the reference's label list) — the multi-row generalization
    * of [[lookupEdge]]. */
  def lookupEdgeProps(g: PropertyGraph, src: Long, dst: Long): DataFrame = {
    val base = g.edgeProps.getOrElse(
      g.edges.select(col("src"), col("dst")).limit(0))
    base.filter(col("src") === src && col("dst") === dst)
  }

  /** All property-carrying node ids / all property rows (reference
    * nodeKeys/nodeElems, JudyGraph.hs:419-429). */
  def nodeKeys(g: PropertyGraph): DataFrame =
    g.nodeProps.map(_.select("id")).getOrElse(g.nodes.select("id").limit(0))
  def nodeElems(g: PropertyGraph): DataFrame =
    g.nodeProps.getOrElse(g.nodes.limit(0))

  /** Enrich a query layer with node properties — the relational form of the
    * reference's fetch-rich-label-on-demand (JudyGraph.hs:403-417). */
  def withNodeProps(g: PropertyGraph, layer: DataFrame, idCol: String): DataFrame =
    g.nodeProps.fold(layer)(p =>
      layer.join(p.withColumnRenamed("id", idCol), Seq(idCol), "left"))

  /** Sanity check from the reference (`attrOverlap`, FastAccess.hs:727-742):
    * within a node class, no two valid edge labels may collide. In the bit
    * model a collision is two labels with equal ids. Returns colliding ids.
    */
  def attrOverlap(g: PropertyGraph): Seq[Int] =
    g.ranges.flatMap(r => r.validEdgeLabels.groupBy(identity).collect { case (l, xs) if xs.size > 1 => l }).distinct

  // ---- debug renderers (reference FastAccess.hs:697-747) ------------------

  /** Zero-padded 16-digit hex of a 64-bit word (reference showHex,
    * FastAccess.hs:698-705) — bit-level eyeballing of packed edge words. */
  def showHex(w: Long): String = f"${w}%016x"

  /** Zero-padded 8-digit hex of the low 32 bits (reference showHex32,
    * FastAccess.hs:708-715). */
  def showHex32(w: Int): String = f"${w}%08x"

  /** "back " marker when the edge row is a mirror entry — the reference
    * tags the edgeBackward bit (backLabel, FastAccess.hs:745-747); here
    * direction is the `dir` column, false = backward. */
  def backLabel(dir: Boolean): String = if (!dir) "back " else ""
}
