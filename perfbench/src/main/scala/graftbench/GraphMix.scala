package graftbench

import graft.analytics.GraphAnalytics
import graft.cypher.{Dsl, Query}
import graft.model.PropertyGraph
import graft.operators.GraphOps
import graft.sources.Loaders
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Graph traffic over a generated labeled mail multigraph, one op kind
  * per graph layer mechanism (16 ops per cycle):
  *  - cheap reads (12): 1-hop ×6 and orth-overlay 1-hop ×6 from
  *    Zipf-drawn mid-degree anchors;
  *  - dearer reads (2): a 3-hop from such an anchor and a 2-hop from a
  *    hub anchor;
  *  - one write transaction: insertEdges, deleteEdges, updateEdgeTarget,
  *    createMem + applyDiff and a bulk fromEdgeTextFile ingest, then the
  *    new live version is re-cached and read back, and the read must
  *    reflect every write;
  *  - an iterative algorithm (personalizedPageRank) on a second, smaller
  *    generated graph.
  * So the median falls inside the cheap class and p90 between the
  * 3-hop read and PageRank, the write being the one slower op. A 2-hop
  * from a mid-degree anchor is left out: its latency straddles the cheap
  * class's and would move the median from run to run. */
final class GraphMix(ctx: Ctx) extends Workload {
  import GraphMix._
  import Gen.{MAILED, CC}
  private val spark = ctx.spark
  private val tr = ctx.tracer
  import spark.implicits._

  val cycle: IndexedSeq[String] = Vector(
    "hop1", "orth1", "hop1", "orth1", "hub2", "hop1", "orth1", "write",
    "hop1", "orth1", "hop3", "hop1", "orth1", "ppr", "hop1", "orth1")

  private var mg: Gen.MailGraph = _
  private var ag: Gen.MailGraph = _
  private var base: PropertyGraph = _
  private var g: PropertyGraph = _
  private var small: PropertyGraph = _
  /** The cached version reads run against (the base until a write). */
  private var live: PropertyGraph = _
  private var planMax = 0L
  /** Timed ops in order: what was asked and what graft answered. */
  private[graftbench] val asked = ArrayBuffer[(Int, Op, Any)]()
  private[graftbench] def liveGraph: PropertyGraph = g

  def setup(rep: Int): Unit = {
    mg = Gen.mailGraph(ctx.seed, Nodes, Edges)
    val files = Gen.writeEdgeFiles(mg, ctx.dir(s"graph_$rep"))
    val loaded = tr.call("sources", "fromEdgeTextFile") {
      Gen.EdgeLabels.map(l => Loaders.fromEdgeTextFile(spark, files(l), l, mirror = false, mg.ranges))
        .reduce((a, b) => a.copy(edges = a.edges.unionByName(b.edges)))
    }
    val pairs = mg.overlay.toSeq.toDF("src", "dst")
    val overlaid = tr.call("operators", "overlayLabels")(GraphOps.overlayLabels(loaded, pairs, 1L << CC))
    base = tr.callN("sources", "cache") { val c = overlaid.cached(); c.edges.count(); c }(_ => Edges.toLong)
    g = base
    live = base

    ag = Gen.mailGraph(ctx.seed + 7919L, SmallNodes, SmallEdges)
    val f = new java.io.File(ctx.dir(s"small_$rep"), "edges.txt")
    val out = new java.io.PrintWriter(f)
    try ag.src.indices.foreach(i => out.println(s"${ag.src(i)} ${ag.dst(i)}")) finally out.close()
    small = tr.callN("sources", "fromEdgeTextFile") {
      val c = Loaders.fromEdgeTextFile(spark, f.getPath, MAILED, mirror = false, ag.ranges).cached()
      c.edges.count(); c
    }(_ => SmallEdges.toLong)
  }

  def release(): Unit = {
    if (live ne base) live.edges.unpersist(blocking = true)
    Seq(base, small).filter(_ != null).foreach(_.edges.unpersist(blocking = true))
  }

  /** Anchors: nodes with 4 to 24 out-edges (so reads of one kind do
    * comparable work on every seed), split by a seeded coin into a
    * warm-up pool (1/8) and a timed pool, each Zipf(0.8)-ordered, so
    * warm-up ops never pre-answer a timed one. */
  private lazy val pools: (Array[Long], Array[Long]) = {
    val deg = new Array[Int](Nodes)
    mg.src.foreach(s => deg(s.toInt) += 1)
    val r = Gen.stream(ctx.seed, "pools")
    val (warm, timed) = Gen.shuffled(Nodes, r).filter(v => deg(v) >= 4 && deg(v) <= 24).partition(_ => r.nextInt(8) == 0)
    (warm.map(_.toLong), timed.map(_.toLong))
  }
  private lazy val zipfWarm = new Gen.Zipf(pools._1.length, 0.8)
  private lazy val zipfTimed = new Gen.Zipf(pools._2.length, 0.8)

  /** 3-hop reads draw their anchors among the 50 most popular of each
    * pool that have a match on the generated graph: an empty match
    * returns early, and mixing those in would make the kind bimodal. */
  private lazy val hop3Pools: Map[Boolean, Array[Long]] = {
    val ref = new RefGraph(mg.src, mg.dst, mg.label, mg.mask, mg.ranges)
    Seq(true, false).map { warm =>
      warm -> (if (warm) pools._1 else pools._2).take(50).filter(a => ref.digest(hop3(a)).rows > 0)
    }.toMap
  }

  private def hop3(a: Long): GraphQ = GraphQ(IdQ(a), Seq(StepQ(Seq(MAILED), Nil, AnyQ), StepQ(Seq(CC), Nil, AnyQ),
    StepQ(Seq(MAILED), Nil, LabelQ(0))))
  private lazy val baseOut: Map[Long, Array[Int]] =
    mg.src.indices.groupBy(i => mg.src(i)).map { case (k, v) => k -> v.toArray }

  /** Op `kind` drawn from stream `r` (the warm-up or the timed one). */
  private def draw(kind: String, r: java.util.SplittableRandom, warm: Boolean, tag: String): Op = {
    def a = if (warm) pools._1(zipfWarm.draw(r)) else pools._2(zipfTimed.draw(r))
    def lbl = Gen.EdgeLabels(r.nextInt(3))
    def rnd = r.nextInt(Nodes).toLong
    kind match {
      case "hop1" => Read(GraphQ(IdQ(a), Seq(StepQ(Seq(MAILED), Nil, AnyQ))))
      case "orth1" => Read(GraphQ(IdQ(a), Seq(StepQ(Nil, Seq(MAILED, CC), AnyQ))))
      case "hop3" =>
        val pool = hop3Pools(warm)
        Read(hop3(pool(r.nextInt(pool.length))))
      case "hub2" =>
        val h = if (warm) mg.hubs(2) else mg.hubs(3 + r.nextInt(5))
        Read(GraphQ(IdQ(h), Seq(StepQ(Seq(MAILED), Nil, AnyQ), StepQ(Seq(CC), Nil, LabelQ(1)))))
      case "write" =>
        val x = a
        val out = baseOut.getOrElse(x, Array.emptyIntArray)
        Write(x, tag,
          insert = Array.fill(100) { val l = lbl; E(if (r.nextBoolean()) x else rnd, rnd, l, 1L << l) },
          delete = Array.fill(math.min(5, out.length))(out(r.nextInt(out.length))).map(i => (mg.src(i), mg.dst(i))).distinct,
          update = (x, lbl, rnd),
          bulk = Array.fill(1000)(E(if (r.nextInt(4) == 0) x else rnd, rnd, MAILED, 1L << MAILED)))
      case "ppr" => Ppr(ag.src(r.nextInt(ag.size)))
    }
  }

  private def ask(op: Op): Any = op match {
    case Read(q) => tr.callN("cypher", "paths")(GraphRun.digest(g, q))(_.rows)
    case w: Write => write(w)
    case Ppr(s) => ppr(s)
  }

  /** Apply the write transaction through graft, re-cache the new live
    * version (the materialization is the writes' cost: graft's writes are
    * lazy) and read its anchor back. Returns the read's digest. */
  private def write(w: Write): Digest = {
    val ins = w.insert.toSeq.map(e => (e.src, e.dst, e.label, e.mask, true)).toDF("src", "dst", "label", "attrMask", "dir")
    g = tr.call("operators", "insertEdges")(GraphOps.insertEdges(g, ins))
    g = tr.call("operators", "deleteEdges")(GraphOps.deleteEdges(g, w.delete.toSeq.toDF("src", "dst")))
    g = tr.call("operators", "updateEdgeTarget")(GraphOps.updateEdgeTarget(g, w.update._1, w.update._2, w.update._3))
    locally {
      import Dsl._
      val diff = tr.call("cypher", "createMem")(Query.createMem(g, nodes32(w.anchor) --| edge(attr(MAILED)) |--> anyNode))
      g = tr.call("cypher", "applyDiff")(Query.applyDiff(g, diff))
    }
    val f = new java.io.File(ctx.dir("bulk"), s"${w.tag}.txt")
    val out = new java.io.PrintWriter(f)
    try w.bulk.foreach(e => out.println(s"${e.src} ${e.dst}")) finally out.close()
    val loaded = tr.call("sources", "fromEdgeTextFile")(Loaders.fromEdgeTextFile(spark, f.getPath, MAILED, mirror = false, mg.ranges))
    g = tr.call("operators", "insertEdges")(GraphOps.insertEdges(g, loaded.edges))
    planMax = math.max(planMax, planNodesOf(g))
    val old = live
    g = tr.callN("operators", "recache") { val c = g.cached(); c.edges.count() -> c }(_._1)._2
    live = g
    if (old ne base) old.edges.unpersist(blocking = false)
    tr.callN("cypher", "paths")(GraphRun.digest(g, readBack(w.anchor)))(_.rows)
  }

  private def ppr(source: Long): Map[Long, Double] =
    tr.callN("analytics", "personalizedPageRank") {
      GraphAnalytics.personalizedPageRank(small, source, PprIters)
        .select(col("id"), col("rank")).as[(Long, Double)].collect().toMap
    }(_.size.toLong)

  private def planNodesOf(p: PropertyGraph): Long = { var n = 0L; p.edges.queryExecution.logical.foreach(_ => n += 1); n }
  override def planNodes: Long = planMax

  def warmUp(): Unit = {
    val t = System.nanoTime()
    System.err.println(f"[perfbench] 3-hop anchor pools: warm-up ${hop3Pools(true).length}, timed ${hop3Pools(false).length}" +
      f" in ${(System.nanoTime() - t) / 1e9}%.2f s")
    val took = cycle.distinct.zipWithIndex.map { case (k, j) =>
      val a = System.nanoTime()
      ask(draw(k, Gen.stream(ctx.seed, s"warm$j"), warm = true, s"warm$j"))
      f"$k ${(System.nanoTime() - a) / 1e9}%.2f s"
    }
    System.err.println(s"[perfbench] warm-up ops: ${took.mkString(", ")}")
    if (live ne base) live.edges.unpersist(blocking = true)
    g = base
    live = base
    planMax = 0L
  }

  def run(i: Int): Unit = {
    val op = draw(cycle(i % cycle.length), Gen.stream(ctx.seed, s"op$i"), warm = false, s"op$i")
    asked += ((i, op, ask(op)))
  }

  def check(n: Int): Check = {
    val state = new RefEdges(mg)
    var ref = state.graph(mg.ranges)
    val algoRef = new AlgoRef(ag)
    val wrong = asked.filter { case (_, op, got) =>
      op match {
        case Read(q) => ref.digest(q) != got
        case w: Write =>
          state.apply(w)
          ref = state.graph(mg.ranges)
          ref.digest(readBack(w.anchor)) != got
        case Ppr(s) => !AlgoRef.agree(got.asInstanceOf[Map[Long, Double]], algoRef.ppr(s, PprIters))
      }
    }.map(_._1).toSet
    val finalGot = Digest.of(g.edges, Seq("src", "dst", "label", "attrMask", "dir"))
    val finalOk = state.digestAll == finalGot
    Check(wrong ++ (if (finalOk || n == 0) Set.empty[Int] else Set(n - 1)),
      notes = (if (finalOk) Nil else Seq(s"final graph digest $finalGot != reference ${state.digestAll}")) ++
        wrong.toSeq.sorted.take(5).map(i => s"wrong answer: op $i ${asked.find(_._1 == i).map(_._2)}"))
  }
}

object GraphMix {
  /** 10k nodes in two ranges; 80k edges keep a write transaction within
    * a few seconds while the top hubs still hold ~10^4 out-edges. */
  val Nodes = 10000
  val Edges = 80000
  val SmallNodes = 2000
  val SmallEdges = 12000
  val PprIters = 4

  final case class E(src: Long, dst: Long, label: Int, mask: Long)
  sealed trait Op
  final case class Read(q: GraphQ) extends Op
  final case class Write(anchor: Long, tag: String, insert: Array[E], delete: Array[(Long, Long)],
      update: (Long, Int, Long), bulk: Array[E]) extends Op
  final case class Ppr(source: Long) extends Op

  def readBack(a: Long): GraphQ = GraphQ(IdQ(a), Seq(StepQ(Nil, Nil, AnyQ)))

  /** The reference edge list: each write replayed on plain arrays. */
  final class RefEdges(mg: Gen.MailGraph) {
    private val src = ArrayBuffer.from(mg.src); private val dst = ArrayBuffer.from(mg.dst)
    private val label = ArrayBuffer.from(mg.label); private val mask = ArrayBuffer.from(mg.mask)

    private def keep(p: Int => Boolean): Unit = {
      val idx = src.indices.filter(p)
      def sel[T](b: ArrayBuffer[T]): Unit = { val x = idx.map(b(_)); b.clear(); b ++= x }
      sel(src); sel(dst); sel(label); sel(mask)
    }
    private def add(e: E): Unit = { src += e.src; dst += e.dst; label += e.label; mask += e.mask }

    /** Same order as [[GraphMix.write]]. createMem's diff adds traversed
      * (a, dst, MAILED) triples not yet present and replaces the rows in
      * their (src, label) slot; the bulk file's rows carry the MAILED bit. */
    def apply(w: Write): Unit = {
      w.insert.foreach(add)
      val p = w.delete.toSet
      keep(i => !p.contains((src(i), dst(i))) && !p.contains((dst(i), src(i))))
      val (a, l, x) = w.update
      src.indices.foreach(i => if (src(i) == a && label(i) == l) dst(i) = x)
      val existing = src.indices.map(i => (src(i), dst(i), label(i))).toSet
      val fresh = src.indices.filter(i => src(i) == w.anchor && label(i) == Gen.MAILED)
        .map(i => (w.anchor, dst(i), Gen.MAILED)).toSet.filterNot(existing.contains)
      if (fresh.nonEmpty) {
        val slots = fresh.map(t => (t._1, t._3))
        val gone = src.indices.filter(i => slots.contains((src(i), label(i)))).map(i => (src(i), dst(i), label(i))).toSet
        keep(i => !gone.contains((src(i), dst(i), label(i))))
        fresh.foreach(t => add(E(t._1, t._2, t._3, 0L)))
      }
      w.bulk.foreach(add)
    }

    def graph(ranges: Seq[graft.model.RangeDef]): RefGraph =
      new RefGraph(src.toArray, dst.toArray, label.toArray, mask.toArray, ranges)

    def digestAll: Digest = src.indices.iterator.map { i =>
      Digest.one(Digest.hInt(1, Digest.hLong(mask(i), Digest.hInt(label(i),
        Digest.hLong(dst(i), Digest.hLong(src(i), Digest.Seed))))))
    }.foldLeft(Digest.Zero)(_ + _)
  }

  /** Single-threaded reference for personalizedPageRank. */
  final class AlgoRef(ag: Gen.MailGraph) {
    private val verts: Array[Long] = (ag.src ++ ag.dst).distinct.sorted

    /** Sparse power iteration from the seed: per round every edge passes
      * (1 - reset) * rank(src) / outdeg(src); the seed adds `reset`. */
    def ppr(s: Long, iters: Int, reset: Double = 0.15): Map[Long, Double] = {
      val deg = ag.src.groupBy(identity).map { case (k, v) => k -> v.length }
      var pr = Map(s -> 1.0)
      for (_ <- 1 to iters) {
        val next = mutable.Map[Long, Double]().withDefaultValue(0.0)
        ag.src.indices.foreach { i => pr.get(ag.src(i)).foreach(r => next(ag.dst(i)) += (1.0 - reset) * (r / deg(ag.src(i)))) }
        next(s) += reset
        pr = next.toMap
      }
      (verts.toSeq :+ s).distinct.map(v => v -> pr.getOrElse(v, 0.0)).toMap
    }

  }

  object AlgoRef {
    /** Same vertices, scores within 1e-9 relative (only the summation
      * order differs). */
    def agree(got: Map[Long, Double], want: Map[Long, Double]): Boolean =
      got.keySet == want.keySet &&
        got.forall { case (k, v) => math.abs(v - want(k)) <= 1e-9 * math.max(1.0, math.abs(want(k))) }
  }
}
