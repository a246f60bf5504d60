package graftbench

import graft.cypher.{Dsl, NodeSpec, Pat, Query}
import graft.model.PropertyGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.XXH64

/** A pattern query the benchmark can both hand to graft (as a Cypher-EDSL
  * pattern) and evaluate itself over an in-memory adjacency map. Every
  * step walks rightward (`--| e |-->`). */
sealed trait NodeQ
case object AnyQ extends NodeQ
final case class LabelQ(label: Int) extends NodeQ
final case class IdQ(id: Long) extends NodeQ

final case class StepQ(attrs: Seq[Int], orths: Seq[Int], to: NodeQ) {
  def orthMask: Long = orths.foldLeft(0L)((m, l) => m | (1L << l))
  def matches(label: Int, mask: Long): Boolean =
    (attrs.nonEmpty && attrs.contains(label)) ||
      (orths.nonEmpty && mask != 0L && (mask & ~orthMask) == 0L) ||
      (attrs.isEmpty && orths.isEmpty)
}

/** A left-to-right path pattern from `start`, answered as graft's flat
  * paths. */
final case class GraphQ(start: NodeQ, steps: Seq[StepQ]) {
  def pattern: Pat = {
    import Dsl._
    def spec(n: NodeQ): NodeSpec = n match {
      case AnyQ => anyNode
      case LabelQ(l) => labels(l)
      case IdQ(i) => nodes32(i)
    }
    steps.foldLeft(Pat.of(spec(start))) { (p, s) =>
      p --| edge(s.attrs.map(attr) ++ s.orths.map(orth): _*) |--> spec(s.to)
    }
  }
  /** Output columns in hash order: n0, e1_label, n1, … */
  def columns: Seq[String] = Seq("n0") ++ steps.indices.flatMap(i => Seq(s"e${i + 1}_label", s"n${i + 1}"))
}

/** Order-independent result digest: row count, XOR of per-row xxhash64
  * and the sum of those hashes mod 2^20 (the XOR alone would cancel
  * duplicate rows). */
final case class Digest(rows: Long, xor: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, xor ^ o.xor, sum + o.sum)
}
object Digest {
  val Zero: Digest = Digest(0, 0, 0)
  val Seed = 42L
  private val M = 1L << 20
  def of(df: DataFrame, cols: Seq[String]): Digest = {
    val h = xxhash64(cols.map(col): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(pmod(h, lit(M)))).head()
    Digest(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }
  def one(h: Long): Digest = Digest(1, h, ((h % M) + M) % M)
  def hLong(v: Long, seed: Long): Long = XXH64.hashLong(v, seed)
  def hInt(v: Int, seed: Long): Long = XXH64.hashInt(v, seed)
}

/** Runs a [[GraphQ]] through graft and digests the result; the digest is
  * computed inside the caller's `cypher` layer call because graft's
  * results are lazy until materialized. */
object GraphRun {
  def digest(g: PropertyGraph, q: GraphQ): Digest = Digest.of(Query.paths(g, q.pattern), q.columns)
}

/** In-memory reference over an edge list: adjacency by source, with the
  * same edge predicate and target restriction as graft's left-to-right
  * evaluator. */
final class RefGraph(src: Array[Long], dst: Array[Long], label: Array[Int], mask: Array[Long],
    ranges: Seq[graft.model.RangeDef]) {
  private val bySrc: Map[Long, Array[Int]] = {
    val m = scala.collection.mutable.HashMap[Long, scala.collection.mutable.ArrayBuilder.ofInt]()
    var i = 0
    while (i < src.length) { m.getOrElseUpdate(src(i), new scala.collection.mutable.ArrayBuilder.ofInt) += i; i += 1 }
    m.map { case (k, b) => k -> b.result() }.toMap
  }
  private def inLabel(id: Long, l: Int): Boolean =
    ranges.exists(r => r.nodeLabel == l && id >= r.start && id < r.start + r.len)
  private def admits(n: NodeQ, id: Long): Boolean = n match {
    case AnyQ => true
    case LabelQ(l) => inLabel(id, l)
    case IdQ(i) => id == i
  }
  private def out(id: Long, s: StepQ): Iterator[Int] =
    bySrc.getOrElse(id, Array.emptyIntArray).iterator.filter(i => s.matches(label(i), mask(i)))
  private def starts(n: NodeQ): Iterator[Long] = n match {
    case IdQ(i) => Iterator(i)
    case _ => bySrc.keysIterator.filter(admits(n, _))
  }

  def digest(q: GraphQ): Digest = {
    var d = Digest.Zero
    def walk(node: Long, k: Int, h: Long): Unit =
      if (k == q.steps.length) d = d + Digest.one(h)
      else {
        val s = q.steps(k)
        out(node, s).foreach { i =>
          if (admits(s.to, dst(i))) walk(dst(i), k + 1, Digest.hLong(dst(i), Digest.hInt(label(i), h)))
        }
      }
    starts(q.start).foreach(n => walk(n, 0, Digest.hLong(n, Digest.Seed)))
    d
  }
}
