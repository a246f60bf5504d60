package graft.analytics

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import graft.model.PropertyGraph
import org.apache.spark.{HashPartitioner, Partitioner}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.{KryoSerializer, Serializer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The superstep runtime under [[GraphAnalytics.personalizedPageRank]],
  * [[GraphAnalytics.hits]] and [[GraphAnalytics.labelPropagation]] — the
  * *Pregelix* shape (Vertex ⋈ Msg over co-partitioned relations plus a
  * map-side-combined group-by) at the RDD layer GraphX already uses.
  *
  *  - **Index.** One shuffle per call hash-partitions every vertex (edge
  *    endpoints, `explicitNodes` and the caller's extra ids) with its
  *    forward out- and in-neighbor lists, parallel edges kept. The
  *    partition count comes from the exact edge count by the
  *    [[GraphAnalytics.superstepPartitions]] rule that `toGraphX` uses.
  *  - **State.** (vertex, value) pairs, each in its vertex's partition of
  *    the same [[ByVertex]] partitioner, so a round is one narrow zip of
  *    state ⋈ index and ONE message shuffle whose reduce side lands every
  *    message in its target's partition — the next state, already placed.
  *  - **No per-call codegen.** Per-call values (a seed, a reset, an L1
  *    total) ride in closures as data; the only Catalyst plans are the
  *    edge and node scans and the output projection, identical across
  *    calls, so a new source compiles nothing.
  *  - **Materialize once, then release.** [[run]] hands the body a fresh
  *    index and unpersists it on return; the body's [[output]] is the one
  *    eager local cut, so the returned frame never reads the index. Nothing
  *    is memoized across calls.
  *
  * Rounds run lazily: the job that first needs a round's result runs it
  * (each round one shuffle stage), so without an intermediate total every
  * round runs inside the cut's one job. Sums combine in shuffle-fetch
  * order, like the DataFrame aggregates they replace: doubles agree
  * across partition counts to rounding, integer results bit for bit. */
private[analytics] final class Fixpoint private (spark: SparkSession,
    parts: RDD[Fixpoint.Part], partitioner: Partitioner, serializer: Serializer) {
  import Fixpoint.Part

  /** Initial state: `f(v)` for every indexed vertex it defines. */
  def init[S](f: Long => Option[S]): RDD[(Long, S)] =
    parts.mapPartitions(_.flatMap(p => p.ids.iterator.flatMap(v => f(v).map(v -> _))),
      preservesPartitioning = true)

  /** One superstep: every state entry `send`s messages (given its index
    * partition and local position), each task combines its messages per
    * key and ships ONE block per target partition, and the reduce side
    * merges the blocks into the partition of each key's vertex (a `Long`
    * key, or the first field of a pair key). One shuffle of at most p²
    * records, whatever the message count. */
  def step[S, K: ClassTag, M: ClassTag](state: RDD[(Long, S)])(
      send: (Part, Int, S) => Iterator[(K, M)])(combine: (M, M) => M): RDD[(K, M)] = {
    val byVertex = partitioner // a local: the closures must not capture this runtime
    val blocks = parts.zipPartitions(state) { (pi, si) =>
      val p = pi.next()
      val out = Array.fill(byVertex.numPartitions)(new Fixpoint.Combiner[K, M](combine))
      si.foreach { case (v, s) =>
        send(p, p.pos(v), s).foreach { case (k, m) => out(byVertex.getPartition(k)).add(k, m) }
      }
      out.iterator.zipWithIndex.collect { case (c, j) if !c.isEmpty => j -> c.block }
    }
    new ShuffledRDD[Int, (Array[K], Array[M]), (Array[K], Array[M])](blocks,
        new HashPartitioner(byVertex.numPartitions))
      .setSerializer(serializer)
      .mapPartitions { it =>
        val c = new Fixpoint.Combiner[K, M](combine)
        it.foreach { case (_, (ks, ms)) => ks.indices.foreach(i => c.add(ks(i), ms(i))) }
        c.iterator
      }
  }

  /** Totals of co-placed vectors, in ONE job: per-partition partial sums,
    * added in partition order. */
  def totals(xs: RDD[(Long, Double)]*): Seq[Double] =
    perPartition(xs)(it => it.foldLeft(0.0)(_ + _._2)).collect().toSeq.transpose.map(_.sum)

  /** The result: one `row` per indexed vertex, given its value in each of
    * `states` (if any), cut eagerly — one job for every round not yet run. */
  def output[S](schema: StructType, states: RDD[(Long, S)]*)(
      row: (Long, List[Option[S]]) => Row): DataFrame = {
    val rows = parts.zip(perPartition(states)(mutable.LongMap.from(_))).flatMap {
      case (p, ms) => p.ids.iterator.map(v => row(v, ms.map(_.get(v))))
    }
    spark.createDataFrame(rows, schema).localCheckpoint(true)
  }

  /** One list per partition: `f` of each vector's partition, in order. */
  private def perPartition[S, T: ClassTag](xs: Seq[RDD[(Long, S)]])(
      f: Iterator[(Long, S)] => T): RDD[List[T]] =
    xs.map(_.mapPartitions(it => Iterator(List(f(it)))))
      .reduce((a, b) => a.zip(b).map { case (x, y) => x ::: y })
}

private[analytics] object Fixpoint {
  /** One index partition: its vertices, each one's forward out-neighbors
    * and in-neighbors (parallel edges repeated), and id → position. */
  final class Part(val ids: Array[Long], val out: Array[Array[Long]],
      val in: Array[Array[Long]], val pos: mutable.LongMap[Int]) extends Serializable {
    /** Undirected neighbors of position i: each other vertex once,
      * self-loops dropped. */
    lazy val und: Array[Array[Long]] =
      Array.tabulate(ids.length)(i => (out(i) ++ in(i)).distinct.filter(_ != ids(i)))
  }

  /** Routes a vertex key, or a (vertex, x) pair key, to the vertex's
    * hash partition — so a message keyed by (target, label) lands where
    * the target's state lives. */
  private final class ByVertex(val numPartitions: Int) extends Partitioner {
    def getPartition(key: Any): Int = {
      val v = key match { case v: Long => v; case (v: Long, _) => v }
      Math.floorMod(java.lang.Long.hashCode(v), numPartitions)
    }
    override def equals(o: Any): Boolean = o match {
      case b: ByVertex => b.numPartitions == numPartitions
      case _ => false
    }
    override def hashCode: Int = numPartitions
  }

  /** Messages combined per key (`combine` is associative and
    * commutative); a block is the two parallel arrays a task ships. */
  private final class Combiner[K: ClassTag, M: ClassTag](combine: (M, M) => M) {
    private val h = new java.util.HashMap[K, M]()
    private val merge: java.util.function.BiFunction[M, M, M] = (a, b) => combine(a, b)
    def add(k: K, m: M): Unit = h.merge(k, m, merge)
    def isEmpty: Boolean = h.isEmpty
    def block: (Array[K], Array[M]) = {
      val (ks, ms) = (new Array[K](h.size), new Array[M](h.size))
      var i = 0
      h.forEach((k, m) => { ks(i) = k; ms(i) = m; i += 1 })
      (ks, ms)
    }
    def iterator: Iterator[(K, M)] = h.entrySet.iterator.asScala.map(e => e.getKey -> e.getValue)
  }

  private final val Out: Byte = 0
  private final val In: Byte = 1
  private final val Lone: Byte = 2

  /** Build the index of `g`'s forward edges (plus `extraIds`), run
    * `body` on it, and release it. `body` must return [[Fixpoint.output]]'s
    * materialized frame. */
  def run(g: PropertyGraph, extraIds: Seq[Long] = Nil)(body: Fixpoint => DataFrame): DataFrame = {
    val sc = g.spark.sparkContext
    val byVertex = new ByVertex(GraphAnalytics.superstepPartitions(GraphAnalytics.dirEdgeCount(g)))
    val serializer = new KryoSerializer(sc.getConf)
    val fwd = g.edges.filter(col("dir")).select(col("src"), col("dst"))
      .queryExecution.toRdd.flatMap { r =>
        val (s, d) = (r.getLong(0), r.getLong(1))
        Iterator((s, (d, Out)), (d, (s, In)))
      }
    val lone = (g.explicitNodes.map(_.select(col("id")).queryExecution.toRdd.map(_.getLong(0))).toSeq :+
      sc.parallelize(extraIds, 1)).map(_.map(v => (v, (v, Lone))))
    val parts = new ShuffledRDD[Long, (Long, Byte), (Long, Byte)](sc.union(fwd +: lone), byVertex)
      .setSerializer(serializer)
      .mapPartitions(it => Iterator(build(it)), preservesPartitioning = true)
      .persist(StorageLevel.MEMORY_ONLY)
    try body(new Fixpoint(g.spark, parts, byVertex, serializer))
    finally parts.unpersist(blocking = false)
  }

  private def build(it: Iterator[(Long, (Long, Byte))]): Part = {
    val pos = new mutable.LongMap[Int]
    val ids = mutable.ArrayBuilder.make[Long]
    val out = mutable.ArrayBuffer[mutable.ArrayBuilder[Long]]()
    val in = mutable.ArrayBuffer[mutable.ArrayBuilder[Long]]()
    it.foreach { case (v, (w, kind)) =>
      val i = pos.getOrElseUpdate(v, {
        ids += v; out += mutable.ArrayBuilder.make[Long]; in += mutable.ArrayBuilder.make[Long]
        out.length - 1
      })
      if (kind == Out) out(i) += w else if (kind == In) in(i) += w
    }
    new Part(ids.result(), out.map(_.result()).toArray, in.map(_.result()).toArray, pos)
  }
}
