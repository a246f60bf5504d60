package graftbench

import graft.functions.{Dedup, Similarity, TextAnalysis}
import graft.streaming.EventStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable

/** LLM-data-pipeline traffic, no graph. Three op kinds:
  *  - `stream` (6 of 8 ops per cycle): one event micro-batch file into a
  *    running sessionization stream, so the median is a micro-batch from
  *    the middle of that class and p90 lies between the two batch ops;
  *  - `text`: a corpus batch through the Gopher filter, exact dedup,
  *    MinHash near-dup pairs and their clusters, each stage fed by the
  *    previous one;
  *  - `vectors`: an embedding batch through cosine near-dup pairs and LSH
  *    top-k.
  * One cycle outlasts the 10 s run on a 4-core box; a run long enough for
  * more cycles repeats the timed batch. Recall is checked against planted
  * truth (near-dups) and brute force (top-k). */
final class Pipeline(ctx: Ctx) extends Workload {
  import Pipeline._
  private val spark = ctx.spark
  private val tr = ctx.tracer
  import spark.implicits._

  val cycle: IndexedSeq[String] = Vector("stream", "stream", "stream", "text", "stream", "stream", "stream", "vectors")

  private var corpora: Array[Gen.Corpus] = _
  private var docDfs: Array[DataFrame] = _
  private var vecs: Array[Gen.Vectors] = _
  private var vecDfs: Array[DataFrame] = _
  private var events: Array[Array[Gen.Ev]] = _
  private var stream: StreamingQuery = _
  private var streamDir: java.io.File = _
  private var sinkName: String = _
  private var pushed = 0

  // per batch: the previous stage's output feeds the next stage
  private val kept = mutable.Map[Int, Set[Long]]()
  private val exactDrops = mutable.Map[Int, Set[Long]]()
  private val nearPairs = mutable.Map[Int, Set[(Long, Long)]]()
  private[graftbench] val outputs = mutable.ArrayBuffer[(Int, String, Int, Any)]()

  def setup(rep: Int): Unit = {
    val r = Gen.stream(ctx.seed, "corpus")
    corpora = Array.tabulate(Batches)(b => Gen.corpus(r, b * 100000L, DocsPerBatch, Families, Junk))
    val rv = Gen.stream(ctx.seed, "vectors")
    vecs = Array.tabulate(Batches)(b => Gen.vectors(rv, b * 100000L, VecsPerBatch, PlantedVecPairs, Dim, Clusters))
    events = Gen.eventBatches(Gen.stream(ctx.seed, "events"), EventBatches, EventsPerBatch, Users, GapNanos)
    docDfs = corpora.map(c => c.docs.toSeq.map(d => (d.id, d.text)).toDF("doc_id", "text").cache())
    vecDfs = vecs.map(v => v.ids.indices.map(i => (v.ids(i), v.vecs(i).toSeq)).toDF("vec_id", "embedding").cache())
    (docDfs ++ vecDfs).foreach(_.count())
    streamDir = ctx.dir(s"events_$rep")
    sinkName = s"sessions_${ctx.seed}_$rep"
    pushed = 0
    stream = startStream(streamDir, sinkName)
    push()
  }

  def release(): Unit = {
    if (stream != null) stream.stop()
    if (docDfs != null) (docDfs ++ vecDfs).foreach(_.unpersist(blocking = true))
  }

  private def startStream(dir: java.io.File, name: String): StreamingQuery =
    tr.call("streaming", "sessionizeStream") {
      val src = spark.readStream.schema(EventStreams.eventSchema).json(dir.getPath)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
        .as[EventStreams.Event]
      EventStreams.sessionizeStream(src, GapNanos, watermarkDelay = "1 second")
        .writeStream.outputMode("append").format("memory").queryName(name).start()
    }

  /** Atomically add micro-batch file `k` (or a sentinel) and wait for the
    * stream to process it. */
  private def writeBatch(dir: java.io.File, tag: String, evs: Seq[Gen.Ev]): Unit = {
    val tmp = new java.io.File(dir.getParentFile, s".$tag.json.tmp")
    val out = new java.io.PrintWriter(tmp)
    try evs.foreach(e => out.println(
      s"""{"event_id":${e.eventId},"ts":${e.ts},"user_id":${e.user},"event_type":"${e.kind}","value":${e.value},"props":null}"""))
    finally out.close()
    require(tmp.renameTo(new java.io.File(dir, s"$tag.json")), s"could not publish $tag")
  }

  private def push(): Unit = {
    require(pushed < events.length, "event batches exhausted")
    writeBatch(streamDir, f"b$pushed%04d", events(pushed).toSeq)
    pushed += 1
    tr.call("streaming", "processAllAvailable")(stream.processAllAvailable())
  }

  private def docsOf(b: Int, ids: Option[Set[Long]]): DataFrame =
    ids.fold(docDfs(b))(s => docDfs(b).join(s.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi"))

  /** Stage `kind` on batch `b`, returning its collected output. */
  private def stage(kind: String, b: Int): Any = kind match {
    case "filters" =>
      val keep = tr.callN("functions", "gopherFilters") {
        TextAnalysis.gopherFilters(docDfs(b)).select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
      }(_.size.toLong)
      kept(b) = keep.collect { case (id, true) => id }.toSet
      keep
    case "exact" =>
      val drops = tr.callN("functions", "exactDuplicates") {
        Dedup.exactDuplicates(docsOf(b, kept.get(b))).select("doc_id").as[Long].collect().toSet
      }(_.size.toLong)
      exactDrops(b) = drops
      drops
    case "minhash" =>
      val survivors = kept.get(b).map(_ -- exactDrops.getOrElse(b, Set.empty))
      val pairs = tr.callN("functions", "minHashDuplicates") {
        Dedup.minHashDuplicates(docsOf(b, survivors), MinHashThreshold)
          .select("doc_a", "doc_b").as[(Long, Long)].collect().map(p => (p._1 min p._2, p._1 max p._2)).toSet
      }(_.size.toLong)
      nearPairs(b) = pairs
      pairs
    case "clusters" =>
      val pairs = nearPairs.getOrElse(b, Set.empty).toSeq.toDF("doc_a", "doc_b")
      tr.callN("functions", "duplicateClusters") {
        Dedup.duplicateClusters(pairs).select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
      }(_.size.toLong)
    case "cosine" =>
      tr.callN("functions", "cosineDuplicates") {
        Similarity.cosineDuplicates(vecDfs(b), CosineThreshold, Dim).select("doc_a", "doc_b", "cosine")
          .as[(Long, Long, Double)].collect().toSeq
      }(_.size.toLong)
    case "lshtopk" =>
      val queries = vecDfs(b).filter(col("vec_id") % (VecsPerBatch / Queries) === 0)
      tr.callN("functions", "lshTopK") {
        Similarity.lshTopK(queries, vecDfs(b), K, Dim, bits = LshBits, tables = LshTables, probes = LshProbes)
          .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSeq
      }(_.size.toLong)
  }

  private val stages = Map("text" -> Seq("filters", "exact", "minhash", "clusters"), "vectors" -> Seq("cosine", "lshtopk"))

  /** The stream is already warm: each set-up runs its first micro-batch. */
  def warmUp(): Unit = {
    stages.values.flatten.foreach(k => stage(k, Batches - 1))
    kept.clear(); exactDrops.clear(); nearPairs.clear()
  }

  def run(i: Int): Unit = {
    val k = cycle(i % cycle.length)
    if (k == "stream") push()
    else {
      val b = (i / cycle.length) % (Batches - 1)
      stages(k).foreach(st => outputs += ((i, st, b, stage(st, b))))
    }
  }

  def check(n: Int): Check = {
    val wrong = mutable.Set[Int]()
    var plantedFound = 0; var planted = 0
    var annHit = 0; var annAll = 0
    for ((i, k, b, out) <- outputs) {
      val c = corpora(b); val v = vecs(b)
      k match {
        case "filters" =>
          val got = out.asInstanceOf[Map[Long, Boolean]]
          if (got != c.docs.map(d => d.id -> Gopher.keep(d.text)).toMap || c.junk.exists(got.getOrElse(_, true))) wrong += i
        case "exact" =>
          val in = c.docs.filter(d => kept.get(b).forall(_.contains(d.id)))
          val want = in.groupBy(_.text).values.flatMap(ds => ds.map(_.id).sorted.drop(1)).toSet
          if (out != want) wrong += i
        case "minhash" =>
          val got = out.asInstanceOf[Set[(Long, Long)]]
          val alive = c.docs.map(_.id).toSet.filter(id => kept.get(b).forall(_.contains(id)) && !exactDrops.getOrElse(b, Set.empty).contains(id))
          val truth = c.nearPairs.filter(p => alive(p._1) && alive(p._2))
          plantedFound += (got & truth).size; planted += truth.size
          if (!got.subsetOf(c.nearPairs)) wrong += i
        case "clusters" =>
          val got = out.asInstanceOf[Map[Long, Long]]
          if (got != unionFind(nearPairs.getOrElse(b, Set.empty))) wrong += i
        case "cosine" =>
          val got = out.asInstanceOf[Seq[(Long, Long, Double)]]
          val idx = v.ids.zipWithIndex.toMap
          val pairs = got.map(p => (p._1 min p._2, p._1 max p._2)).toSet
          plantedFound += (pairs & v.planted).size; planted += v.planted.size
          val exactOk = got.forall { case (a, bb, cs) =>
            val t = Gen.cosine(v.vecs(idx(a)), v.vecs(idx(bb))); t >= CosineThreshold - 1e-9 && math.abs(t - cs) < 1e-6 }
          if (!exactOk || !pairs.subsetOf(v.planted)) wrong += i
        case "lshtopk" =>
          val got = out.asInstanceOf[Seq[(Long, Long)]].groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
          val queries = v.ids.filter(_ % (VecsPerBatch / Queries) == 0)
          for (q <- queries) {
            val qi = (q - v.ids(0)).toInt
            val exact = v.ids.indices.filter(_ != qi).sortBy(j => -Gen.cosine(v.vecs(qi), v.vecs(j))).take(K).map(v.ids(_)).toSet
            annHit += (got.getOrElse(q, Set.empty) & exact).size; annAll += exact.size
          }
      }
    }
    val dedupRecall = if (planted == 0) 1.0 else plantedFound.toDouble / planted
    val annRecall = if (annAll == 0) 1.0 else annHit.toDouble / annAll
    val recallWrong = outputs.collect {
      case (i, "minhash" | "cosine", _, _) if dedupRecall < DedupRecallFloor => i
      case (i, "lshtopk", _, _) if annRecall < AnnRecallFloor => i
    }
    // flush: two far-future sentinels close every open session
    val last = events(pushed - 1).map(_.ts).max
    writeBatch(streamDir, "s1", Seq(Gen.Ev(-1L, last + 100 * GapNanos, -1L, "view", 0.0)))
    stream.processAllAvailable()
    writeBatch(streamDir, "s2", Seq(Gen.Ev(-2L, last + 101 * GapNanos, -2L, "view", 0.0)))
    stream.processAllAvailable()
    val streamed = spark.table(sinkName).filter(col("user_id") >= 0)
      .select("user_id", "start_ts", "end_ts", "n_events", "n_purchases").as[(Long, Long, Long, Int, Int)].collect()
    val streamOk = streamed.sorted.toSeq == sessions(events.take(pushed).flatten.toSeq).sorted
    val lastStream = (0 until n).filter(j => cycle(j % cycle.length) == "stream").lastOption
    Check((wrong ++ recallWrong ++ (if (streamOk) Nil else lastStream.toSeq)).toSet,
      Map("dedup_recall" -> dedupRecall, "ann_recall" -> annRecall),
      Seq(f"dedup_recall $dedupRecall%.4f (floor $DedupRecallFloor), ann_recall $annRecall%.4f (floor $AnnRecallFloor)," +
        s" stream sessions ${if (streamOk) "match" else "DIFFER from"} the reference over $pushed micro-batches"))
  }
}

object Pipeline {
  /** The last batch is the warm-up's; timed cycles rotate over the rest. */
  val Batches = 2
  val DocsPerBatch = 400
  val Families = 40
  val Junk = 30
  val VecsPerBatch = 1000
  val PlantedVecPairs = 30
  val Clusters = 25
  val Dim = 64
  val Queries = 25
  val K = 10
  val LshBits = 8
  val LshTables = 8
  val LshProbes = 1
  val EventBatches = 80
  val EventsPerBatch = 400
  val Users = 150
  val GapNanos: Long = 1800L * 1000000000L
  val MinHashThreshold = 0.6
  val CosineThreshold = 0.9
  /** Planted-truth floors below which an approximate tier counts as a
    * wrong answer. */
  val DedupRecallFloor = 0.9
  val AnnRecallFloor = 0.6

  /** Cluster id = smallest doc id of each connected component. */
  def unionFind(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) => val ra = find(a); val rb = find(b); if (ra != rb) parent(ra max rb) = ra min rb }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** Gap sessionization of a user's ts-ordered events. */
  def sessions(evs: Seq[Gen.Ev]): Seq[(Long, Long, Long, Int, Int)] =
    evs.groupBy(_.user).toSeq.flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e.ts, e.eventId))
      val out = mutable.ArrayBuffer[(Long, Long, Long, Int, Int)]()
      var start = sorted.head.ts; var last = start; var n = 0; var p = 0
      for (e <- sorted) {
        if (n > 0 && e.ts - last > GapNanos) { out += ((u, start, last, n, p)); start = e.ts; n = 0; p = 0 }
        last = e.ts; n += 1; if (e.kind == "purchase") p += 1
      }
      out += ((u, start, last, n, p))
      out
    }

  /** The Gopher document rules at graft's defaults, evaluated directly. */
  object Gopher {
    private val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    private def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def keep(t: String): Boolean = {
      val words = t.trim.split("\\s+").filter(_.nonEmpty)
      val n = words.length
      if (n == 0) return false
      val mean = r6(words.map(_.length).sum.toDouble / n)
      val sym = r6((t.count(_ == '#') + (t.length - t.replace("...", "").length) / 3).toDouble / n)
      val alpha = r6(words.count(_.exists(_.isLetter)).toDouble / n)
      val lines = t.split("\n").map(_.trim).filter(_.nonEmpty)
      val bullet = if (lines.isEmpty) 0.0 else r6(lines.count(l => l.startsWith("-") || l.startsWith("*")).toDouble / lines.length)
      val ell = if (lines.isEmpty) 0.0 else r6(lines.count(_.endsWith("...")).toDouble / lines.length)
      val lower = words.map(_.toLowerCase).toSet
      n >= 50 && n <= 100000 && mean >= 3.0 && mean <= 10.0 && sym <= 0.1 && alpha >= 0.8 &&
        bullet <= 0.9 && ell <= 0.3 && stop.count(lower.contains) >= 2
    }
  }
}
