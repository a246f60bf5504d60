package graftbench

import java.util.SplittableRandom

/** Seeded input generation. Every input a workload hands to graft comes
  * from here, derived from the run's `--seed`; each consumer draws from
  * its own named stream so adding a draw to one stream never shifts
  * another. */
object Gen {

  /** Independent stream for (seed, name): SplitMix64 finalizer over the
    * seed and the name's hash. */
  def stream(seed: Long, name: String): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + name.hashCode.toLong * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  /** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  def shuffled(n: Int, r: SplittableRandom): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }

  // ---- labeled mail multigraph ---------------------------------------------

  val MAILED = 1
  val CC = 2
  val REPLIED = 3
  val EdgeLabels: Seq[Int] = Seq(MAILED, CC, REPLIED)

  /** Directed edge rows (all `dir = true`, no mirrors), with the orth
    * overlay applied: every row whose (src, dst) pair is in `overlay`
    * carries the CC bit on top of its own label bit. */
  final case class MailGraph(nodes: Int, src: Array[Long], dst: Array[Long], label: Array[Int],
      overlay: Array[(Long, Long)], hubs: Array[Long]) {
    def size: Int = src.length
    lazy val mask: Array[Long] = {
      val ov = overlay.toSet
      Array.tabulate(size)(i =>
        (1L << label(i)) | (if (ov.contains((src(i), dst(i)))) 1L << CC else 0L))
    }
    /** Two node classes over [0, nodes/2) and [nodes/2, nodes). */
    def ranges: Seq[graft.model.RangeDef] = Seq(
      graft.model.RangeDef(0, nodes / 2, 0, EdgeLabels),
      graft.model.RangeDef(nodes / 2, nodes - nodes / 2, 1, EdgeLabels))
  }

  /** Skewed labeled multigraph shaped like the reference's mail benchmark:
    * sources are Zipf(1.0)-drawn through a seeded permutation, so the top
    * few ids hold 10^4-10^5 out-edges at 10k nodes / 370k edges (the
    * dense-node design point); destinations are uniform. Labels split
    * 60/30/10 over MAILED/CC/REPLIED; 5% of MAILED pairs also carry the
    * CC orth bit. */
  def mailGraph(seed: Long, nodes: Int, edges: Int): MailGraph = {
    val r = stream(seed, "graph")
    val perm = shuffled(nodes, r)
    val zipf = new Zipf(nodes, 1.0)
    val src = new Array[Long](edges)
    val dst = new Array[Long](edges)
    val label = new Array[Int](edges)
    var i = 0
    while (i < edges) {
      src(i) = perm(zipf.draw(r)).toLong
      dst(i) = r.nextInt(nodes).toLong
      val u = r.nextDouble()
      label(i) = if (u < 0.6) MAILED else if (u < 0.9) CC else REPLIED
      i += 1
    }
    val ro = stream(seed, "overlay")
    val overlay = (0 until edges).iterator
      .filter(j => label(j) == MAILED && ro.nextDouble() < 0.05)
      .map(j => (src(j), dst(j))).toArray.distinct
    MailGraph(nodes, src, dst, label, overlay, perm.take(8).map(_.toLong))
  }

  /** One text file per label in the reference's `src dst` line format. */
  def writeEdgeFiles(g: MailGraph, dir: java.io.File): Map[Int, String] = {
    dir.mkdirs()
    EdgeLabels.map { l =>
      val f = new java.io.File(dir, s"edges_$l.txt")
      val out = new java.io.BufferedWriter(new java.io.FileWriter(f), 1 << 20)
      try {
        var i = 0
        while (i < g.size) {
          if (g.label(i) == l) { out.write(g.src(i).toString); out.write(' '); out.write(g.dst(i).toString); out.write('\n') }
          i += 1
        }
      } finally out.close()
      l -> f.getPath
    }.toMap
  }

  // ---- text corpus with planted near-duplicate families --------------------

  final case class Doc(id: Long, text: String)
  /** `nearPairs`: planted (a, b) near-duplicate pairs, a < b; `junk`:
    * planted documents a quality filter must drop. */
  final case class Corpus(docs: Array[Doc], nearPairs: Set[(Long, Long)], junk: Set[Long])

  /** Fixed vocabulary: common English function words first (so prose
    * carries them), then pseudo-words of 3-9 letters. */
  private val vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    Array("the", "of", "and", "to", "that", "with", "be", "have") ++ Array.fill(2992) {
      val len = 3 + r.nextInt(7)
      new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
  }

  private def sentence(r: SplittableRandom, zipf: Zipf, words: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < words) {
      if (i > 0) sb.append(' ')
      val w = vocab(zipf.draw(r))
      sb.append(if (i == 0) w.capitalize else w)
      i += 1
    }
    sb.append('.').toString
  }

  /** `families` originals, each with 1-3 near copies (3-6% of words
    * replaced) and occasionally an exact copy; `junk` documents that are
    * too short, symbol-heavy or numeric; the rest are unique documents.
    * Ids start at `firstId` so batches never collide. */
  def corpus(r: SplittableRandom, firstId: Long, docs: Int, families: Int, junk: Int): Corpus = {
    val zipf = new Zipf(vocab.length, 0.9)
    val out = scala.collection.mutable.ArrayBuffer[Doc]()
    val pairs = scala.collection.mutable.Set[(Long, Long)]()
    var id = firstId
    def body(): Array[String] =
      Array.fill(8 + r.nextInt(6))(sentence(r, zipf, 8 + r.nextInt(8))).mkString(" ").split(' ')
    for (_ <- 0 until families) {
      val orig = body()
      val family = scala.collection.mutable.ArrayBuffer[Long]()
      out += Doc(id, orig.mkString(" ")); family += id; id += 1
      for (_ <- 0 until 1 + r.nextInt(3)) {
        val copy = orig.clone()
        val edits = math.max(1, (orig.length * (0.03 + 0.03 * r.nextDouble())).toInt)
        for (_ <- 0 until edits) copy(r.nextInt(copy.length)) = vocab(r.nextInt(vocab.length))
        out += Doc(id, copy.mkString(" ")); family += id; id += 1
      }
      if (r.nextDouble() < 0.3) {
        out += Doc(id, orig.mkString(" ")); family += id; id += 1
      }
      for (a <- family; b <- family if a < b) pairs += ((a, b))
    }
    val junkIds = scala.collection.mutable.Set[Long]()
    for (j <- 0 until junk) {
      val text = j % 3 match {
        case 0 => sentence(r, zipf, 5 + r.nextInt(20))
        case 1 => body().map(w => if (r.nextInt(4) == 0) "#" + w else w).mkString(" ")
        case _ => Array.fill(60 + r.nextInt(40))(r.nextInt(100000).toString).mkString(" ")
      }
      out += Doc(id, text); junkIds += id; id += 1
    }
    while (out.size < docs) { out += Doc(id, body().mkString(" ")); id += 1 }
    Corpus(out.toArray, pairs.toSet, junkIds.toSet)
  }

  // ---- embedding vectors with planted near-duplicate pairs ----------------

  final case class Vectors(ids: Array[Long], vecs: Array[Array[Double]], planted: Set[(Long, Long)])

  /** `n` unit vectors in `dim` dimensions around `clusters` random
    * centres (cosine to the centre about 0.85, so nearest neighbours are
    * well separated from the rest); `pairs` of them get a near copy
    * (small Gaussian perturbation, cosine about 0.98). */
  def vectors(r: SplittableRandom, firstId: Long, n: Int, pairs: Int, dim: Int, clusters: Int): Vectors = {
    def unit(v: Array[Double]): Array[Double] = { val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s) }
    def gauss(): Double = {
      var u = 0.0; var v = 0.0; var s = 0.0
      while ({ u = 2 * r.nextDouble() - 1; v = 2 * r.nextDouble() - 1; s = u * u + v * v; s >= 1 || s == 0 }) ()
      u * math.sqrt(-2 * math.log(s) / s)
    }
    val base = n - pairs
    val centres = Array.fill(clusters)(unit(Array.fill(dim)(gauss())))
    val vs = Array.fill(base) { val c = centres(r.nextInt(clusters)); unit(c.map(x => x + 0.075 * gauss())) }
    val planted = scala.collection.mutable.Set[(Long, Long)]()
    val copies = (0 until pairs).map { i =>
      val src = vs(i * (base / pairs))
      planted += ((firstId + i * (base / pairs), firstId + base + i))
      unit(src.map(x => x + 0.025 * gauss()))
    }
    Vectors(Array.tabulate(n)(i => firstId + i), vs ++ copies, planted.toSet)
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  // ---- event micro-batches --------------------------------------------------

  final case class Ev(eventId: Long, ts: Long, user: Long, kind: String, value: Double)

  /** `batches` ts-ordered micro-batches of `perBatch` events over `users`
    * users; batch k+1's events are all later than batch k's, so a 1 s
    * watermark never drops a real event. Gaps between a user's events are
    * drawn so that some exceed the session gap. */
  def eventBatches(r: SplittableRandom, batches: Int, perBatch: Int, users: Int,
      gapNanos: Long): Array[Array[Ev]] = {
    val kinds = Array("view", "view", "view", "click", "cart", "purchase")
    var t = 1700000000L * 1000000000L
    var id = 0L
    Array.fill(batches) {
      val span = gapNanos * 3
      val evs = Array.fill(perBatch) {
        id += 1
        Ev(id, t + (r.nextDouble() * span).toLong, r.nextInt(users).toLong,
          kinds(r.nextInt(kinds.length)), math.floor(r.nextDouble() * 10000) / 100)
      }.sortBy(e => (e.ts, e.eventId))
      t += span + 1
      evs
    }
  }
}
