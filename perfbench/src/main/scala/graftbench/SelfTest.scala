package graftbench

import scala.util.hashing.MurmurHash3

/** The benchmark's own tests (`python3 perfbench/run.py --selftest`):
  *  - the same seed gives the same inputs, op sequence and answer digests,
  *    and another seed gives other inputs;
  *  - the checkers flag a corrupted answer (a read that lost one edge, an
  *    exact-dedup result that lost one id);
  *  - a short traced run emits every metric; run.py compares the emitted
  *    names and units with BENCHMARK.json.
  * Prints PASS/FAIL lines and the emitted result lines (`EMIT<trace> …`);
  * exits 1 on any failure. */
object SelfTest {
  private var failures = 0
  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Exception => println(s"  $name threw $e"); false }
    println(s"${if (ok) "PASS" else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def inputsHash(seed: Long): Int = {
    val g = Gen.mailGraph(seed, GraphMix.Nodes, GraphMix.Edges)
    val c = Gen.corpus(Gen.stream(seed, "corpus"), 0L, 200, 20, 10)
    val v = Gen.vectors(Gen.stream(seed, "vectors"), 0L, 300, 10, 16, 5)
    val e = Gen.eventBatches(Gen.stream(seed, "events"), 3, 50, 20, Pipeline.GapNanos)
    MurmurHash3.orderedHash(Seq(
      MurmurHash3.arrayHash(g.src), MurmurHash3.arrayHash(g.dst), MurmurHash3.arrayHash(g.label),
      MurmurHash3.arrayHash(g.mask), MurmurHash3.orderedHash(c.docs.map(_.text)),
      MurmurHash3.orderedHash(v.vecs.map(x => MurmurHash3.arrayHash(x))),
      MurmurHash3.orderedHash(e.flatten.toSeq)))
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new java.io.File(opts.getOrElse("work", "perfbench/out/selftest"))
    val cores = opts.getOrElse("cores", "4").toInt
    val spark = Bench.session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val off = new Tracer(spark, enabled = false)

    check("same seed gives the same inputs")(inputsHash(11) == inputsHash(11))
    check("another seed gives other inputs")(inputsHash(11) != inputsHash(12))

    // the first six ops of a graph cycle are reads
    def graphRun(tag: String): GraphMix = {
      val w = new GraphMix(Ctx(spark, off, 11L, new java.io.File(work, tag)))
      w.setup(0)
      (0 until 6).foreach(w.run)
      w
    }
    val a = graphRun("a")
    val b = graphRun("b")
    check("same seed gives the same op sequence and answer digests")(
      a.asked.map(x => (x._1, x._2, x._3)) == b.asked.map(x => (x._1, x._2, x._3)))
    check("graph checker accepts graft's answers")(a.check(6).wrong.isEmpty)

    check("graph checker flags a read that lost one edge") {
      // a one-hop read with an answer; drop one of the edges it returned
      val (i, op @ GraphMix.Read(q), _) = a.asked.find {
        case (_, GraphMix.Read(q), d: Digest) => q.steps.length == 1 && q.steps.head.attrs.nonEmpty && d.rows > 0
        case _ => false
      }.get
      val anchor = q.start.asInstanceOf[IdQ].id
      import org.apache.spark.sql.functions._
      val edge = a.liveGraph.edges.filter(col("src") === anchor && col("label") === q.steps.head.attrs.head)
        .limit(1).collect().head
      val damaged = a.liveGraph.copy(edges = a.liveGraph.edges.filter(
        !(col("src") === edge.getLong(0) && col("dst") === edge.getLong(1) && col("label") === edge.getInt(2))))
      a.asked(a.asked.indexWhere(_._1 == i)) = (i, op, GraphRun.digest(damaged, q))
      a.check(6).wrong == Set(i)
    }
    Seq(a, b).foreach(_.release())

    check("pipeline checker flags an exact-dedup result that lost one id") {
      val p = new Pipeline(Ctx(spark, off, 11L, new java.io.File(work, "p")))
      p.setup(0)
      (0 until 4).foreach(p.run) // three micro-batches, then the text stages
      val clean = p.check(4).wrong.isEmpty
      val j = p.outputs.indexWhere(_._2 == "exact")
      val (i, k, bb, out) = p.outputs(j)
      val ids = out.asInstanceOf[Set[Long]]
      p.outputs(j) = (i, k, bb, ids - ids.head)
      val flagged = p.check(4).wrong.contains(i)
      p.release()
      clean && ids.nonEmpty && flagged
    }

    // a short traced run: every metric, both views
    val r = Bench.run("pipeline", 11L, 1.0, trace = true, cores, new java.io.File(work, "run"), None, _ => ())
    check("a traced run is correct")(r.correct && r.failed == 0)
    println("EMIT0 " + Bench.json(r, trace = false))
    println("EMIT1 " + Bench.json(r, trace = true))

    println(s"selftest: ${if (failures == 0) "all passed" else s"$failures failed"}")
    if (failures > 0) sys.exit(1)
  }
}
