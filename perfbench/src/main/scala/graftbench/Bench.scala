package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** What a workload needs from the harness. `work` is a working directory
  * owned by this run. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long, work: java.io.File) {
  def dir(name: String): java.io.File = { val d = new java.io.File(work, name); d.mkdirs(); d }
}

/** Outcome of the out-of-window output check: indexes of timed ops whose
  * answer was wrong, plus named figures (recalls) and notes. */
final case class Check(wrong: Set[Int], figures: Map[String, Double] = Map.empty, notes: Seq[String] = Nil)

/** A closed-loop workload: one client thread issues op after op with no
  * think time. Ops are issued in whole cycles, so every run executes the
  * same mix of op kinds. */
trait Workload {
  /** Op kinds of one cycle, in issue order. */
  def cycle: IndexedSeq[String]
  /** Generate inputs into a fresh copy named by `rep`, ingest them and
    * fill the caches the timed ops read. */
  def setup(rep: Int): Unit
  /** Run one op of every kind, drawn from the warm-up stream (disjoint
    * from the timed one), so the JIT and Spark's codegen are warm. */
  def warmUp(): Unit
  /** Drop what [[setup]] holds before the next set-up repetition. */
  def release(): Unit
  /** Run timed op `i`, recording what [[check]] needs. */
  def run(i: Int): Unit
  /** Check the answers of timed ops 0 until `n` against the reference. */
  def check(n: Int): Check
  /** Logical-plan node count of the live graph version (0 without one). */
  def planNodes: Long = 0L
}

object Bench {
  val SetupReps = 3

  def session(cores: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("graft-perfbench")
    .config("spark.sql.shuffle.partitions", cores.toLong)
    .config("spark.default.parallelism", cores.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "graph" => new GraphMix(ctx)
    case "pipeline" => new Pipeline(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of the samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
      endToEnd: Seq[(String, Double, String)], perLayer: Seq[(String, Double, String)],
      detail: Map[String, String])

  /** One run: set up `SetupReps` times (the last set-up stays live), then
    * issue timed ops for at least `seconds`, finishing the cycle in
    * progress, then check every answer outside the timed window. */
  def run(name: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
      work: java.io.File, spans: Option[java.io.File], log: String => Unit): Result = {
    val s0 = System.nanoTime()
    val spark = session(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, seed, work)
    val wl = workload(name, ctx)
    try {
      val setups = (0 until SetupReps).map { rep =>
        if (rep > 0) wl.release()
        if (rep == SetupReps - 1) tracer.startRecording()
        val t = System.nanoTime()
        wl.setup(rep)
        (System.nanoTime() - t) / 1e9
      }
      val w0 = System.nanoTime()
      tracer.record(false)
      wl.warmUp()
      tracer.record(true)
      val warmS = (System.nanoTime() - w0) / 1e9
      val readyS = (System.nanoTime() - s0) / 1e9
      log(f"setup reps: ${setups.map(x => f"$x%.3f").mkString(" ")} s, warm-up $warmS%.3f s, " +
        f"session start $sessionS%.3f s, ready after $readyS%.3f s")

      val cpu0 = Witness.processCpuS
      val gc0 = Witness.gcS
      val ticks0 = Witness.cpuTicks
      val load0 = Witness.load1
      Witness.resetHeapPeak()
      val lat = ArrayBuffer[Double]()
      val thrown = scala.collection.mutable.Set[Int]()
      val kinds = wl.cycle
      val t0 = System.nanoTime()
      var i = 0
      while ((System.nanoTime() - t0) / 1e9 < seconds || i % kinds.length != 0) {
        val k = kinds(i % kinds.length)
        val a = System.nanoTime()
        try tracer.op(i.toLong, k)(wl.run(i))
        catch { case e: Exception => thrown += i; log(s"op $i ($k) threw: $e") }
        lat += (System.nanoTime() - a) / 1e9
        i += 1
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = Witness.processCpuS - cpu0
      val gc = Witness.gcS - gc0
      val ticks1 = Witness.cpuTicks
      val heapPeak = Witness.heapPeakMb
      // storage still referenced, not blocks whose owners are garbage the
      // context cleaner has yet to reach
      System.gc(); Thread.sleep(500)
      val cached = Witness.cachedMb(spark)
      val plan = wl.planNodes
      val n = i

      val chk = wl.check(n)
      val failedOps = thrown ++ chk.wrong
      chk.notes.foreach(log)
      val byKind = (0 until n).groupBy(j => kinds(j % kinds.length))
      log(s"timed ops: $n in ${"%.3f".format(wall)} s; per kind: " + byKind.toSeq.sortBy(_._1).map {
        case (k, js) => f"$k x${js.size} p50 ${median(js.map(lat(_)))}%.4f s" }.mkString(", "))

      val e2e = Seq(
        ("setup_s", median(setups), "s"),
        ("ops_per_s", n / wall, "ops/s"),
        ("op_p50_s", median(lat.toSeq), "s"),
        ("op_p90_s", quantile(lat.toSeq, 0.9), "s"),
        ("cpu_s_per_op", cpu / n, "s"),
        ("cached_mb", cached, "MiB"))
      val layer = if (!trace) Nil else {
        val perLayer = for (l <- Layers.all; (m, u) <- Layers.metrics)
          yield (s"$l.$m", tracer.acc(l).values(m), u)
        val self = tracer.selfTimes()
        val worstGap = if (self.isEmpty) 0.0 else self.map { case (_, w, ls, ov) => math.abs(w - ls.values.sum - ov) }.max
        log(f"span accounting: ${self.size} ops, max |wall - (layer self + overhead)| = $worstGap%.6f s")
        perLayer ++ Seq(
          ("operators.plan_nodes", plan.toDouble, "count"),
          ("jvm.gc_s", gc, "s"),
          ("jvm.heap_peak_mb", heapPeak, "MiB"),
          ("host.steal_pct", Witness.stealPct(ticks0, ticks1), "%"),
          ("bench.overhead_s", self.map(_._4).sum, "s"),
          ("trace.ops_per_s", n / wall, "ops/s"),
          ("run.failed_frac", failedOps.size.toDouble / n, "fraction"),
          ("functions.dedup_recall", chk.figures.getOrElse("dedup_recall", 0.0), "fraction"),
          ("functions.ann_recall", chk.figures.getOrElse("ann_recall", 0.0), "fraction"))
      }
      if (trace) spans.foreach(tracer.writeSpans)
      val detail = Map(
        "workload" -> name, "seed" -> seed.toString, "trace" -> trace.toString,
        "timed_ops" -> n.toString, "timed_wall_s" -> "%.4f".format(wall),
        "setup_reps_s" -> setups.map(x => "%.4f".format(x)).mkString(","),
        "session_start_s" -> "%.4f".format(sessionS), "warmup_s" -> "%.4f".format(warmS),
        "ready_s" -> "%.4f".format(readyS),
        "p90_samples_beyond" -> (n - math.ceil(0.9 * n).toInt).toString,
        "host_steal_pct" -> "%.3f".format(Witness.stealPct(ticks0, ticks1)),
        "host_load1_start" -> "%.2f".format(load0), "host_load1_end" -> "%.2f".format(Witness.load1),
        "jvm_gc_s" -> "%.4f".format(gc)) ++ chk.figures.map { case (k, v) => k -> "%.4f".format(v) }
      Result(failedOps.isEmpty, n, failedOps.size, e2e, layer, detail)
    } finally {
      tracer.stop()
      spark.stop()
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(r: Result, trace: Boolean): String = {
    val ms = (if (trace) r.perLayer else r.endToEnd)
      .map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", "4").toInt
    val work = new java.io.File(opts.getOrElse("work", "perfbench/out/work"))
    work.mkdirs()
    val log = (s: String) => System.err.println(s"[perfbench] $s")
    val spans = opts.get("detail").map(d => new java.io.File(d.stripSuffix(".json") + ".spans.jsonl"))
    val r = run(name, seed, seconds, trace, cores, work, spans, log)
    r.detail.toSeq.sorted.foreach { case (k, v) => log(s"$k = $v") }
    (r.endToEnd ++ r.perLayer).foreach { case (k, v, u) => log(f"$k%-32s ${num(v)} $u") }
    opts.get("detail").foreach { f =>
      val all = (r.endToEnd ++ r.perLayer).map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
      val det = r.detail.toSeq.sorted.map { case (k, v) => s""""$k": "$v"""" }
      val out = new java.io.PrintWriter(f)
      try out.println(s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, "detail": {${det.mkString(", ")}}, "metrics": {${all.mkString(", ")}}}""")
      finally out.close()
    }
    println(json(r, trace))
  }
}
