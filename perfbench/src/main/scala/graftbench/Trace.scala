package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The six graft modules the benchmark treats as layers. */
object Layers {
  val all: Seq[String] = Seq("sources", "cypher", "operators", "analytics", "functions", "streaming")
  val metrics: Seq[(String, String)] = Seq(
    "calls" -> "count", "wall_s" -> "s", "driver_s" -> "s", "injob_s" -> "s",
    "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "task_cpu_s" -> "s",
    "cores_busy" -> "cores", "shuffle_write_mb" -> "MiB", "spill_mb" -> "MiB",
    "codegen_compiles" -> "count", "codegen_ms" -> "ms", "rows_out" -> "rows", "failed" -> "count")
}

/** One recorded interval. `kind` is "op", "call" (a call into a layer)
  * or "job" (a Spark job the listener attributed to its call). Times are
  * milliseconds since the tracer started. */
final case class Span(id: Long, parent: Long, op: Long, kind: String, layer: String,
    name: String, start: Double, end: Double)

/** What the listener saw for one traced layer call. */
final class CallStats {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskCpuNs = 0L; var taskRunMs = 0L; var shuffleWrite = 0L; var spill = 0L
  val jobIntervals = ArrayBuffer[(Long, Long)]()
  val jobStart = scala.collection.mutable.Map[Int, Long]()
}

/** Benchmark-owned listener: attributes jobs, stages and tasks to the
  * layer call whose job group launched them. Jobs from other threads
  * (a streaming query's micro-batches) carry no open group; they go to
  * the call open while they run — the harness has one client thread and
  * its calls never overlap. */
final class AttributionListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, CallStats]()
  private val byJob = new ConcurrentHashMap[Int, CallStats]()
  private val byStage = new ConcurrentHashMap[Int, CallStats]()
  @volatile private var current: Option[CallStats] = None

  def open(group: String): Unit = { val s = new CallStats; byGroup.put(group, s); current = Some(s) }
  def close(group: String): CallStats = { current = None; byGroup.remove(group) }

  private def groupOf(p: java.util.Properties): Option[CallStats] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g))).orElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { s =>
      s.synchronized { s.jobs += 1; s.jobStart(e.jobId) = e.time }
      byJob.put(e.jobId, s)
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.remove(e.jobId)).foreach { s =>
      s.synchronized {
        s.jobStart.remove(e.jobId).foreach(t0 => s.jobIntervals += ((t0, e.time)))
      }
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    groupOf(e.properties).foreach { s =>
      s.synchronized(s.stages += 1)
      byStage.put(e.stageInfo.stageId, s)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        if (m != null) {
          s.taskCpuNs += m.executorCpuTime
          s.taskRunMs += m.executorRunTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

/** Per-layer accumulators for one run. */
final class LayerAcc {
  var calls = 0L; var wallS = 0.0; var injobS = 0.0; var jobs = 0L; var stages = 0L
  var tasks = 0L; var taskCpuS = 0.0; var taskRunS = 0.0; var shuffleMb = 0.0; var spillMb = 0.0
  var compiles = 0L; var compileMs = 0.0; var rows = 0L; var failed = 0L
  def driverS: Double = math.max(0.0, wallS - injobS)
  def values: Map[String, Double] = Map(
    "calls" -> calls.toDouble, "wall_s" -> wallS, "driver_s" -> driverS, "injob_s" -> injobS,
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "task_cpu_s" -> taskCpuS, "cores_busy" -> (if (injobS > 0) taskRunS / injobS else 0.0),
    "shuffle_write_mb" -> shuffleMb, "spill_mb" -> spillMb, "codegen_compiles" -> compiles.toDouble,
    "codegen_ms" -> compileMs, "rows_out" -> rows.toDouble, "failed" -> failed.toDouble)
}

/** Span recorder around calls into graft's layers. With tracing off,
  * [[call]] and [[op]] run their body and record nothing, so the
  * end-to-end numbers carry no listener, job groups or bus drains. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val listener = if (enabled) {
    val l = new AttributionListener; sc.addSparkListener(l); Some(l)
  } else None
  private val t0Nanos = System.nanoTime()
  private val t0EpochMs = System.currentTimeMillis().toDouble
  private def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6
  private def epochToRel(ms: Long): Double = ms - t0EpochMs

  private var nextId = 0L
  private var currentOp = 0L
  private var currentOpSpan = 0L
  private var inCall = false
  /** Spans of the recording window, kept in memory until the run ends. */
  val spans = ArrayBuffer[Span]()
  val acc: Map[String, LayerAcc] = Layers.all.map(_ -> new LayerAcc).toMap
  private var recording = false

  /** Start (or restart) the recording window: accumulators and spans
    * cover only what runs after this call. */
  def startRecording(): Unit = {
    spans.clear()
    acc.values.foreach { a =>
      a.calls = 0; a.wallS = 0; a.injobS = 0; a.jobs = 0; a.stages = 0; a.tasks = 0
      a.taskCpuS = 0; a.taskRunS = 0; a.shuffleMb = 0; a.spillMb = 0; a.compiles = 0
      a.compileMs = 0; a.rows = 0; a.failed = 0
    }
    recording = true
  }

  /** Pause or resume recording without resetting what was recorded. */
  def record(on: Boolean): Unit = recording = on

  /** One benchmark op: the parent span of the layer calls it makes. */
  def op[T](opId: Long, name: String)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      currentOp = opId; currentOpSpan = id
      val s = nowMs
      try body
      finally {
        if (recording) spans += Span(id, 0L, opId, "op", "bench", name, s, nowMs)
        currentOpSpan = 0L
      }
    }

  /** A call into `layer`. `rows` extracts the call's output row count.
    * The call's wall includes materializing its lazy result, which the
    * caller does inside `body`. */
  def call[T](layer: String, fn: String)(body: => T): T = callN(layer, fn)(body)(_ => 0L)

  def callN[T](layer: String, fn: String)(body: => T)(rows: T => Long): T =
    if (!enabled || inCall) body
    else {
      require(acc.contains(layer), s"unknown layer $layer")
      nextId += 1
      val id = nextId
      val group = s"pb:$id"
      val l = listener.get
      l.open(group)
      sc.setJobGroup(group, s"$layer.$fn", interruptOnCancel = false)
      val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ct0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
      inCall = true
      val s = nowMs
      var ok = false
      var out: Option[T] = None
      try { val r = body; out = Some(r); ok = true; r }
      finally {
        val e = nowMs
        inCall = false
        val cg1 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val ct1 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
        org.apache.spark.perfbench.Bus.drain(sc)
        sc.clearJobGroup()
        val st = l.close(group)
        if (recording) {
          val a = acc(layer)
          a.calls += 1
          a.wallS += (e - s) / 1e3
          if (!ok) a.failed += 1
          out.foreach(r => a.rows += scala.util.Try(rows(r)).getOrElse(0L))
          a.compiles += cg1 - cg0
          a.compileMs += (ct1 - ct0) / 1e6
          spans += Span(id, currentOpSpan, currentOp, "call", layer, fn, s, e)
          st.synchronized {
            a.jobs += st.jobs; a.stages += st.stages; a.tasks += st.tasks
            a.taskCpuS += st.taskCpuNs / 1e9; a.taskRunS += st.taskRunMs / 1e3
            a.shuffleMb += st.shuffleWrite / 1048576.0; a.spillMb += st.spill / 1048576.0
            val iv = st.jobIntervals.map { case (x, y) =>
              (math.max(s, epochToRel(x)), math.min(e, epochToRel(y))) }.filter(p => p._2 > p._1)
            a.injobS += Tracer.unionLength(iv.toSeq) / 1e3
            st.jobIntervals.foreach { case (x, y) =>
              nextId += 1
              spans += Span(nextId, id, currentOp, "job", layer, fn, epochToRel(x), epochToRel(y))
            }
          }
        }
      }
    }

  def stop(): Unit = listener.foreach(sc.removeSparkListener)

  /** Per op: wall, the self time of each layer (a call's duration minus
    * nested call spans, none of which the harness makes) and the
    * benchmark's own overhead (op wall minus all layer calls). */
  def selfTimes(): Seq[(Long, Double, Map[String, Double], Double)] = {
    val calls = spans.filter(_.kind == "call").groupBy(_.parent)
    spans.filter(_.kind == "op").map { o =>
      val cs = calls.getOrElse(o.id, Nil)
      val self = cs.groupBy(_.layer).map { case (l, xs) => l -> xs.map(c => c.end - c.start).sum / 1e3 }
      val wall = (o.end - o.start) / 1e3
      (o.op, wall, self, wall - self.values.sum)
    }.toSeq
  }

  def writeSpans(f: java.io.File): Unit = {
    val out = new java.io.PrintWriter(f)
    try spans.foreach { s =>
      out.println(f"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"kind":"${s.kind}","layer":"${s.layer}","name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    } finally out.close()
  }
}

object Tracer {
  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** JVM and host counters sampled at the edges of the timed phase. The
  * host figures (steal, load) are a witness for noisy runs; they are
  * written with the results and never used to adjust a number. */
object Witness {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }
  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum / 1e3
  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** (steal ticks, total ticks) from the aggregate cpu line of /proc/stat. */
  def cpuTicks: (Long, Long) = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }.getOrElse((0L, 0L))
  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0
  def load1: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split(' ')(0).toDouble finally src.close()
  }.getOrElse(0.0)

  /** Spark storage held (memory + disk) by persisted RDDs and cached
    * tables, MiB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}
