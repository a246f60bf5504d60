package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One stage of a gate. `serial` flags the file-split-bound signature
  * round 17 found in e16/t6: a stage of at least 1 s that ran fewer
  * tasks than the session has cores, one of which took at least 0.7 of
  * the stage wall. */
final case class StageRow(id: Int, tasks: Int, wallMs: Long, maxTaskMs: Long,
    sumTaskMs: Long, serial: Boolean)

/** What one profiled block (a gate, a probe step) did. The definitions
  * are perfbench's layer metrics (`perfbench/.../Trace.scala`), so a
  * gate profile and a perfbench layer row measure the same things:
  * `injobS` is the union of the block's job intervals, clipped to its
  * wall, and `driverS` the rest of the wall (planning, codegen, collects,
  * job scheduling). Task figures are executor task metrics; `gcS` and
  * the codegen figures are JVM-wide deltas over the wall. */
final case class Profile(wallS: Double, injobS: Double, jobs: Long, stages: Long, tasks: Long,
    taskRunS: Double, taskCpuS: Double, shuffleReadMb: Double, shuffleWriteMb: Double,
    spillMb: Double, gcS: Double, codegenCompiles: Long, codegenMs: Double, top: Seq[StageRow]) {
  def driverS: Double = wallS - injobS

  def json: String = {
    def n(d: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    val rows = top.map(s =>
      s"""{"id":${s.id},"tasks":${s.tasks},"wall_ms":${s.wallMs},"max_task_ms":${s.maxTaskMs},"sum_task_ms":${s.sumTaskMs},"serial":${s.serial}}""")
    s"""{"wall_s":${n(wallS)},"injob_s":${n(injobS)},"driver_s":${n(driverS)},""" +
      s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_run_s":${n(taskRunS)},""" +
      s""""task_cpu_s":${n(taskCpuS)},"shuffle_read_mb":${n(shuffleReadMb)},""" +
      s""""shuffle_write_mb":${n(shuffleWriteMb)},"spill_mb":${n(spillMb)},"gc_s":${n(gcS)},""" +
      s""""codegen_compiles":$codegenCompiles,"codegen_ms":${n(codegenMs)},""" +
      s""""top":${rows.mkString("[", ",", "]")}}"""
  }
}

/** The one measurement listener: attributes jobs, stages and tasks to
  * the block whose job group launched them, as perfbench's
  * `AttributionListener` does. A job with no group of ours (another
  * thread's, such as a streaming query's micro-batches) goes to the
  * block open while it runs — blocks run one at a time and do not nest.
  * The bus is drained before a block starts and after it ends, so its
  * tail events are neither lost nor charged to the next block. */
final class GateProfiler private (private val sc: SparkContext) extends SparkListener {
  private final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var runMs = 0L; var cpuNs = 0L
    var readBytes = 0L; var writeBytes = 0L; var spillBytes = 0L
    val jobStart = mutable.Map[Int, Long]()
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
    val taskMaxMs = mutable.Map[Int, Long]().withDefaultValue(-1L)
    val taskSumMs = mutable.Map[Int, Long]().withDefaultValue(0L)
    val stageRows = mutable.ArrayBuffer[StageRow]()
  }
  private val byGroup = new ConcurrentHashMap[String, Acc]()
  private val byJob = new ConcurrentHashMap[Int, Acc]()
  private val byStage = new ConcurrentHashMap[Int, Acc]()
  @volatile private var open: Option[Acc] = None
  private val nextId = new AtomicLong
  private val cores = sc.defaultParallelism

  private def accOf(p: java.util.Properties): Option[Acc] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g))).orElse(open)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    accOf(e.properties).foreach { a =>
      a.synchronized { a.jobs += 1; a.jobStart(e.jobId) = e.time }
      byJob.put(e.jobId, a)
    }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.remove(e.jobId)).foreach { a =>
      a.synchronized { a.jobStart.remove(e.jobId).foreach(t0 => a.jobIntervals += ((t0, e.time))) }
    }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    accOf(e.properties).foreach { a =>
      a.synchronized(a.stages += 1)
      byStage.put(e.stageInfo.stageId, a)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { a =>
      a.synchronized {
        a.tasks += 1
        if (e.taskInfo != null) {
          a.taskMaxMs(e.stageId) = math.max(a.taskMaxMs(e.stageId), e.taskInfo.duration)
          a.taskSumMs(e.stageId) += e.taskInfo.duration
        }
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.readBytes += m.shuffleReadMetrics.totalBytesRead
          a.writeBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(byStage.get(i.stageId)).foreach { a =>
      val wall = (for (s <- i.submissionTime; c <- i.completionTime) yield c - s).getOrElse(-1L)
      a.synchronized {
        val maxMs = a.taskMaxMs(i.stageId)
        a.stageRows += StageRow(i.stageId, i.numTasks, wall, maxMs, a.taskSumMs(i.stageId),
          serial = wall >= 1000 && i.numTasks < cores && maxMs >= (0.7 * wall).toLong)
      }
    }
  }

  /** Run `body` as one profiled block named `name`. The wall covers
    * `body` only. Clears the calling thread's job group afterwards. */
  def profile[T](name: String)(body: => T): (T, Profile) = {
    org.apache.spark.graft.BusDrain.drain(sc)
    val acc = new Acc
    val group = s"graft.obs.${nextId.incrementAndGet()}"
    byGroup.put(group, acc)
    open = Some(acc)
    sc.setJobGroup(group, name, interruptOnCancel = false)
    val cg0 = GateProfiler.compiles; val ct0 = GateProfiler.compileNs; val gc0 = GateProfiler.gcMs
    val e0 = System.currentTimeMillis(); val t0 = System.nanoTime()
    var wallNs = 0L; var e1 = 0L; var cg1 = 0L; var ct1 = 0L; var gc1 = 0L
    val out =
      try body
      finally {
        wallNs = System.nanoTime() - t0; e1 = System.currentTimeMillis()
        cg1 = GateProfiler.compiles; ct1 = GateProfiler.compileNs; gc1 = GateProfiler.gcMs
        org.apache.spark.graft.BusDrain.drain(sc)
        sc.clearJobGroup()
        open = None
        byGroup.remove(group)
        byStage.values.removeIf(_ eq acc)
        byJob.values.removeIf(_ eq acc)
      }
    val wallS = wallNs / 1e9
    val p = acc.synchronized {
      val clipped = acc.jobIntervals.toSeq
        .map { case (s, e) => (math.max(s, e0), math.min(e, e1)) }.filter(iv => iv._2 > iv._1)
      Profile(wallS, math.min(wallS, GateProfiler.unionLength(clipped) / 1e3),
        acc.jobs, acc.stages, acc.tasks, acc.runMs / 1e3, acc.cpuNs / 1e9,
        acc.readBytes / 1048576.0, acc.writeBytes / 1048576.0, acc.spillBytes / 1048576.0,
        (gc1 - gc0) / 1e3, cg1 - cg0, (ct1 - ct0) / 1e6,
        acc.stageRows.sortBy(-_.wallMs).take(6).toSeq)
    }
    (out, p)
  }
}

object GateProfiler {
  private var attached: Option[GateProfiler] = None

  /** The session's profiler, attached to its SparkContext on first use. */
  def of(spark: SparkSession): GateProfiler = synchronized {
    val sc = spark.sparkContext
    attached.filter(_.sc eq sc).getOrElse {
      val p = new GateProfiler(sc)
      sc.addSparkListener(p)
      attached = Some(p)
      p
    }
  }

  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
  private def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  }

  /** Total length covered by a set of intervals. */
  private[obs] def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = 0L; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE != Long.MinValue) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }
}
