package graft

import graft.obs.GateProfiler
import org.scalatest.funsuite.AnyFunSuite

/** Pins the gate profiler's attribution: the job, stage and task counts
  * a block reports are the ones it ran, and its wall splits exactly into
  * in-job and driver-only time. */
class GateProfilerSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("gate profiler: jobs, tasks and the wall split are attributed to the open gate") {
    val profiler = GateProfiler.of(spark)
    assert(GateProfiler.of(spark) eq profiler, "one listener per session")
    // a job outside any gate is charged to no gate
    spark.range(0, 10, 1, 2).queryExecution.toRdd.count()

    // two actions over a 3-partition scan: 2 jobs, 2 stages, 6 tasks
    val df = spark.range(0, 3000, 1, 3).selectExpr("id * 2 AS x")
    val (rows, p) = profiler.profile("two jobs") {
      df.queryExecution.toRdd.count() + df.queryExecution.toRdd.count()
    }
    assert(rows === 6000L)
    assert(p.jobs === 2L)
    assert(p.stages === 2L)
    assert(p.tasks === 2L * df.queryExecution.toRdd.getNumPartitions)
    assert(p.injobS > 0.0 && p.injobS <= p.wallS)
    assert(math.abs(p.driverS + p.injobS - p.wallS) < 1e-3)
    assert(p.top.size === 2 && p.top.forall(_.tasks == 3))

    // a job launched from another thread with no job group lands in the
    // open gate (the streaming micro-batch case)
    val (_, q) = profiler.profile("other thread") {
      val t = new Thread(() => {
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.parallelize(1 to 100, 4).count()
        ()
      })
      t.start(); t.join()
    }
    assert(q.jobs === 1L)
    assert(q.tasks === 4L)
    assert(math.abs(q.driverS + q.injobS - q.wallS) < 1e-3)
  }
}
