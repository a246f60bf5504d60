package graft.tools

import org.apache.spark.sql.SparkSession

/** Shared timed-block protocol of the diagnostic probe tools: wall,
  * rows and MiB shuffled per labelled block (pass 2 of a REPEAT loop is
  * the steady reading), each block profiled by [[graft.obs.GateProfiler]]
  * and its profile printed beside the line. One implementation so a
  * protocol change cannot silently diverge across probes. Walls recorded
  * with this protocol before the profiler replaced its settle sleeps
  * include +0.30 s (SCALING.md, "One gate profiler"). */
final class ProbeHarness(spark: SparkSession, tag: String) {
  private val profiler = graft.obs.GateProfiler.of(spark)

  /** Time `f` (a block returning its row count), print wall + shuffle. */
  def timed(label: String)(f: => Long): Unit = {
    val (r, p) = profiler.profile(label)(f)
    println(f"[$tag] $label: ${p.wallS}%.2f s " +
      f"($r rows, ${p.shuffleWriteMb}%.1f MiB shuffled) ${p.json}")
  }
}
