package graft.tools

/** Print a gate's optimized + final-adaptive physical plan at an
  * arbitrary sf dir — the quick diagnostic behind join-strategy
  * questions (which side built, which side streamed, where AQE coalesced
  * to one partition). Usage:
  *   SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.PlanDump <gate> [<gate>…]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/graft_sf1_full")
    // the bench's own session: timestamp-sensitive gates (q7, s-series)
    // plan and execute here exactly as they do under the harness, and
    // SPARK_GRAFT_CONF can force a guarded path (e.g. a small broadcast
    // threshold)
    val spark = graft.SparkEntry.session("plan-dump")
    args.foreach { gate =>
      val df = graft.gate.GateQueries.queries(gate)(spark, sfDir)
      println(s"==== $gate: pre-execution formatted plan ====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      val t0 = System.nanoTime()
      df.queryExecution.toRdd.count()
      println(f"==== $gate: executed in ${(System.nanoTime() - t0) / 1e9}%.2f s; final adaptive plan ====")
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
