package graft.functions

import org.apache.spark.sql.SparkSession

/** What the fused candidate cores ([[Similarity]]'s LSH core,
  * [[Dedup.minHashDuplicates]]) share: the one broadcast budget and the
  * report of a fallback, so no core leaves its fused tier silently. */
private[functions] object FusedTier extends org.apache.spark.internal.Logging {
  /** `spark.graft.lsh.broadcastBudgetBytes` (default 512 MB): the most a
    * fused core collects to the driver and broadcasts. */
  def budget(spark: SparkSession): Long =
    spark.conf.get("spark.graft.lsh.broadcastBudgetBytes", (512L << 20).toString).toLong

  /** One log line: `op` takes its relational fallback, and why. */
  def fallback(op: String, why: String): Unit =
    logWarning(s"graft $op: fused tier skipped, relational fallback ($why)")

  def overBudget(bytes: Long, budget: Long): String =
    s"$bytes bytes against a broadcast budget of $budget"

  val unpackable = "ids cannot pack"
}
