package graft.util

import org.apache.spark.sql.DataFrame

/** Scan-parallelism widening for SMALL relations feeding expensive scans
  * (SCALING.md "Round 17: the quadratic scans were file-split-bound,
  * not core-bound", unified here round 18): scan
  * parallelism equals the stream side's partition count, and a few-MB
  * parquet relation arrives as a handful of file splits — the 10× e16
  * n² scan ran as 10 equal ~70 s tasks on a 32-thread box (wall = file
  * count, not cores), and t6's md5-winnowing projection fused into a
  * one-row-group scan ran as ONE task. The exchange this adds moves
  * O(|small side|) bytes to unlock O(per-row work × rows) parallelism.
  *
  * Guards (scale-safety is the point — widening must be a no-op on big
  * data):
  *  - UNCLAMPED byte ceiling (ADVICE r17): widen only when the plan-stat
  *    size sits under defaultParallelism × perPartitionBytes, compared as
  *    BigInt bytes directly. The previous guard reused a partition-count
  *    helper that CLAMPS its estimate to 10,000 — on a cluster with
  *    defaultParallelism > 10,000 every relation (including a 100 TB
  *    corpus with thousands of natural splits) read as "small" and paid
  *    a gratuitous full repartition exchange. Bytes don't clamp.
  *  - 1 MB floor: unit-scale relations skip the widening entirely —
  *    their scans are trivial either way, and a 4p-task stage per op for
  *    kilobytes of data is pure scheduling overhead. (PlanSpec pins both
  *    sides: exchange present ≥ 1 MB, absent below.)
  *  - `factor`: quadratic/sorting scans use 4× cores — each widened task
  *    SORTS its slice of the pair stream (the partial WindowGroupLimit),
  *    and at 1× the 32 concurrent ~500 MB sorts spilled (measured:
  *    maxTask 40 s vs 20 s mean); finer slices keep every sort in memory.
  *    Per-row map-only scans (fingerprints, codec decodes) use 1× — no
  *    sort state to bound, and 4× would quadruple scheduling overhead
  *    for zero win.
  *
  * Stats-based, never `df.rdd.getNumPartitions` (VERDICT r17 #3): the
  * RDD probe forces a physical-plan-to-RDD conversion per call; plan
  * stats are already materialized on the optimized plan.
  */
object Widen {

  /** `df` repartitioned round-robin to `factor × defaultParallelism` when
    * its plan-stat size is in [floorBytes, defaultParallelism ×
    * perPartitionBytes); unchanged otherwise. */
  def widened(df: DataFrame, factor: Int = 4,
      floorBytes: Long = 1L << 20,
      perPartitionBytes: Long = 64L << 20): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= floorBytes && bytes < BigInt(p) * perPartitionBytes)
      df.repartition(factor * p)
    else df
  }
}
