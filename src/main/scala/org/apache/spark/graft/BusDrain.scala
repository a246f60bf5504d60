package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Doorway to `private[spark]` LiveListenerBus.waitUntilEmpty, used by
  * [[graft.obs.GateProfiler]]'s per-gate attribution: listener events
  * are posted on an async bus, so a counter read immediately after an
  * action can miss the tail of that gate's own tasks (and charge them to
  * the NEXT gate). Draining the bus between gates makes the per-gate
  * profiles in bench_detail.json attributable.
  * A drain timeout degrades to a slightly-smeared sample, never an error
  * — measurement must not fail the bench.
  */
object BusDrain {
  def drain(sc: SparkContext, timeoutMs: Long = 5000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
