package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: listener events arrive
  * asynchronously, so a traced layer call waits for the bus to drain
  * before it reads what its jobs did. */
object Bus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => () }
}
