package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Seam into Spark's private listener bus: listener events are
  * delivered asynchronously, so per-op counters are only complete once
  * the bus has drained. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
