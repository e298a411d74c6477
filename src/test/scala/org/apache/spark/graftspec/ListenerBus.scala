package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Seam into Spark's private listener bus for specs that count events:
  * listener events are delivered asynchronously, so a count is only
  * complete once the bus has drained. */
object ListenerBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
