package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** Access to the `private[spark]` listener bus: the benchmark drains it
  * before reading what its listeners recorded.
  */
object Bus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
