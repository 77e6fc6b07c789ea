package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this is the one place the
  * benchmark reaches it, to drain queued events before reading counters.
  */
object Bus {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
