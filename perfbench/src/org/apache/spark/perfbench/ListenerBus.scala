package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The scheduler's listener bus is `private[spark]`; counters read from a
  * listener are only complete once the bus has delivered every event. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
