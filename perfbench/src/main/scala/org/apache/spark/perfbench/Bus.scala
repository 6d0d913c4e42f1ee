package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the package-private listener bus: listener counters are read
  * only after every posted event has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
