package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** Access to the private[spark] listener bus, so counters are read
  * after every posted event has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
