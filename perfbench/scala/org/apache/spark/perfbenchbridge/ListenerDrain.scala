package org.apache.spark.perfbenchbridge

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; this is the one call the
  * benchmark needs from it: wait until every posted event is delivered,
  * so listener counts are complete before they are read.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
