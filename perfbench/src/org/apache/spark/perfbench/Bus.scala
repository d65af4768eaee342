package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus: waits until every event
  * posted so far has reached the listeners.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
