package org.apache.spark.graftbenchbus

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every queued event, so
  * counts read right after an action include that action's jobs. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
