package org.apache.spark.testkit

import org.apache.spark.SparkContext

/** Listener delivery is asynchronous; a spec that counts events drains
  * the bus first, so no job of the measured block is missed.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
