package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a probe that reads its counters
  * right after an action must first let the bus deliver that action's
  * events. The drain call is `private[spark]`, hence this shim.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
