package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is `private[spark]`: the traced run
  * drains the bus before and after each traced operation, so every event
  * of that operation reaches the listeners before they are detached. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
