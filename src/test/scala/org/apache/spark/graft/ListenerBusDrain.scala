package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`. Specs that count what
  * their listeners saw drain the bus first, so every event posted so
  * far has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
