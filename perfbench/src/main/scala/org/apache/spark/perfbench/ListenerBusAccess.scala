package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; the harness needs it
  * to settle its listeners: every job of an op has posted its start and
  * end events before the op returns, so once the bus is drained the
  * harness's counters for that op are final. */
object ListenerBusAccess {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
