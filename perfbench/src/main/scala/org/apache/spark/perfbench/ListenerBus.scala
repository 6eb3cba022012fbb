package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on its own thread; a span that reads
  * counters right after an action must first wait for the events that
  * action posted. `waitUntilEmpty` is `private[spark]`, hence this
  * package. */
object ListenerBus {
  def drain(sc: SparkContext): Unit =
    if (!sc.isStopped) sc.listenerBus.waitUntilEmpty(10000L)
}
