package org.apache.spark

/** The listener bus is asynchronous and its drain is `private[spark]`;
  * living in this package lets the benchmark wait until every job and
  * task event has reached its listener before it reads the counts. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
