package org.apache.spark

/** The listener bus is asynchronous and its drain is `private[spark]`;
  * living in this package lets a spec wait until every job event has
  * reached the status store and its listeners before it counts jobs. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
