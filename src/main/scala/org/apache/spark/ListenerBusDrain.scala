package org.apache.spark

/** The listener bus is asynchronous and its drain is `private[spark]`;
  * living in this package lets Bench's task-stats harness and the specs
  * wait until every job event has reached the status store and its
  * listeners before they read what those listeners recorded. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
