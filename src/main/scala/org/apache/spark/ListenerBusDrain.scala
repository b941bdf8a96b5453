package org.apache.spark

/** Bridge to the `private[spark]` listener bus: blocks until every queued
  * event (a QueryExecutionListener callback included) is delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
