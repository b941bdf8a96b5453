package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: the traced
  * run must not read span totals before the listener has seen every job. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
