package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every event of a
  * finished conversion before it reads its listener's counters. */
object ConvBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
