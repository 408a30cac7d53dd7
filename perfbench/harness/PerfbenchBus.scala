package org.apache.spark

/** Lets the benchmark wait for the listener bus to deliver every queued
  * event before it reads span counters (the bus is Spark-private). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
