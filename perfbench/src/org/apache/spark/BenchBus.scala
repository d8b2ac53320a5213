package org.apache.spark

/** The listener bus is private to Spark; the benchmark drains it so
  * that listener counts read at a span boundary include every event
  * the span's jobs posted. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
