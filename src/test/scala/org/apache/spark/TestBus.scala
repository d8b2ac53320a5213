package org.apache.spark

/** The listener bus is private to Spark; specs that count listener
  * events drain it so that the count includes every event the jobs
  * under test posted. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
