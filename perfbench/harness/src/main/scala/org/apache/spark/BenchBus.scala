package org.apache.spark

/** Lets the harness wait for the listener bus to deliver every queued event
  * before it reads listener totals (the bus is private to Spark).
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
