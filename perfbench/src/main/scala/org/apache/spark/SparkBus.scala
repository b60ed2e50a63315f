package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so span
  * totals read after a job include all of its stages and tasks. Lives in
  * Spark's package because the bus is package-private.
  */
object SparkBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
