package org.apache.spark

/** Waits for the listener bus to deliver every queued event, so a run's
  * job and task records are complete before they are attributed. The bus
  * is package-private to Spark. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
