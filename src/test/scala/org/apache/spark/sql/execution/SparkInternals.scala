package org.apache.spark.sql.execution

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Spark-private state the specs observe. */
object SparkInternals {
  /** Waits until the listener bus has delivered every queued event, so a
    * spec's listener has seen every job and SQL execution of the code under
    * test before it asserts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Number of persisted Datasets registered in the session's cache. */
  def cachedDatasets(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries
}
