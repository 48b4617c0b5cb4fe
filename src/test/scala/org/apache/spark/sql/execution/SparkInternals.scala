package org.apache.spark.sql.execution

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.BroadcastBlockId

/** Spark-private state the specs observe. */
object SparkInternals {
  /** Waits until the listener bus has delivered every queued event, so a
    * spec's listener has seen every job and SQL execution of the code under
    * test before it asserts. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Runs `body` with `listener` registered, draining the listener bus
    * before and after it: the listener sees the events of `body` and no
    * earlier ones. */
  def observe[T](sc: SparkContext, listener: SparkListener)(body: => T): T = {
    drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { val out = body; drainListenerBus(sc); out }
    finally sc.removeSparkListener(listener)
  }

  /** Spark jobs started by `body`. */
  def jobsOf(sc: SparkContext)(body: => Any): Int = {
    val n = new AtomicInteger
    observe(sc, new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    })(body)
    n.get
  }

  /** Number of persisted Datasets registered in the session's cache. */
  def cachedDatasets(spark: SparkSession): Int = spark.sharedState.cacheManager.numCachedEntries

  /** The values of the broadcast variables the driver holds, by broadcast
    * id (the driver keeps each value whole next to its pieces). */
  def broadcastValues(sc: SparkContext): Map[Long, Any] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds(_.isBroadcast).collect {
      case id @ BroadcastBlockId(bid, "") =>
        bm.getLocalValues(id).flatMap(_.data.toList.headOption).map(bid -> _)
    }.flatten.toMap
  }
}
