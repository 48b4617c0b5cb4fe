package graft.build

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.concurrent.{Await, ExecutionContext, Future, Promise, blocking}
import scala.concurrent.duration.Duration

/** The one concurrent-write skeleton of the engine: independent Spark write
  * actions (docs / postings / vectors of one commit, dictionary + grams)
  * submitted together so the scheduler interleaves their stages.
  *
  * Fail-fast: every job the writes submit carries one fresh job tag; the
  * first failure cancels the tag (the siblings stop instead of running to
  * completion against a commit that will never happen), a job a sibling
  * submits after that (its next AQE stage, the write itself) is cancelled
  * as it starts, and the call
  * returns only after EVERY write has finished, so callers can release
  * their `persist()` pins in `finally` without racing a still-running
  * sibling. The first failure is rethrown.
  */
private[graft] object ConcurrentWrites {

  def apply(spark: SparkSession, writes: Seq[() => Unit]): Unit = {
    import ExecutionContext.Implicits.global
    val sc = spark.sparkContext
    val tag = s"graft-write-${java.util.UUID.randomUUID()}"
    val firstFailure = Promise[Throwable]()
    val lateJobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (firstFailure.isCompleted && Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(',').contains(tag)))
          sc.cancelJob(e.jobId, "because a sibling write failed")
    }
    sc.addSparkListener(lateJobs)
    val futures = writes.map { w =>
      val f = Future {
        // job tags are thread-local and pool threads inherit their creator's:
        // carry exactly this call's tag while the write runs
        sc.clearJobTags()
        sc.addJobTag(tag)
        try blocking(w()) finally sc.clearJobTags()
      }
      f.failed.foreach { t =>
        if (firstFailure.trySuccess(t)) sc.cancelJobsWithTag(tag, "because a sibling write failed")
      }
      f
    }
    try futures.foreach(f => Await.ready(f, Duration.Inf))
    finally sc.removeSparkListener(lateJobs)
    // the failure callback may still be in flight after the last write ends
    if (futures.exists(_.value.exists(_.isFailure)))
      throw Await.result(firstFailure.future, Duration.Inf)
  }
}
