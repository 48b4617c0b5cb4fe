package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Test commit protocol (set as `spark.sql.sources.commitProtocolClass`):
  * while armed, the FIRST task of every doc-store or term-vector write stage
  * blocks at task setup until released, so those writes are guaranteed to be
  * still running when a sibling write fails. Only one task per stage blocks,
  * leaving the other local cores to the sibling. Local mode only: tasks run
  * in the driver JVM and share the latch. */
class GatedCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupTask(ctx: TaskAttemptContext): Unit = {
    val gated = path.endsWith("/docs") || path.endsWith("/vectors")
    if (gated && GatedCommitProtocol.held.add(TaskContext.get().stageId()))
      GatedCommitProtocol.await()
    super.setupTask(ctx)
  }
}

object GatedCommitProtocol {
  @volatile private var gate = new CountDownLatch(0)
  /** Stage ids whose first task blocked at the gate. */
  val held: java.util.Set[Integer] = ConcurrentHashMap.newKeySet[Integer]()

  def arm(): Unit = { held.clear(); gate = new CountDownLatch(1) }
  def release(): Unit = gate.countDown()

  /** Blocks until released; opens the gate after 20 s so a run in which
    * nothing cancels the held writes still ends. */
  private def await(): Unit = if (!gate.await(20, TimeUnit.SECONDS)) gate.countDown()
}
