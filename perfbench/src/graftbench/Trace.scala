package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: `parent` is the enclosing span's id (-1 at top level),
  * `op` the operation the span belongs to. Times are epoch milliseconds with
  * a nanosecond fraction, the clock Spark stamps its job events with. */
final case class Span(id: Int, name: String, parent: Int, op: Long, start: Double, end: Double) {
  def dur: Double = (end - start) / 1000.0
}

/** Spans around the benchmark's calls into the engine. When disabled, `span`
  * only runs its body. Spans stay in memory until the run writes them out. */
final class Tracer(enabled: Boolean, sc: => SparkContext) {
  /** Whether spans are recorded right now (only ever true when enabled). */
  var active: Boolean = enabled
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Double)] = Nil
  private var op = -1L
  private val epochMs = System.currentTimeMillis().toDouble
  private val epochNs = System.nanoTime()

  /** Wall clock in epoch ms (monotonic between calls). */
  def nowMs: Double = epochMs + (System.nanoTime() - epochNs) / 1e6

  def beginOp(): Long = { op += 1; op }

  def span[A](name: String)(f: => A): A =
    if (!active) f
    else {
      val id = spans.size + open.size
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val start = nowMs
      open = (id, name, start) :: open
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      try f
      finally {
        open = open.tail
        spans += Span(id, name, parent, op, start, nowMs)
        sc.setLocalProperty(Trace.SpanProperty, open.headOption.map(_._1.toString).orNull)
      }
    }

  def recorded: Seq[Span] = spans.toSeq.sortBy(_.id)
}

object Trace {

  /** The local property jobs carry to name the span that submitted them. */
  val SpanProperty = "graftbench.span"

  /** Union length (same unit as the inputs) of intervals clipped to [lo, hi]. */
  def coverage(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time of each span in seconds: its duration minus the part of its
    * interval that its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - coverage(kids, s.start, s.end) / 1000.0)
    }.toMap
  }

  /** The innermost span whose interval holds time `t` (ms), if any. */
  def innermost(spans: Seq[Span], t: Double): Option[Span] = {
    val holding = spans.filter(s => s.start <= t && t <= s.end)
    if (holding.isEmpty) None
    else {
      val byId = spans.map(s => s.id -> s).toMap
      def depth(s: Span): Int = if (s.parent < 0) 0 else 1 + byId.get(s.parent).map(depth).getOrElse(0)
      Some(holding.maxBy(s => (depth(s), s.start)))
    }
  }
}

final case class TaskRec(stage: Int, durMs: Long, runMs: Long, gcMs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long,
                         bytesWritten: Long)
final case class JobRec(id: Int, submitMs: Double, endMs: Double, stages: Seq[Int], spanProp: Option[Int])

/** Records every job and task of the session so they can be attributed to
  * spans after the run. */
final class JobListener extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val open = scala.collection.mutable.Map.empty[Int, JobRec]
  private val tasks = ArrayBuffer.empty[TaskRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty))).map(_.toInt)
    open(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, e.stageIds, prop)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach(j => jobs += j.copy(endMs = e.time.toDouble))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
  }

  def snapshot(): (Seq[JobRec], Seq[TaskRec]) = synchronized((jobs.toSeq, tasks.toSeq))
}

/** Spark work attributed to a set of spans. */
final case class SparkCost(jobs: Int, stages: Int, tasks: Int, taskS: Double, skew: Double,
                           shuffleRead: Long, shuffleWrite: Long, spill: Long, gcS: Double,
                           driverOnlyS: Double, bytesWritten: Long)

object SparkCost {
  val Zero: SparkCost = SparkCost(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Job -> span id: the span named by the job's local property when that
    * span was open at submission, else the innermost span open at
    * submission. The property alone is not enough: jobs submitted from a
    * pooled thread carry the property the thread inherited when it was
    * created. */
  def attribute(spans: Seq[Span], jobs: Seq[JobRec]): Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    jobs.flatMap { j =>
      val viaProp = j.spanProp.flatMap(byId.get)
        .filter(s => s.start - 1 <= j.submitMs && j.submitMs <= s.end + 1)
      viaProp.orElse(Trace.innermost(spans, j.submitMs)).map(s => j.id -> s.id)
    }.toMap
  }

  /** Cost of the jobs attributed to `owned` spans (including their
    * descendants). Skew is the median over stages of at least two tasks of
    * max/median task duration. */
  def of(owned: Seq[Span], all: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec],
         jobSpan: Map[Int, Int]): SparkCost = {
    if (owned.isEmpty) return Zero
    val children = all.groupBy(_.parent)
    def subtree(s: Span): Seq[Int] = s.id +: children.getOrElse(s.id, Nil).flatMap(subtree)
    val ids = owned.flatMap(subtree).toSet
    val js = jobs.filter(j => jobSpan.get(j.id).exists(ids.contains))
    val stageIds = js.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageIds.contains(t.stage))
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val d = st.map(t => math.max(t.durMs, 1L).toDouble)
      d.max / Stats.median(d)
    }.toSeq
    val jobIntervals = js.map(j => (j.submitMs, if (j.endMs.isNaN) j.submitMs else j.endMs))
    val driverOnly = owned.map { s =>
      s.dur - Trace.coverage(jobIntervals, s.start, s.end) / 1000.0
    }.sum
    val stagesRun = ts.map(_.stage).distinct.size
    SparkCost(js.size, stagesRun, ts.size, ts.map(_.runMs).sum / 1000.0,
      if (skews.isEmpty) 1.0 else Stats.median(skews),
      ts.map(_.shuffleRead).sum, ts.map(_.shuffleWrite).sum, ts.map(_.spill).sum,
      ts.map(_.gcMs).sum / 1000.0, math.max(driverOnly, 0.0), ts.map(_.bytesWritten).sum)
  }
}
