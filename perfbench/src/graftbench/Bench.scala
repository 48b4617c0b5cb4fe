package graftbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** State of one benchmark run: the session, the tracer, the outcome
  * bookkeeping and every timed sample. */
final class Ctx(seed: Long, val trace: Boolean, val work: File) {
  val gen = new Gen(seed)
  val out = new Outcomes
  var spark: SparkSession = _
  var listener: JobListener = _
  val tracer = new Tracer(trace, spark.sparkContext)

  /** Named samples: latencies in seconds, keyed "<kind>" (e.g. "cold.term"). */
  val samples: mutable.Map[String, ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** Latency of every measured operation, all kinds, in seconds. */
  val opLatencies = ArrayBuffer.empty[Double]
  /** Per-layer figures a workload computes itself (not from spans). */
  val layer: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  /** Workload figures printed on the detail line. */
  val detail: mutable.Map[String, Any] = mutable.LinkedHashMap.empty
  private var okOps = 0L
  /** Per op kind: whether its next op runs traced. */
  private val traceNext = mutable.Map.empty[String, Boolean].withDefaultValue(true)

  private val born = System.nanoTime()
  /** Progress line on standard error. */
  def log(msg: String): Unit = System.err.println(f"graftbench: ${(System.nanoTime() - born) / 1e9}%7.1f s  $msg")

  def sample(kind: String, s: Double): Unit = samples.getOrElseUpdate(kind, ArrayBuffer.empty) += s
  def okOpCount: Long = okOps

  /** One measured operation of the closed loop. Its latency counts whether
    * it succeeds or throws; a throw is a failed op. In a traced run every
    * other op of a kind runs traced, the first one included, so the
    * untraced ones measure the tracing overhead in the same run. */
  def op[A](kind: String)(f: => A): Option[A] = {
    tracer.beginOp()
    val traced = trace && traceNext(kind)
    traceNext(kind) = !traceNext(kind)
    tracer.active = traced
    val t0 = System.nanoTime()
    val r = out.attempt(kind)(tracer.span("op")(f))
    val s = (System.nanoTime() - t0) / 1e9
    tracer.active = trace
    opLatencies += s
    sample(if (traced) s"traced/$kind" else s"untraced/$kind", s)
    if (r.isDefined) okOps += 1
    r
  }

  /** Time `f` as a named sample (a part of an op, in seconds), whether it
    * returns or throws. */
  def timed[A](kind: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally sample(kind, (System.nanoTime() - t0) / 1e9)
  }

  def path(name: String): String = new File(work, name).getAbsolutePath

  def rm(p: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
      f.delete()
    }
    del(new File(p))
  }

  def dirBytes(p: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc") || f.getName.startsWith("_")) 0L
      else f.length()
    walk(new File(p))
  }

  def pages(docs: Seq[(String, String)]): DataFrame =
    spark.createDataFrame(docs).toDF("url", "text")
}

/** A workload: set-up (repeated to time it; only the last one is used), a
  * closed measured loop of one client, then output checks. */
trait Workload {
  def name: String
  def setup(ctx: Ctx): Unit
  /** Untimed preparation after set-up: warm-up and pinning. */
  def prepare(ctx: Ctx): Unit
  /** Run the measured operations. Only a phase whose op count may vary
    * (serve's warm replay) ends at `deadline` (System.nanoTime); every
    * other op runs whatever the window, so its latency always has the
    * same rank among the run's ops. */
  def run(ctx: Ctx, deadline: Long): Unit
  /** Output checks after the window; each counts as an operation. */
  def check(ctx: Ctx): Unit
  /** Per-layer figures from this workload's samples and spans. */
  def layers(ctx: Ctx, spans: SpanView): Unit
  /** The workload's own figures (its entries in the per-layer list). */
  def workloadMetrics(ctx: Ctx): Seq[(String, Double)]
  /** Corpus sample for the Spark-free analysis and codec timings. */
  def sampleTexts(ctx: Ctx): Seq[String]
}

/** Spans of the traced ops of a run, with their attributed Spark cost. */
final class SpanView(all: Seq[Span], jobs: Seq[JobRec], tasks: Seq[TaskRec]) {
  private val jobSpan = SparkCost.attribute(all, jobs)
  def named(name: String): Seq[Span] = all.filter(_.name == name)
  def cost(spans: Seq[Span]): SparkCost = SparkCost.of(spans, all, jobs, tasks, jobSpan)
  def cost(name: String): SparkCost = cost(named(name))
  def count(name: String): Int = named(name).size
  def medianS(name: String): Double = {
    val d = named(name).map(_.dur)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }
  /** Per-call average of a cost over the spans named `name`. */
  def perCall(name: String)(f: SparkCost => Double): Double = {
    val n = count(name)
    if (n == 0) 0.0 else f(cost(name)) / n
  }
  def selfS: Map[String, Double] = {
    val st = Trace.selfTimes(all)
    all.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => st(s.id)).sum }
  }
}
