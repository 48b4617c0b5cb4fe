package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one measured window.
  *
  *   graftbench.Main --workload <ingest|serve> --seed <n>
  *                   --seconds <s> --trace <0|1> --work <dir> [--trace-out <file>]
  *
  * Prints `# detail {...}` lines, then as its last line one JSON object with
  * the keys correct, attempted, failed and metrics: the end-to-end metrics
  * with --trace 0, the per-layer metrics with --trace 1. */
object Main {

  /** Metrics every run reports with --trace 0 (name, unit). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "op_tail_ms" -> "ms", "peak_rss_mb" -> "MB")

  /** Metrics every run reports with --trace 1 (name, unit); a metric the
    * workload does not measure reads 0 and is listed on the detail line
    * under `not_measured`. */
  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.task_skew" -> "ratio", "spark.shuffle_read_bytes" -> "B",
    "spark.shuffle_write_bytes" -> "B", "spark.spill_bytes" -> "B", "spark.gc_s" -> "s",
    "spark.driver_only_s" -> "s", "spark.core_busy_share" -> "ratio",
    "analysis.tokens_per_s" -> "1/s", "analysis.tokens" -> "count",
    "codec.encode_postings_per_s" -> "1/s", "codec.decode_postings_per_s" -> "1/s",
    "codec.bytes_per_posting" -> "B",
    "build.s" -> "s", "build.jobs" -> "count", "build.shuffle_write_bytes" -> "B",
    "build.spill_bytes" -> "B", "build.task_skew" -> "ratio", "build.bytes_written" -> "B",
    "build.segments" -> "count", "build.delete_s" -> "s",
    "merge.split_s" -> "s", "merge.split_jobs" -> "count", "merge.split_shuffle_bytes" -> "B",
    "merge.bytes_rewritten" -> "B", "merge.policy_s" -> "s", "merge.policy_merges" -> "count",
    "search.open_s" -> "s") ++
    Seq("term", "or_plan", "or_wand", "and", "phrase", "prefix", "fuzzy", "wildcard")
      .map(f => s"search.cold.${f}_p50_ms" -> "ms") ++ Seq(
    "search.cold.jobs_per_query" -> "count", "search.cold.stages_per_query" -> "count",
    "search.cold.task_ms_per_query" -> "ms", "search.cold.driver_only_ms_per_query" -> "ms",
    "search.cold.first_ms" -> "ms", "search.cold.repeat_ms" -> "ms",
    "serving.warm_s" -> "s", "serving.warm_jobs" -> "count", "serving.pinned_bytes" -> "B",
    "serving.pinned_key_ratio" -> "ratio") ++
    Seq("term", "and", "wand_or", "phrase", "prefix", "fuzzy", "wildcard")
      .map(f => s"serving.${f}_p50_us" -> "us") ++ Seq(
    "serving.jobs_per_query" -> "count",
    "streaming.append_s" -> "s", "streaming.append_jobs" -> "count",
    "streaming.refresh_s" -> "s", "streaming.live_segments" -> "count",
    "dedup.pairs_s" -> "s", "dedup.clusters_s" -> "s", "dedup.clusters_jobs" -> "count",
    "dedup.pairs" -> "count", "dedup.dropped_rows" -> "count", "dedup.planted_recall" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB",
    "build_docs_per_s" -> "docs/s", "split_docs_per_s" -> "docs/s",
    "index_bytes_per_input_byte" -> "ratio",
    "cold_p50_ms" -> "ms", "cold_tail_ms" -> "ms", "warm_p50_us" -> "us", "warm_tail_us" -> "us",
    "update_visible_p50_s" -> "s", "update_query_p50_ms" -> "ms", "update_query_tail_ms" -> "ms",
    "merge_docs_per_s" -> "docs/s", "dedup_docs_per_s" -> "docs/s", "failed_frac" -> "ratio",
    "trace.overhead_share" -> "ratio")

  val SetupRepeats = 3

  def newSpark(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"graftbench: $msg")
    System.err.println("usage: --workload <ingest|serve> --seed <n> --seconds <s> " +
      "--trace <0|1> --work <dir> [--trace-out <file>]")
    sys.exit(2)
  }

  /** A run that throws exits with code 1 and prints no result; exiting
    * also stops Spark's non-daemon threads. */
  def main(argv: Array[String]): Unit =
    try run(argv)
    catch {
      case e: Exception =>
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(argv: Array[String]): Unit = {
    if (argv.length % 2 != 0) usage("arguments come in --name value pairs")
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    def arg(k: String): String = args.getOrElse(k, usage(s"missing --$k"))
    def num(k: String): Long = scala.util.Try(arg(k).toLong).getOrElse(usage(s"--$k must be a whole number"))
    val workload = Workloads.byName(arg("workload")).getOrElse(usage(s"unknown workload ${arg("workload")}"))
    val seed = num("seed")
    val seconds = num("seconds").toInt
    if (seconds < 1) usage("--seconds must be at least 1")
    val trace = arg("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val work = new File(arg("work"))
    work.mkdirs()

    val ctx = new Ctx(seed, trace, work)
    // set-up, repeated: each repetition starts a fresh Spark session and
    // regenerates the inputs; the last one is kept
    val setupTimes = (1 to SetupRepeats).map { rep =>
      val t0 = System.nanoTime()
      ctx.spark = newSpark(cores, work)
      workload.setup(ctx)
      val s = (System.nanoTime() - t0) / 1e9
      ctx.log(f"set-up $rep took $s%.2f s")
      if (rep < SetupRepeats) {
        ctx.spark.stop()
        Option(work.listFiles()).foreach(_.foreach(f => ctx.rm(f.getPath)))
        ctx.samples.clear()
      }
      s
    }
    if (trace) {
      ctx.listener = new JobListener
      ctx.spark.sparkContext.addSparkListener(ctx.listener)
    }

    workload.prepare(ctx)
    ctx.log("prepared")
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val w0 = System.nanoTime()
    workload.run(ctx, w0 + seconds * 1000000000L)
    val windowS = (System.nanoTime() - w0) / 1e9
    val gcS = (gcMs - gc0) / 1000.0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    ctx.log(s"window done: ${ctx.opLatencies.size} ops")
    workload.check(ctx)
    ctx.log("checks done")

    val ops = ctx.opLatencies.toSeq
    val (tailP, tailS) = Stats.tail(ops)
    val detail = ctx.detail
    detail ++= Seq("workload" -> workload.name, "seed" -> seed, "seconds" -> seconds,
      "cores" -> cores, "window_s" -> windowS, "setup_runs_s" -> setupTimes,
      "ops" -> ops.size, "ops_ok" -> ctx.okOpCount, "ops_per_s" -> ctx.okOpCount / ops.sum,
      "op_tail_pct" -> 100 * tailP,
      "checks_wrong" -> ctx.out.wrongCount)
    workload.workloadMetrics(ctx).foreach { case (k, v) => detail(k) = v }
    detail("samples") = ctx.samples.toSeq.map { case (k, xs) =>
      k -> Seq("n" -> xs.size, "p50" -> Stats.median(xs.toSeq), "max" -> xs.max)
    }
    detail("failures") = ctx.out.causes.groupBy(_._2).map { case (c, xs) =>
      Map("cause" -> c, "count" -> xs.size, "op" -> xs.head._1)
    }.toSeq

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val e2e = Map(
          "setup_s" -> Stats.median(setupTimes),
          "op_p50_ms" -> 1000 * Stats.median(ops),
          "op_tail_ms" -> 1000 * tailS,
          "peak_rss_mb" -> peakRssMb())
        EndToEnd.map { case (n, u) => (n, u, e2e(n)) }
      } else {
        org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
        val (jobs, tasks) = ctx.listener.snapshot()
        val spans = ctx.tracer.recorded
        val view = new SpanView(spans, jobs, tasks)
        val opSpans = view.named("op")
        val all = view.cost(opSpans)
        val opS = opSpans.map(_.dur).sum
        val lay = Layers.run(workload.sampleTexts(ctx), Workloads.Analyzer)
        ctx.layer ++= Seq[(String, Double)](
          "spark.jobs" -> all.jobs.toDouble, "spark.stages" -> all.stages.toDouble,
          "spark.tasks" -> all.tasks.toDouble, "spark.task_s" -> all.taskS,
          "spark.task_skew" -> all.skew, "spark.shuffle_read_bytes" -> all.shuffleRead.toDouble,
          "spark.shuffle_write_bytes" -> all.shuffleWrite.toDouble,
          "spark.spill_bytes" -> all.spill.toDouble, "spark.gc_s" -> all.gcS,
          "spark.driver_only_s" -> all.driverOnlyS,
          "spark.core_busy_share" -> (if (opS > 0) all.taskS / (cores * opS) else 0.0),
          "analysis.tokens_per_s" -> lay.tokensPerS, "analysis.tokens" -> lay.tokens.toDouble,
          "codec.encode_postings_per_s" -> lay.encodePerS,
          "codec.decode_postings_per_s" -> lay.decodePerS,
          "codec.bytes_per_posting" -> lay.bytesPerPosting,
          "jvm.gc_s" -> gcS, "jvm.heap_peak_mb" -> heapPeakMb,
          "failed_frac" -> ctx.out.failedFrac)
        overheadShare(ctx).foreach(ctx.layer("trace.overhead_share") = _)
        workload.layers(ctx, view)
        workload.workloadMetrics(ctx).foreach { case (k, v) => ctx.layer(k) = v }
        // a metric of a layer the workload does not exercise, or one it
        // cannot measure, is printed as 0 and named here
        detail("not_measured") = PerLayer.map(_._1).filterNot(ctx.layer.contains)
        detail("spans") = spans.size
        detail("span_self_s") = view.selfS.toSeq.sortBy(-_._2).map { case (n, s) => Map("span" -> n, "self_s" -> s) }
        args.get("trace-out").foreach(p => writeSpans(new File(p), spans, jobs, SparkCost.attribute(spans, jobs)))
        val unknown = ctx.layer.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
        PerLayer.map { case (n, u) => (n, u, ctx.layer.getOrElse(n, 0.0)) }
      }
    ctx.spark.stop()
    ctx.rm(work.getPath)

    println("# detail " + Json.write(detail.toSeq))
    val broken = metrics.filter { case (_, _, v) => v.isNaN || v.isInfinite }
    if (broken.nonEmpty) {
      System.err.println(s"graftbench: metrics without a finite value: ${broken.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
    val result = Seq(
      "correct" -> (ctx.out.wrongCount == 0),
      "attempted" -> ctx.out.attempted,
      "failed" -> ctx.out.failed,
      "metrics" -> metrics.map { case (n, u, v) => n -> Seq("value" -> v, "unit" -> u) })
    println(Json.write(result))
  }

  /** Relative latency cost of tracing: median traced op over median
    * untraced op of the kind with the most samples on both sides, minus 1;
    * None when no op kind ran both traced and untraced. */
  def overheadShare(ctx: Ctx): Option[Double] = {
    val kinds = ctx.samples.keys.collect { case k if k.startsWith("traced/") => k.stripPrefix("traced/") }
    val both = kinds.toSeq.flatMap { k =>
      for (t <- ctx.samples.get(s"traced/$k"); u <- ctx.samples.get(s"untraced/$k"))
        yield (math.min(t.size, u.size), Stats.median(t.toSeq), Stats.median(u.toSeq))
    }
    if (both.isEmpty) None else { val (_, t, u) = both.maxBy(_._1); Some(t / u - 1) }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def writeSpans(f: File, spans: Seq[Span], jobs: Seq[JobRec], jobSpan: Map[Int, Int]): Unit = {
    Option(f.getAbsoluteFile.getParentFile).foreach(_.mkdirs())
    val bySpan = jobSpan.groupBy(_._2).map { case (s, js) => s -> js.keys.toSeq.sorted }
    val st = Trace.selfTimes(spans)
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.write(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.start, "end_ms" -> s.end, "self_s" -> st(s.id),
        "jobs" -> bySpan.getOrElse(s.id, Nil))))
    } finally w.close()
  }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] => write(m.toSeq.map { case (k, x) => k.toString -> x })
    case kv: Seq[_] if kv.nonEmpty && kv.forall { case (_: String, _) => true; case _ => false } =>
      kv.map { case (k: String, x) => quote(k) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
