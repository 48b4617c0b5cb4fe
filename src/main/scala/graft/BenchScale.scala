package graft

import org.apache.spark.sql.SparkSession
import graft.build.{IndexBuilder, PagesGen}
import graft.search._

/** Scaling-efficiency evidence (BASELINE.md protocol): the same index-build
  * job at two parallelism levels on the same deterministic synthetic corpus
  * (FIXTURES.md pages schema), plus query latency p50/p95 — writes
  * BENCH/BASELINE.md. Sandbox stand-in for the N-vs-4N-executors criterion
  * (efficiency = (rateHigh/rateLow)/4, target >= 0.8).
  *
  * Parallelism pair: local[2] vs local[8]. This container reports 32 hardware
  * threads on 16 physical cores; the 8->32 pair crosses the SMT boundary
  * (two tasks sharing one core's execution units), which measures
  * hyper-threading yield, not scheduler/partitioning scalability. 2->8 keeps
  * every task on a dedicated physical core — the honest analog of adding
  * executor nodes. The 8->32 pair is also run and reported for transparency.
  *
  * Run: sbt -batch "runMain graft.BenchScale" (env BENCH_N to resize corpus).
  */
object BenchScale {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def buildRun(cpus: Int, n: Long): (Double, Double) = {
    val spark = session(cpus)
    val idx = java.nio.file.Files.createTempDirectory(s"graftscale$cpus").toString
    val pages = PagesGen.df(spark, n, partitions = math.max(cpus * 2, 16)).select("url", "text")
    val t0 = System.nanoTime()
    IndexBuilder.build(spark, pages, idx,
      IndexBuilder.BuildConfig(numSegments = 64, analyzerName = "standard", groupSize = 64))
    val sec = (System.nanoTime() - t0) / 1e9
    // delete the trial index before the next run — ~20 such builds per
    // invocation otherwise fill /tmp
    new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(idx), true)
    spark.stop()
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    // flush dirty pages OUTSIDE the timed region: without this a trial's
    // writeback bleeds into the NEXT trial's wall (observed as bimodal
    // local[8] walls, 35 s then 45 s, in same-config back-to-back runs)
    try { new ProcessBuilder("sync").inheritIO().start().waitFor() }
    catch { case _: Exception => () }
    (sec, n / sec)
  }

  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.ceil(p * s.length).toInt - 1).max(0))
  }

  private val VarianceHeader = "## Variance disclosure"

  /** The variance-disclosure section of an old BASELINE.md (from its
    * header to EOF, with a leading newline) with `newRow` inserted after
    * the last row of the FIRST table under the header — a later table in
    * the section keeps its rows. No header: "". No table: the row is
    * appended. */
  private[graft] def carriedVariance(old: String, newRow: String): String = {
    val i = old.indexOf(VarianceHeader)
    if (i < 0) "" else {
      val lines = old.substring(i).stripLineEnd.split("\n", -1).toBuffer
      val first = lines.indexWhere(_.startsWith("|"))
      if (first < 0) lines.append(newRow)
      else {
        val end = lines.indexWhere(!_.startsWith("|"), first)
        lines.insert(if (end < 0) lines.length else end, newRow)
      }
      "\n" + lines.mkString("\n") + "\n"
    }
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("BENCH_N", "4000000").toLong
    val trials = sys.env.getOrElse("BENCH_TRIALS", "3").toInt

    // warm-up (JIT + FS cache), discarded per protocol
    buildRun(8, math.max(n / 20, 5000L))

    // MEDIAN of >=3 trials per config (the VERDICT r1 protocol note:
    // single-JVM walls have ±40% noise; medians are the honest statistic);
    // all trial walls are disclosed below
    def median(cpus: Int): (Double, Double, Seq[Double]) = {
      val runs = (0 until trials).map(_ => buildRun(cpus, n))
      // lower median for even counts (sorted by rate asc): never report the
      // better of the two middle runs as "the median"
      val med = runs.sortBy(_._2).apply((runs.length - 1) / 2)
      (med._1, med._2, runs.map(_._1))
    }
    val (sec2, rate2, walls2) = median(2)
    val (sec8, rate8, walls8) = median(8)
    val (sec32, rate32, walls32) = median(32)
    val efficiency = (rate8 / rate2) / 4.0
    val efficiencySmt = (rate32 / rate8) / 4.0

    // query latency on a local[32] index over the same corpus
    val spark = session(32)
    val idx = java.nio.file.Files.createTempDirectory("graftscaleq").toString
    val pages = PagesGen.df(spark, n, partitions = 64).select("url", "text")
    IndexBuilder.build(spark, pages, idx, IndexBuilder.BuildConfig(64, "standard", groupSize = 64))
    val s = new Searcher(spark, idx)
    s.maxDoc // warm stats

    val queries: Seq[(String, () => Unit)] = Seq(
      "term_freq" -> (() => s.search(TermQ(PagesGen.word(2)), 10).collect()), // auto-WAND
      "term_rare" -> (() => s.search(TermQ(PagesGen.word(3000)), 10).collect()),
      "or2_plan" -> (() => s.searchPlan(BoolQ(List(Occur.Should -> TermQ(PagesGen.word(2)),
        Occur.Should -> TermQ(PagesGen.word(50)))), 10).collect()),
      "or2_wand" -> (() => s.searchWand(BoolQ(List(Occur.Should -> TermQ(PagesGen.word(2)),
        Occur.Should -> TermQ(PagesGen.word(50)))), 10).collect()),
      "and2" -> (() => s.search(BoolQ(List(Occur.Must -> TermQ(PagesGen.word(2)),
        Occur.Must -> TermQ(PagesGen.word(50)))), 10).collect()),
      "phrase" -> (() => s.search(PhraseQ(List("quick" -> 0, "brown" -> 1)), 10).collect()),
      "prefix" -> (() => s.search(ConstantScoreQ(PrefixQ("wiki"), 1f), 10).collect()))

    val lat = queries.map { case (name, f) =>
      f() // warm
      val times = (0 until 5).map(_ => Bench.time(f()))
      (name, times)
    }
    val all = lat.flatMap(_._2)
    val p50 = pct(all.toList, 0.50)
    val p95 = pct(all.toList, 0.95)

    val md = new StringBuilder
    md.append("# BENCH/BASELINE — measured numbers (sandbox protocol)\n\n")
    md.append(s"Generated by `sbt -batch \"runMain graft.BenchScale\"` (BENCH_N=$n pages,\n")
    md.append("deterministic PagesGen corpus, FIXTURES.md schema; warm-up run discarded;\n")
    md.append("64 segments; standard analyzer; full chain: tokenize -> docs+norms ->\n")
    md.append("in-partition postings encode -> stats/manifest commit).\n\n")
    md.append(s"## Index-build throughput & N-vs-4N scaling efficiency (median of $trials trials/config)\n\n")
    md.append("This host exposes 32 hardware threads on 16 physical cores. The N-vs-4N\n")
    md.append("pair is local[2] -> local[8] (every task on a dedicated physical core —\n")
    md.append("the faithful analog of 4x executor nodes). local[32] crosses the SMT\n")
    md.append("boundary and is reported for transparency.\n\n")
    md.append(s"| config | median wall (s) | docs/sec | all trial walls (s) |\n|---|---|---|---|\n")
    md.append(f"| local[2]  | $sec2%.1f | ${rate2}%.0f | ${walls2.map(w => f"$w%.1f").mkString(", ")} |\n")
    md.append(f"| local[8]  | $sec8%.1f | ${rate8}%.0f | ${walls8.map(w => f"$w%.1f").mkString(", ")} |\n")
    md.append(f"| local[32] | $sec32%.1f | ${rate32}%.0f | ${walls32.map(w => f"$w%.1f").mkString(", ")} |\n\n")
    md.append(f"**Scaling efficiency N->4N (rate8/rate2)/4 = $efficiency%.3f** (target >= 0.8 per BASELINE.json).\n\n")
    md.append(f"(8->32, across the SMT boundary: (rate32/rate8)/4 = $efficiencySmt%.3f — bounded by\n")
    md.append("shared execution units + memory bandwidth, not by the engine's partitioning.)\n\n")
    md.append("## Query latency (local[32], top-10 BM25, 5 reps after warm-up)\n\n")
    md.append("| query | p50 (s) | p95 (s) | best (s) |\n|---|---|---|---|\n")
    lat.foreach { case (name, ts) =>
      md.append(f"| $name | ${pct(ts, 0.5)}%.3f | ${pct(ts, 0.95)}%.3f | ${ts.min}%.3f |\n")
    }
    md.append(f"\n**Overall p50 = $p50%.3f s, p95 = $p95%.3f s** across the fixture query set.\n\n")
    md.append("Latency floor is Spark job scheduling (~100-300 ms/job in local mode);\n")
    md.append("posting-list work is micro/milliseconds at this scale. At cluster scale the\n")
    md.append("same plan shape holds: term-pruned parquet scan -> per-segment WAND/plan ->\n")
    md.append("driver TopDocs merge.\n")

    // PRESERVE the variance-disclosure history across rewrites (the r5
    // workflow re-appended it by hand after every run): carry the existing
    // section over verbatim, with this run's row appended to its table.
    val baselinePath = java.nio.file.Paths.get("BENCH/BASELINE.md")
    val newRow = f"| $n%d-pages run | ${n / 1000000}%dM | $trials%d | $efficiency%.3f | appended by BenchScale |"
    val carried: String =
      if (java.nio.file.Files.exists(baselinePath))
        carriedVariance(new String(java.nio.file.Files.readAllBytes(baselinePath), "UTF-8"), newRow)
      else ""
    val out = new java.io.File("BENCH")
    out.mkdirs()
    val w = new java.io.PrintWriter("BENCH/BASELINE.md", "UTF-8")
    w.write(md.toString + carried)
    w.close()
    println(md.toString)
    println(s"""{"metric":"scaling_efficiency","value":$efficiency,"rate2":$rate2,"rate8":$rate8,"rate32":$rate32,"smt_efficiency":$efficiencySmt,"p50":$p50,"p95":$p95,"n":$n}""")
    spark.stop()
  }
}
