package graftbench

/** Checks of the benchmark's own logic, Spark-free:
  *
  *   java -cp <classpath> graftbench.SelfTest            # run the checks
  *   java -cp <classpath> graftbench.SelfTest --metrics  # print the metric lists as JSON
  *
  * Exits 1 if any check fails. `python3 perfbench/test_bench.py` builds and
  * runs this. */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) println(s"ok   $name")
    else { failures += 1; println(s"FAIL $name: $detail") }

  def main(args: Array[String]): Unit = {
    if (args.contains("--metrics")) {
      def list(xs: Seq[(String, String)]) = xs.map { case (n, u) => Seq("name" -> n, "unit" -> u) }
      println(Json.write(Seq("workloads" -> Seq("ingest", "serve"),
        "end_to_end" -> list(Main.EndToEnd), "per_layer" -> list(Main.PerLayer))))
      return
    }
    determinism()
    tailRule()
    selfTime()
    attribution()
    outcomes()
    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
    println("all checks passed")
  }

  /** Every generated input, as one digest. */
  private def inputs(seed: Long): String = {
    val g = new Gen(seed)
    val docs = g.corpus("t", 300)
    val lines = docs.iterator.map { case (u, t) => s"$u\t$t" } ++
      g.queryUniverse(docs, 200).iterator.map(q => s"${q.family}\t${q.query}") ++
      g.queryLog(200, 500).iterator.map(_.toString) ++
      g.updateStream("t", 300, 3, 30).iterator.map(_.toString) ++
      Iterator(g.plantedChains(1000, 12, 7, 10).toString)
    Gen.digest(lines)
  }

  def determinism(): Unit = {
    val a = inputs(7)
    check("same seed gives byte-identical inputs", a == inputs(7))
    check("another seed gives other inputs", a != inputs(8))
    // streams are independent of the order they are drawn in
    val g1 = new Gen(7)
    val g2 = new Gen(7)
    g2.updateStream("x", 100, 2, 30)
    check("a stream does not depend on draw order", g1.corpus("x", 20) == g2.corpus("x", 20))
    val pl = new Gen(7).plantedChains(1000, 96, 7, 10)
    check("planted chains are near-duplicate paths",
      pl.truth.size > pl.chains.map(_.size - 1).sum * 9 / 10 && pl.truth.size <= pl.chains.map(_.size - 1).sum,
      s"${pl.truth.size} planted pairs")
    check("chain lengths are the same for every seed",
      new Gen(1).plantedChains(0, 48, 7, 10).chains.map(_.size) ==
        new Gen(2).plantedChains(0, 48, 7, 10).chains.map(_.size))
    check("with 96 strata the longest chain passes a diameter of 20",
      Gen.chainLengths(96).max >= 21, s"${Gen.chainLengths(96).max}")
  }

  def tailRule(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("tail of 100 samples is p90", Stats.tail(xs) == (0.9, 90.0), s"${Stats.tail(xs)}")
    val beyond = xs.count(_ > Stats.tail(xs)._2)
    check("exactly 10 samples lie beyond the tail", beyond == 10, s"$beyond")
    check("tail of 1000 samples is p99", Stats.tail((1 to 1000).map(_.toDouble)) == (0.99, 990.0))
    check("under 2 x 10 samples the tail is the median",
      Stats.tail((1 to 15).map(_.toDouble)) == (0.5, 8.0), s"${Stats.tail((1 to 15).map(_.toDouble))}")
    check("22 samples: first percentile above the median",
      Stats.tail((1 to 22).map(_.toDouble)) == (12.0 / 22, 12.0))
    check("tail ignores input order", Stats.tail(xs.reverse) == Stats.tail(xs))
    check("median is nearest-rank", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
  }

  def selfTime(): Unit = {
    // parent [0, 100] ms with children [10, 30], [20, 50] (overlapping) and
    // [80, 120] (clipped at the parent's end): covered 40 + 20 = 60 ms
    val spans = Seq(Span(0, "op", -1, 0, 0, 100), Span(1, "a", 0, 0, 10, 30),
      Span(2, "b", 0, 0, 20, 50), Span(3, "c", 0, 0, 80, 120), Span(4, "d", 2, 0, 25, 35))
    val st = Trace.selfTimes(spans)
    check("self time = duration minus child coverage", math.abs(st(0) - 0.040) < 1e-9, s"${st(0)}")
    check("grandchildren count only for their parent", math.abs(st(2) - 0.020) < 1e-9, s"${st(2)}")
    check("a leaf's self time is its duration", math.abs(st(1) - 0.020) < 1e-9, s"${st(1)}")
    check("coverage of no intervals is 0", Trace.coverage(Nil, 0, 10) == 0.0)
  }

  def attribution(): Unit = {
    val spans = Seq(Span(0, "op", -1, 0, 0, 100), Span(1, "build", 0, 0, 10, 50), Span(2, "split", 0, 0, 50, 90))
    val jobs = Seq(
      JobRec(1, 20, 30, Seq(1), Some(1)), // property names the open span
      JobRec(2, 60, 70, Seq(2), Some(1)), // stale property from a pooled thread
      JobRec(3, 95, 99, Seq(3), None), // no property: innermost open span
      JobRec(4, 200, 210, Seq(4), None)) // outside every span
    val a = SparkCost.attribute(spans, jobs)
    check("job attributed through its span property", a.get(1).contains(1), s"$a")
    check("stale span property falls back to the open span", a.get(2).contains(2), s"$a")
    check("job without property goes to the innermost open span", a.get(3).contains(0), s"$a")
    check("job outside every span is unattributed", !a.contains(4), s"$a")
    val tasks = Seq(TaskRec(1, 10, 9, 1, 0, 100, 0, 0), TaskRec(1, 30, 28, 2, 0, 300, 0, 0),
      TaskRec(1, 10, 9, 0, 0, 0, 0, 0), TaskRec(2, 5, 5, 0, 7, 0, 0, 0))
    val c = SparkCost.of(Seq(spans(1)), spans, jobs, tasks, a)
    check("cost counts the span's jobs, stages and tasks", c.jobs == 1 && c.stages == 1 && c.tasks == 3, s"$c")
    check("skew is max over median task time", math.abs(c.skew - 3.0) < 1e-9, s"${c.skew}")
    check("driver-only time excludes job time", math.abs(c.driverOnlyS - 0.030) < 1e-9, s"${c.driverOnlyS}")
    check("an op's cost includes its children's jobs", SparkCost.of(Seq(spans(0)), spans, jobs, tasks, a).jobs == 3)
  }

  def outcomes(): Unit = {
    val o = new Outcomes
    o.attempt("good")(1)
    o.attempt("throws")(throw new IllegalArgumentException("did not converge"))
    o.check("right answer", passed = true)
    o.check("wrong answer", passed = false, "3 hits, want 1")
    check("attempted counts ops and checks", o.attempted == 4, s"${o.attempted}")
    check("failed counts throws and wrong answers", o.failed == 2 && o.wrongCount == 1, s"${o.failed}")
    check("failed share", o.failedFrac == 0.5, s"${o.failedFrac}")
    check("a cause is kept for every failure",
      o.causes.map(_._1) == Seq("throws", "wrong answer") && o.causes.head._2.contains("did not converge"),
      s"${o.causes}")
  }
}
