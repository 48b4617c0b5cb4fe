package graft.drive

import org.apache.spark.sql.SparkSession
import graft.build.{CheckIndex, IndexBuilder, PagesGen}
import graft.merge.{MergeJob, TieredMergePolicy}
import graft.search._
import scala.util.Random

/** Scale soak #2: WAND fuzzing + tiered merge on a large corpus. */
object SoakMerge {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(500000L)
    val spark = SparkSession.builder()
      .master(s"local[${math.min(32, Runtime.getRuntime.availableProcessors)}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Files.createTempDirectory("graftsoak2").toString
    val pages = PagesGen.df(spark, n, partitions = 64).select("url", "text")
    IndexBuilder.build(spark, pages, base, IndexBuilder.BuildConfig(48, "standard", groupSize = 48))
    val s = new Searcher(spark, base)

    // WAND fuzz: random OR shapes, ks, zipf positions
    val rnd = new Random(99)
    var checked = 0
    (0 until 20).foreach { i =>
      val nt = 2 + rnd.nextInt(4)
      val terms = List.fill(nt)(PagesGen.word(rnd.nextInt(2000)))
      val k = 5 + rnd.nextInt(45)
      val q = BoolQ(terms.map(t => Occur.Should -> TermQ(t)))
      val plan = s.searchPlan(q, k).collect().map(r => (r.getString(0), r.getDouble(1))).toList
      val wand = s.searchWand(q, k).collect().map(r => (r.getString(0), r.getDouble(1))).toList
      require(plan == wand, s"WAND fuzz #$i mismatch: terms=$terms k=$k\nplan=${plan.take(4)}\nwand=${wand.take(4)}")
      checked += 1
    }
    println(s"SOAK2 wand fuzz: $checked/20 identical")

    // merge at scale: policy rounds, then invariance + CheckIndex
    val q = BoolQ(List(Occur.Should -> TermQ(PagesGen.word(3)), Occur.Should -> TermQ(PagesGen.word(42))))
    def canonical(se: Searcher) = se.search(q, 60).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(x => (-x._2, x._1)).toList
    val before = canonical(s)
    val policy = new TieredMergePolicy(segsPerTier = 3.0, maxMergeAtOnce = 6, floorSegmentDocs = 2000)
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => shuffled.addAndGet(m.shuffleWriteMetrics.bytesWritten))
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val merges = MergeJob.mergeToPolicy(spark, base, policy)
    val mergeSec = (System.nanoTime() - t0) / 1e9
    org.apache.spark.sql.execution.SparkInternals.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    println(f"SOAK2 merge: $merges rounds in $mergeSec%.1f s, ${shuffled.get} shuffle bytes written")
    val after = new Searcher(spark, base)
    val afterHits = canonical(after)
    val boundary = math.min(before.map(_._2).min, afterHits.map(_._2).min)
    require(before.filter(_._2 > boundary) == afterHits.filter(_._2 > boundary), "merge changed results!")
    val report = CheckIndex.run(spark, base)
    require(report.ok, report.violations.mkString("; "))
    println(s"SOAK2 post-merge: segs=${report.segments} docs=${report.docs} check_ok=${report.ok}")
    spark.stop()
  }
}
