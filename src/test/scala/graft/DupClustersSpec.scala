package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkInternals
import graft.pipeline.{Dedup, PipelineMetrics}

/** Duplicate clustering (connected components of the dup-pair graph, each
  * doc labelled by its component minimum). Every case runs on both paths:
  * the driver union-find taken when the edges fit Spark's broadcast budget,
  * and the large-star/small-star rounds, forced by turning broadcasting off
  * (`spark.sql.autoBroadcastJoinThreshold = -1`).
  */
class DupClustersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `distributed` values: the driver union-find, then the star rounds. */
  private val BothPaths = Seq(false, true)

  private def clusters(pairs: Seq[(Long, Long)], distributed: Boolean): Map[Long, Long] = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    if (distributed) spark.conf.set(key, "-1")
    try {
      val out = Dedup.dupClusters(pairs.toDF("ida", "idb"))
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(out.length == out.map(_._1).distinct.length, "one label per doc")
      val stats = PipelineMetrics.lastClusters
      assert(if (distributed) !stats.inMemory
        else stats == PipelineMetrics.ClusterStats(0, inMemory = true))
      out.toMap
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Union-find reference: every node of a pair -> its component minimum. */
  private def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  test("a chain collapses to one cluster labeled by its minimum") {
    // 7-3, 3-9, 9-5: one component, min id 3
    for (dist <- BothPaths)
      assert(clusters(Seq((7L, 3L), (3L, 9L), (9L, 5L)), dist) ==
        Map(3L -> 3L, 5L -> 3L, 7L -> 3L, 9L -> 3L))
  }

  test("separate components keep separate representatives") {
    for (dist <- BothPaths)
      assert(clusters(Seq((1L, 2L), (10L, 11L), (11L, 12L)), dist) ==
        Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("a long path needs diameter rounds and converges") {
    val path = (1L to 6L).sliding(2).map(s => (s(1), s(0))).toSeq // 2-1,3-2,...,6-5
    for (dist <- BothPaths)
      assert(clusters(path, dist) == (1L to 6L).map(_ -> 1L).toMap)
  }

  test("a diameter-1000 chain converges to its minimum") {
    // 1001 ids in seeded random order along the chain: the minimum sits
    // somewhere in the middle, not at an end
    val ids = new scala.util.Random(7).shuffle((100L to 1100L).toVector)
    val chain = ids.sliding(2).map(s => (s(0), s(1))).toSeq
    val want = ids.map(_ -> 100L).toMap
    assert(clusters(chain, distributed = false) == want)
    assert(clusters(chain, distributed = true) == want)
    val stats = PipelineMetrics.lastClusters
    assert(stats.rounds >= 1)
    assert(stats.rounds <= 2 * 10, s"${stats.rounds} rounds > 2 * ceil(log2 1000)")
  }

  test("a seeded forest of chains and stars matches a union-find reference") {
    val rnd = new scala.util.Random(42)
    val ids = rnd.shuffle((0L until 600L).toVector).iterator
    val pairs = (0 until 24).flatMap { c =>
      val nodes = Vector.fill(5 + rnd.nextInt(15))(ids.next())
      if (c % 2 == 0) nodes.sliding(2).map(s => (s(0), s(1))).toSeq // chain
      else nodes.tail.map(leaf => if (rnd.nextBoolean()) (nodes.head, leaf) else (leaf, nodes.head)) // star
    } ++ Seq((5000L, 5000L), (5001L, 5002L), (5002L, 5001L)) // self-pair, both orientations
    val want = reference(pairs)
    for (dist <- BothPaths) assert(clusters(pairs, dist) == want)
  }

  /** Σ task result bytes of `body`. */
  private def resultBytes(body: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    SparkInternals.observe(spark.sparkContext, new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.resultSize)
    })(body)
    bytes.get
  }

  test("the edge set is sized before any edge row reaches the driver") {
    // a 20,000-leaf star centred on its minimum is already a star forest, so
    // the rounds stop at their first check without collecting edges; random
    // leaf ids keep collected rows from compressing away
    val rnd = new scala.util.Random(11)
    val star = Seq.fill(20000)((0L, 1L + (rnd.nextLong() >>> 2))).toDF("ida", "idb")
      .localCheckpoint() // a distributed input, as pairs come from nearDupPairs
    // within the default budget: count, then collect
    val jobs = SparkInternals.jobsOf(spark.sparkContext)(Dedup.dupClusters(star))
    assert(PipelineMetrics.lastClusters == PipelineMetrics.ClusterStats(0, inMemory = true))
    assert(jobs <= 2, s"$jobs jobs")
    // above a 10,000-row budget (24 bytes a row): only the count is shipped.
    // Shipping budget + 1 rows first measured 200 KB here, this path 32 KB.
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, (24 * 10000).toString)
    val bytes =
      try resultBytes(Dedup.dupClusters(star))
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(PipelineMetrics.lastClusters == PipelineMetrics.ClusterStats(0, inMemory = false))
    assert(bytes < 80000, s"$bytes task result bytes")
  }

  test("docs without a pair are not emitted") {
    for (dist <- BothPaths) assert(!clusters(Seq((1L, 2L)), dist).contains(3L))
  }
}
