package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkInternals
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.build.{CheckIndex, Deletes, DictTable, IndexBuilder, PagesGen}
import graft.merge.MergeJob
import graft.search._
import java.nio.file.Files

/** splitIndex (IndexSplitter / MultiPassIndexSplitter analog): re-sharding a
  * committed index must be CONTENT-IDENTICAL to a fresh build of the same
  * live corpus at the new segment count — docs, stats, and query results —
  * with deletes applied and no re-analysis.
  */
class SplitIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 300
  private val Dropped = 7 // urls deleted before the split

  private lazy val env = {
    import spark.implicits._
    val base = Files.createTempDirectory("graftsplit").toString
    val pages = PagesGen.local(N)
    val df = spark.createDataFrame(pages).toDF("url", "text")
    IndexBuilder.build(spark, df, s"$base/src",
      IndexBuilder.BuildConfig(5, "standard", groupSize = 8))
    val deletedUrls = pages.map(_._1).take(Dropped)
    Deletes.deleteUrls(spark, s"$base/src", deletedUrls.toDF("url"))

    val live = MergeJob.splitIndex(spark, s"$base/src", s"$base/dst", 3)

    // the reference build: same LIVE corpus, fresh 3-segment build
    val liveDf = spark.createDataFrame(pages.filterNot(p => deletedUrls.contains(p._1)))
      .toDF("url", "text")
    IndexBuilder.build(spark, liveDf, s"$base/ref",
      IndexBuilder.BuildConfig(3, "standard", groupSize = 8))
    (base, live, deletedUrls)
  }

  private def resultSet(s: Searcher, q: Query, k: Int): List[(String, Float)] =
    s.search(q, k).collect()
      .map(r => (r.getString(0), r.getDouble(1).toFloat)).toList
      .sortBy { case (u, sc) => (-sc, u) }

  test("split applies deletes and reports the live doc count") {
    assert(env._2 == N - Dropped)
  }

  test("CheckIndex passes on the split output") {
    val report = CheckIndex.run(spark, s"${env._1}/dst")
    assert(report.ok, report.violations.mkString("; "))
    assert(report.docs == N - Dropped)
    assert(report.segments == 3)
  }

  test("doc store identical to a fresh build at the new segment count") {
    val dst = spark.read.parquet(IndexBuilder.docsPath(s"${env._1}/dst"))
      .selectExpr("cast(segmentId as int)", "docId", "url", "fieldLen", "normByte")
      .collect().map(_.toString).sorted
    val ref = spark.read.parquet(IndexBuilder.docsPath(s"${env._1}/ref"))
      .selectExpr("cast(segmentId as int)", "docId", "url", "fieldLen", "normByte")
      .collect().map(_.toString).sorted
    assert(dst.sameElements(ref))
  }

  test("stats identical to the fresh build") {
    val dst = spark.read.parquet(s"${env._1}/dst/stats").collect().map(_.toString).sorted
    val ref = spark.read.parquet(IndexBuilder.statsPath(spark, s"${env._1}/ref"))
      .collect().map(_.toString).sorted
    assert(dst.sameElements(ref))
  }

  test("a split that applied deletes rebuilds the dictionary like the fresh build") {
    val (dst, ref) = (s"${env._1}/dst", s"${env._1}/ref")
    def rows(path: String) = spark.read.parquet(path).collect().map(_.toString).toSeq
    assert(DictTable.isValid(spark, dst))
    assert(rows(DictTable.dictPath(dst)) == rows(DictTable.dictPath(ref)))
    assert(rows(DictTable.gramsPath(dst)) == rows(DictTable.gramsPath(ref)))
  }

  test("term, boolean and phrase results match the fresh build exactly") {
    val s = new Searcher(spark, s"${env._1}/dst")
    val r = new Searcher(spark, s"${env._1}/ref")
    val term = TermQ(PagesGen.word(5))
    assert(resultSet(s, term, 25) == resultSet(r, term, 25))
    val bool = BoolQ(List(Occur.Should -> TermQ(PagesGen.word(2)),
      Occur.Should -> TermQ(PagesGen.word(9))))
    assert(resultSet(s, bool, 15) == resultSet(r, bool, 15))
  }

  test("partitionIndex: PK predicate split is exhaustive, exclusive and searchable") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = env._1
    val mid = PagesGen.local(N).map(_._1).sorted.apply(N / 2)
    val (a, b) = MergeJob.partitionIndex(spark, s"$base/src",
      s"$base/pkA", s"$base/pkB", col("url") < mid)
    assert(a + b == N - Dropped)
    val urlsA = spark.read.parquet(IndexBuilder.docsPath(s"$base/pkA"))
      .select("url").as[String].collect().toSet
    val urlsB = spark.read.parquet(IndexBuilder.docsPath(s"$base/pkB"))
      .select("url").as[String].collect().toSet
    assert(urlsA.forall(_ < mid) && urlsB.forall(_ >= mid))
    assert((urlsA & urlsB).isEmpty)
    // match SETS union to the source (scores legitimately differ: each
    // partition carries its own collection stats, as in the reference)
    val q = TermQ(PagesGen.word(5))
    def matchUrls(path: String): Set[String] = {
      val s = new Searcher(spark, path)
      s.search(q, N).collect().map(_.getString(0)).toSet
    }
    val src = new Searcher(spark, s"$base/src")
    val srcUrls = src.search(q, N).collect().map(_.getString(0)).toSet
    assert((matchUrls(s"$base/pkA") ++ matchUrls(s"$base/pkB")) == srcUrls)
  }

  /** Physical plans of every SQL execution `body` runs. */
  private def plansOf(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; SparkInternals.drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[String]).toSeq
  }

  /** The permutation join — the inner join on (segmentId, docId) that
    * rebases postings and vectors — planned as a broadcast or a shuffle. */
  private def permJoin(kind: String) =
    (kind + """ \[segmentId#\d+, docId#\d+\], \[segmentId#\d+, docId#\d+\], Inner""").r
  private val permBroadcast = permJoin("BroadcastHashJoin")
  private val permShuffled = permJoin("(SortMergeJoin|ShuffledHashJoin)")

  private def splitPlans(dst: String): Seq[String] =
    plansOf(MergeJob.splitIndex(spark, s"${env._1}/src", s"${env._1}/$dst", 3))

  test("split broadcasts a permutation that fits the broadcast threshold") {
    val plans = splitPlans("bcastDefault")
    assert(plans.exists(p => permBroadcast.findFirstIn(p).isDefined),
      plans.mkString("no broadcast permutation join in:\n", "\n----\n", ""))
  }

  test("split shuffles a permutation above spark.sql.autoBroadcastJoinThreshold") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1024")
    val plans =
      try splitPlans("bcast1k")
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(plans.exists(p => permShuffled.findFirstIn(p).isDefined),
      plans.mkString("no shuffled permutation join in:\n", "\n----\n", ""))
    plans.foreach { p =>
      assert(permBroadcast.findFirstIn(p).isEmpty, s"permutation broadcast past a 1 KB threshold:\n$p")
    }
  }

  test("deleted urls are gone from the split output") {
    import spark.implicits._
    val urls = spark.read.parquet(IndexBuilder.docsPath(s"${env._1}/dst"))
      .select("url").as[String].collect().toSet
    env._3.foreach(u => assert(!urls.contains(u), u))
    assert(urls.size == N - Dropped)
  }
}
