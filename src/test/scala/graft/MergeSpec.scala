package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.StandardAnalyzer
import graft.build.{CheckIndex, IndexBuilder, PagesGen}
import graft.merge.{MergeJob, TieredMergePolicy}
import graft.search._
import java.nio.file.Files

/** Merge invariance (SURVEY.md §5 item 3): pre- vs post-merge indexes give
  * identical (key, score) results — scores are invariant because BM25 depends
  * only on global stats, tf and length; tie ORDER may change because docIDs
  * are ephemeral across merges (as in the reference, MergeDocIDRemapper).
  * CheckIndex validates every invariant post-merge.
  */
class MergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 300

  private lazy val (preSearcher, postSearcher, mergedPath) = {
    val base = Files.createTempDirectory("graftmerge").toString
    val df = spark.createDataFrame(PagesGen.local(N)).toDF("url", "text")
    IndexBuilder.build(spark, df, s"$base/pre", IndexBuilder.BuildConfig(8, "standard", groupSize = 8))
    IndexBuilder.build(spark, df, s"$base/post", IndexBuilder.BuildConfig(8, "standard", groupSize = 8))
    val policy = new TieredMergePolicy(segsPerTier = 2.0, maxMergeAtOnce = 4, floorSegmentDocs = 5)
    val merges = MergeJob.mergeToPolicy(spark, s"$base/post", policy)
    assert(merges >= 1, "expected at least one merge round")
    (new Searcher(spark, s"$base/pre"), new Searcher(spark, s"$base/post"), s"$base/post")
  }

  private def resultSet(s: Searcher, q: Query, k: Int): List[(String, Float)] =
    s.search(q, k).collect()
      .map(r => (r.getString(0), r.getDouble(1).toFloat)).toList
      .sortBy { case (u, sc) => (-sc, u) }

  test("merge reduces segment count per tiered policy") {
    import spark.implicits._
    val segs = spark.read.parquet(IndexBuilder.statsPath(spark, mergedPath))
      .select("segmentId").as[Int].collect().toSet
    assert(segs.size < 8)
  }

  test("CheckIndex passes on the merged index") {
    val report = CheckIndex.run(spark, mergedPath)
    assert(report.ok, report.violations.mkString("; "))
    assert(report.docs == N)
    assert(report.segments < 8)
  }

  test("term query scores invariant across merge") {
    val q = TermQ(PagesGen.word(5))
    assert(resultSet(preSearcher, q, 20) == resultSet(postSearcher, q, 20))
  }

  test("boolean and phrase queries invariant across merge") {
    val q1 = BoolQ(List(Occur.Should -> TermQ(PagesGen.word(2)), Occur.Should -> TermQ(PagesGen.word(9))))
    assert(resultSet(preSearcher, q1, 15) == resultSet(postSearcher, q1, 15))
    // phrase scores are heavily tied (freq=1, quantized norms) — when k cuts
    // inside a tie group the selected members legitimately differ across a
    // merge (ephemeral docIDs, as in Lucene). Request k >= all hits so the
    // full result set must match.
    val q2 = PhraseQ(List("quick" -> 0, "brown" -> 1))
    val kAll = preSearcher.count(q2).toInt + 5
    assert(resultSet(preSearcher, q2, kAll) == resultSet(postSearcher, q2, kAll))
  }

  test("global stats invariant across merge") {
    assert(preSearcher.maxDoc == postSearcher.maxDoc)
    assert(preSearcher.sumTotalTermFreq == postSearcher.sumTotalTermFreq)
    val t = PagesGen.word(3)
    assert(preSearcher.termStats(Set(t)) == postSearcher.termStats(Set(t)))
  }

  test("commit atomicity: orphan segment dirs (simulated crash) are invisible") {
    // simulate a crash between the data renames and the stats-generation
    // flip: a segment dir exists on disk but is absent from the committed
    // stats — readers and CheckIndex must not see it
    val base = Files.createTempDirectory("graftatomic").toString
    val df = spark.createDataFrame(PagesGen.local(120)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(2, "standard"))
    val q = TermQ(PagesGen.word(2))
    val s0 = new Searcher(spark, base)
    val before = resultSet(s0, q, s0.count(q).toInt + 5)
    val n0 = s0.count(MatchAllQ)

    val conf = spark.sparkContext.hadoopConfiguration
    import org.apache.hadoop.fs.{FileUtil, Path}
    Seq(IndexBuilder.docsPath(base), IndexBuilder.postingsPath(base)).foreach { p =>
      val fs = new Path(p).getFileSystem(conf)
      FileUtil.copy(fs, new Path(s"$p/segmentId=0"), fs, new Path(s"$p/segmentId=99"), false, conf)
    }
    val s1 = new Searcher(spark, base)
    assert(s1.count(MatchAllQ) == n0)
    assert(resultSet(s1, q, s1.count(q).toInt + 5) == before)
    val report = CheckIndex.run(spark, base)
    assert(report.ok, report.violations.mkString("; "))
    // and a completed merge cleans the orphans' world up via the gen flip
    val m = MergeJob.merge(spark, base, List(0, 1))
    val s2 = new Searcher(spark, base)
    assert(s2.count(MatchAllQ) == n0)
    assert(s2.liveSegments == Set(m))
  }

  test("pointer-file commit: a half-published stats generation is invisible") {
    // object-store safety (VERDICT r3 #2): directory rename is a non-atomic
    // copy+delete on S3-style stores, so a reader listing mid-publish can
    // see a PARTIAL stats generation under the old dir-rename protocol.
    // The pointer protocol makes that state unobservable: a generation
    // exists only once its commits/segments_N pointer file (one atomic
    // single-object PUT) exists.
    import org.apache.hadoop.fs.{FileUtil, Path}
    val base = Files.createTempDirectory("graftpointer").toString
    val df = spark.createDataFrame(PagesGen.local(120)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(2, "standard"))
    MergeJob.merge(spark, base, List(0, 1))

    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(base).getFileSystem(conf)
    // the merge committed generation 1 through a pointer file
    assert(fs.exists(new Path(s"${IndexBuilder.commitsPath(base)}/segments_1")))
    assert(IndexBuilder.statsGen(spark, base) == 1L)
    assert(IndexBuilder.statsPath(spark, base).endsWith("stats_g1"))
    val q = TermQ(PagesGen.word(2))
    val s1 = new Searcher(spark, base)
    val n0 = s1.count(MatchAllQ)
    val before = resultSet(s1, q, s1.count(q).toInt + 5)

    // simulate an in-flight NON-ATOMIC publish: stats_g2 holds only PART of
    // the generation (one data file copied so far) and no pointer — exactly
    // what a reader could list mid-"rename" on an object store
    val g1 = new Path(s"$base/stats_g1")
    val g2 = new Path(s"$base/stats_g2")
    val parts = fs.listStatus(g1).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
    fs.mkdirs(g2)
    FileUtil.copy(fs, parts.head, fs, new Path(g2, parts.head.getName), false, conf)

    // the OLD dir-listing discovery would resolve the partial generation...
    val legacyMax = fs.listStatus(new Path(base)).map(_.getPath.getName).collect {
      case "stats" => 0L
      case n if n.startsWith("stats_g") && n.drop(7).forall(_.isDigit) => n.drop(7).toLong
    }.max
    assert(legacyMax == 2L, "test setup: legacy listing should see the orphan")
    // ...but pointer discovery still serves the complete generation 1
    assert(IndexBuilder.statsGen(spark, base) == 1L)
    val s2 = new Searcher(spark, base)
    assert(s2.count(MatchAllQ) == n0)
    assert(resultSet(s2, q, s2.count(q).toInt + 5) == before)
    assert(CheckIndex.run(spark, base).ok)

    // completing the copy + the pointer PUT flips visibility atomically
    parts.tail.foreach(p => FileUtil.copy(fs, p, fs, new Path(g2, p.getName), false, conf))
    IndexBuilder.commitPointer(spark, base, 2L, "stats_g2")
    assert(IndexBuilder.statsGen(spark, base) == 2L)
    val s3 = new Searcher(spark, base)
    assert(s3.count(MatchAllQ) == n0)
    assert(resultSet(s3, q, s3.count(q).toInt + 5) == before)
  }

  test("merged ids live in their own band: future streaming batches cannot clobber") {
    // regression: target = max(id)+1 used to equal the NEXT streaming
    // batch's deterministic id, which dynamic-overwrite would then replace
    val base = Files.createTempDirectory("graftband").toString
    val spark2 = spark
    import org.apache.spark.sql.functions._
    def batchDf(tag: String, n: Int) = spark2.createDataFrame(
      PagesGen.local(n).map { case (u, t) => (s"$tag/$u", t) }).toDF("url", "text")
    graft.streaming.StreamingIndexer.ensureConfig(spark2, base, "standard")
    graft.streaming.StreamingIndexer.appendBatch(spark2, batchDf("b0", 60), base,
      "standard", segmentsPerBatch = 2, batchId = 0)
    graft.streaming.StreamingIndexer.appendBatch(spark2, batchDf("b1", 60), base,
      "standard", segmentsPerBatch = 2, batchId = 1)
    val live = new Searcher(spark2, base).liveSegments.toList.sorted
    val merged = MergeJob.merge(spark2, base, live)
    assert(merged >= IndexBuilder.MergeIdOffset, s"merged id $merged must be in the merge band")
    // the NEXT batch's ids are below the merge band — nothing clobbered
    graft.streaming.StreamingIndexer.appendBatch(spark2, batchDf("b2", 60), base,
      "standard", segmentsPerBatch = 2, batchId = 2)
    val s = new Searcher(spark2, base)
    assert(s.count(MatchAllQ) == 180)
    val report = CheckIndex.run(spark2, base)
    assert(report.ok, report.violations.mkString("; "))
  }

  test("re-merging a piece-split segment stitches pieces in docId order") {
    // the first merge writes several pieces per term (pieceEntries = 8);
    // merging it again must stitch same-segmentId pieces in docId order, not
    // source order (regression: crashed on non-increasing docIds)
    val base = Files.createTempDirectory("graftremerge").toString
    val df = spark.createDataFrame(PagesGen.local(160)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    val q = BoolQ(List(Occur.Should -> TermQ(PagesGen.word(2)), Occur.Should -> TermQ(PagesGen.word(9))))
    val pre = new Searcher(spark, base)
    val kAll = pre.count(q).toInt + 5 // ties at a smaller k cut differently across ephemeral ids
    val before = resultSet(pre, q, kAll)
    val m1 = MergeJob.merge(spark, base, List(0, 1), pieceEntries = 8) // piece rows
    val m2 = MergeJob.merge(spark, base, List(m1, 2))                  // re-merge piece rows
    MergeJob.merge(spark, base, List(m2, 3), pieceEntries = 8)
    val report = CheckIndex.run(spark, base)
    assert(report.ok, report.violations.mkString("; "))
    assert(report.segments == 1)
    assert(resultSet(new Searcher(spark, base), q, kAll) == before)
  }

  test("postings written without payload and offset columns still merge and split") {
    val base = Files.createTempDirectory("graftlegacycols").toString
    val df = spark.createDataFrame(PagesGen.local(120)).toDF("url", "text")
    IndexBuilder.build(spark, df, s"$base/idx", IndexBuilder.BuildConfig(2, "standard", groupSize = 2))
    // the postings of an index from before the payload / offset streams
    val postings = IndexBuilder.postingsPath(s"$base/idx")
    spark.read.parquet(postings).drop("payloads", "offsets")
      .write.partitionBy("segmentId").parquet(s"$base/legacy")
    val fs = new org.apache.hadoop.fs.Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(postings), true)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$base/legacy"), new org.apache.hadoop.fs.Path(postings)))
    spark.catalog.refreshByPath(postings)
    val pre = new Searcher(spark, s"$base/idx")
    val q = TermQ(PagesGen.word(2))
    val kAll = pre.count(q).toInt + 5
    val before = resultSet(pre, q, kAll)
    MergeJob.splitIndex(spark, s"$base/idx", s"$base/split", 3)
    MergeJob.merge(spark, s"$base/idx", List(0, 1))
    Seq(s"$base/idx", s"$base/split").foreach { p =>
      val report = CheckIndex.run(spark, p)
      assert(report.ok, report.violations.mkString("; "))
      assert(resultSet(new Searcher(spark, p), q, kAll) == before, p)
    }
  }

  test("hot-term piece split keeps queries correct") {
    // force frequent terms into pieces (pieceEntries = 8), then merge the
    // fresh segments and confirm the split posting rows still serve queries
    val base = Files.createTempDirectory("graftpieces").toString
    val df = spark.createDataFrame(PagesGen.local(120)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    val full = new Searcher(spark, base)
    val q = TermQ(PagesGen.word(2))
    val kAll = full.count(q).toInt + 5
    val before = resultSet(full, q, kAll)
    MergeJob.merge(spark, base, List(0, 1, 2, 3), pieceEntries = 8)
    val after = new Searcher(spark, base)
    assert(resultSet(after, q, kAll) == before)
    val report = CheckIndex.run(spark, base)
    assert(report.ok, report.violations.mkString("; "))
  }
}
