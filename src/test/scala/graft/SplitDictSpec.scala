package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkInternals
import org.apache.spark.sql.functions._
import graft.build.{Deletes, DictTable, IndexBuilder, PagesGen}
import graft.merge.MergeJob
import graft.streaming.StreamingIndexer
import java.nio.file.Files

/** The dictionary of a split follows the carry-or-rebuild rule: a split that
  * drops no live doc from a source whose dictionary is fresh copies it; one
  * that drops docs, or whose source dictionary is stale, rebuilds it, and the
  * result equals a fresh build's. Also bounds the Spark jobs of a small
  * build, its split and an unsorted merge with deletes.
  */
class SplitDictSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 200
  private lazy val base = Files.createTempDirectory("graftsplitdict").toString
  private lazy val pages = PagesGen.local(N)
  private def df(ps: Seq[(String, String)]) = spark.createDataFrame(ps).toDF("url", "text")

  private def jobsOf(body: => Unit): Int = SparkInternals.jobsOf(spark.sparkContext)(body)

  /** (jobs of a 4-segment build, jobs of its 8-way split). */
  private lazy val jobs = {
    val build = jobsOf(IndexBuilder.build(spark, df(pages), s"$base/src",
      IndexBuilder.BuildConfig(4, "standard", groupSize = 4)))
    val split = jobsOf(MergeJob.splitIndex(spark, s"$base/src", s"$base/split8", 8))
    (build, split)
  }

  private def rows(path: String): Seq[String] =
    spark.read.parquet(path).collect().map(_.toString).toSeq

  private def stats(path: String): Seq[String] =
    IndexBuilder.readStats(spark, path).map(_.toString).toSeq

  /** `path` carries the dictionary, grams and stats of a fresh `parts`-segment
    * build of `live`. */
  private def assertLikeFreshBuild(path: String, live: Seq[(String, String)],
                                   parts: Int, ref: String): Unit = {
    IndexBuilder.build(spark, df(live), ref, IndexBuilder.BuildConfig(parts, "standard"))
    assert(DictTable.isValid(spark, path))
    assert(stats(path) == stats(ref))
    assert(rows(DictTable.dictPath(path)) == rows(DictTable.dictPath(ref)))
    assert(rows(DictTable.gramsPath(path)) == rows(DictTable.gramsPath(ref)))
  }

  test("a small 4-segment build and its 8-way split stay within their job bounds") {
    assert(jobs._1 <= 16, s"build ran ${jobs._1} jobs")
    assert(jobs._2 <= 25, s"split ran ${jobs._2} jobs")
  }

  test("a small unsorted merge with deletes stays within its job bound") {
    import spark.implicits._
    val p = s"$base/mergeDeletes"
    IndexBuilder.build(spark, df(pages), p, IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    Deletes.deleteUrls(spark, p, pages.take(10).map(_._1).toDF("url"))
    // 19 jobs measured; the former concat path (serial writes, a re-encode
    // shuffle, schema-inferring reads, stats re-reads) ran 25 here
    val merge = jobsOf(MergeJob.merge(spark, p, List(0, 1, 2, 3)))
    assert(merge <= 20, s"merge ran $merge jobs")
  }

  test("a split that drops no doc carries the source dictionary and grams") {
    jobs
    val (src, dst) = (s"$base/src", s"$base/split8")
    assert(DictTable.isValid(spark, src))
    assert(DictTable.isValid(spark, dst))
    assert(rows(DictTable.dictPath(dst)) == rows(DictTable.dictPath(src)))
    assert(rows(DictTable.gramsPath(dst)) == rows(DictTable.gramsPath(src)))
  }

  test("a docFilter that drops docs rebuilds the dictionary like a fresh build") {
    jobs
    val mid = pages.map(_._1).sorted.apply(N / 3)
    MergeJob.partitionIndex(spark, s"$base/src", s"$base/pkA", s"$base/pkB", col("url") < mid)
    assertLikeFreshBuild(s"$base/pkA", pages.filter(_._1 < mid), 1, s"$base/pkAref")
  }

  test("a split of a source whose dictionary went stale after an append rebuilds it") {
    val src = s"$base/appended"
    IndexBuilder.build(spark, df(pages.take(120)), src, IndexBuilder.BuildConfig(2, "standard"))
    StreamingIndexer.appendBatch(spark, df(pages.drop(120)), src, "standard",
      segmentsPerBatch = 1, batchId = 0)
    assert(!DictTable.isValid(spark, src))
    MergeJob.splitIndex(spark, src, s"$base/appendedSplit", 3)
    assertLikeFreshBuild(s"$base/appendedSplit", pages, 3, s"$base/appendedRef")
  }
}
