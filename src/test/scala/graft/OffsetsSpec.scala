package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.build.{CheckIndex, IndexBuilder}
import graft.merge.MergeJob
import graft.search._
import java.nio.file.Files

/** Offsets-in-postings (IndexOptions ..._AND_OFFSETS) + PostingsHighlighter:
  * per-position character offsets ride as the fourth codec stream
  * (/root/reference/src/Lucene.Net.Core/Codecs/Lucene41/
  * Lucene41PostingsWriter.cs:497-566 offset branch), and highlighting slices
  * the stored text at those offsets without term vectors or re-analysis
  * (Lucene.Net.Highlighter/Postingshighlight/PostingsHighlighter.cs).
  */
class OffsetsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def pagesDf(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      (f"u$i%04d", s"alpha${i % 5} bravo target${i % 3} charlie alpha${i % 5}")
    }.toDF("url", "text")
  }

  private lazy val base = {
    val b = Files.createTempDirectory("graftoffsets").toString
    IndexBuilder.build(spark, pagesDf(120), b,
      IndexBuilder.BuildConfig(2, "simple", groupSize = 2, indexOffsets = true))
    b
  }

  test("postings offsets equal analyzer offsets (roundtrip through the codec)") {
    val se = new Searcher(spark, base)
    val got = se.postingsOffsets(Seq("bravo", "alpha2"))
      .join(se.docs.select("segmentId", "docId", "url"), Seq("segmentId", "docId"))
      .select("url", "term", "start", "end")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .toSet
    // recompute from the analyzer over the raw pages
    val want = pagesDf(120).collect().flatMap { r =>
      val url = r.getString(0)
      graft.analysis.SimpleAnalyzer.tokenize(r.getString(1))
        .filter(t => t.term == "bravo" || t.term == "alpha2")
        .map(t => (url, t.term, t.startOffset, t.endOffset))
    }.toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("CheckIndex validates the offset stream") {
    val report = CheckIndex.run(spark, base)
    assert(report.ok, report.violations.mkString("; "))
  }

  test("postingsSnippet slices the stored text at postings offsets") {
    val se = new Searcher(spark, base)
    val snips = Highlighter.postingsSnippet(se, pagesDf(120), "url", "text",
        Seq("bravo"), 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    // every doc: "alphaK bravo ..." -> anchor = 7, width 10 -> "bravo targ"
    assert(snips.size == 120)
    assert(snips("u0007") == "bravo targ")
  }

  test("an index without offsets refuses postingsOffsets") {
    val b = Files.createTempDirectory("graftnooffsets").toString
    IndexBuilder.build(spark, pagesDf(20), b, IndexBuilder.BuildConfig(1, "simple"))
    val se = new Searcher(spark, b)
    intercept[IllegalArgumentException](se.postingsOffsets(Seq("bravo")).collect())
  }

  test("purging merge preserves offsets (stitch path)") {
    import spark.implicits._
    val b = Files.createTempDirectory("graftoffmerge").toString
    IndexBuilder.build(spark, pagesDf(120), b,
      IndexBuilder.BuildConfig(4, "simple", groupSize = 4, indexOffsets = true))
    graft.build.Deletes.deleteUrls(spark, b, Seq("u0007", "u0031").toDF("url"))
    MergeJob.merge(spark, b, List(0, 1, 2, 3))
    val se = new Searcher(spark, b)
    val got = se.postingsOffsets(Seq("bravo"))
      .join(se.docs.select("segmentId", "docId", "url"), Seq("segmentId", "docId"))
      .select("url", "start", "end")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val want = pagesDf(120).collect()
      .filter(r => r.getString(0) != "u0007" && r.getString(0) != "u0031")
      .flatMap { r =>
        graft.analysis.SimpleAnalyzer.tokenize(r.getString(1))
          .filter(_.term == "bravo").map(t => (r.getString(0), t.startOffset, t.endOffset))
      }.toSet
    assert(got == want)
    assert(CheckIndex.run(spark, b).ok)
  }

  test("distributed sorted merge preserves offsets") {
    import spark.implicits._
    val b = Files.createTempDirectory("graftoffsortdist").toString
    val pages = pagesDf(100).withColumn("nlen", (length(col("url")) + col("url").substr(2, 4).cast("int")).cast("long"))
    IndexBuilder.build(spark, pages, b,
      IndexBuilder.BuildConfig(2, "simple", groupSize = 2,
        indexOffsets = true, indexSort = Some("nlen")))
    graft.build.Deletes.deleteUrls(spark, b, Seq("u0011").toDF("url"))
    MergeJob.merge(spark, b, List(0, 1))
    val se = new Searcher(spark, b)
    val got = se.postingsOffsets(Seq("bravo"))
      .join(se.docs.select("segmentId", "docId", "url"), Seq("segmentId", "docId"))
      .select("url", "start", "end")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2))).toSet
    val want = pagesDf(100).collect()
      .filter(_.getString(0) != "u0011")
      .flatMap { r =>
        graft.analysis.SimpleAnalyzer.tokenize(r.getString(1))
          .filter(_.term == "bravo").map(t => (r.getString(0), t.startOffset, t.endOffset))
      }.toSet
    assert(got == want)
    assert(CheckIndex.run(spark, b).ok)
  }
}
