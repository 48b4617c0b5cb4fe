package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.build.{CheckIndex, IndexBuilder, PagesGen}
import graft.merge.MergeJob
import graft.model.SegmentStats
import graft.streaming.StreamingIndexer
import java.nio.file.Files

/** Stats rows tallied from the rows each writer emits equal the aggregate
  * read back from the tables it wrote (rows per field and Σ ttf from the
  * postings, maxDoc and Σ fieldLen from the docs), and CheckIndex catches a
  * stats row that disagrees with the postings.
  */
class WriteStatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val base = Files.createTempDirectory("graftwritestats").toString

  /** `n` pages of batch `tag`, with an extra `title` field. */
  private def pages(tag: String, n: Int) = spark.createDataFrame(
      PagesGen.local(n).map { case (u, t) => (s"$tag/$u", t) }).toDF("url", "text")
    .withColumn("title", substring(col("text"), 1, 30))

  /** A 3-segment build with an extra field and 64-token flushes. */
  private lazy val multi = {
    val p = s"$base/multi"
    IndexBuilder.build(spark, pages("a", 120), p,
      IndexBuilder.BuildConfig(3, "standard", groupSize = 3, flushTokens = 64,
        extraFields = Seq("title" -> "simple")))
    p
  }

  /** The old stats formula, read back from the live docs and postings. */
  private def readBack(path: String): Seq[SegmentStats] = {
    import spark.implicits._
    val live = IndexBuilder.readStats(spark, path).map(_.segmentId).toSet
    val fields = IndexBuilder.readConfig(spark, path).fieldList.map(_._1)
    val docs = spark.read.parquet(IndexBuilder.docsPath(path))
      .filter(col("segmentId").isInCollection(live))
      .groupBy("segmentId").agg(count(lit(1)), sum("fieldLen"))
      .as[(Int, Long, Long)].collect()
    val post = spark.read.parquet(IndexBuilder.postingsPath(path))
      .filter(col("segmentId").isInCollection(live))
      .groupBy("segmentId", "field").agg(count(lit(1)), sum("ttf"))
      .as[(Int, String, Long, Long)].collect()
      .map { case (s, f, n, ttf) => (s, f) -> (n, ttf) }.toMap
    docs.toSeq.flatMap { case (seg, maxDoc, len) =>
      fields.map { f =>
        val (n, ttf) = post.getOrElse((seg, f), (0L, 0L))
        SegmentStats(seg, f, maxDoc, if (f == IndexBuilder.DefaultField) len else ttf, n)
      }
    }.sortBy(s => (s.segmentId, s.field))
  }

  private def committed(path: String): Seq[SegmentStats] =
    IndexBuilder.readStats(spark, path).toSeq

  private def assertStatsFromWrite(path: String): Unit = {
    assert(committed(path) == readBack(path))
    val report = CheckIndex.run(spark, path)
    assert(report.ok, report.violations.mkString("; "))
  }

  test("build with an extra field and piece flushes: stats equal the read-back") {
    // the tiny flush budget splits terms over several piece rows
    val pieces = spark.read.parquet(IndexBuilder.postingsPath(multi))
      .groupBy("segmentId", "field", "term").count().filter(col("count") > 1).count()
    assert(pieces > 0, "no term spans several piece rows")
    assertStatsFromWrite(multi)
  }

  test("streaming append, split and unsorted merge: stats equal the read-back") {
    val p = multi
    StreamingIndexer.appendBatch(spark, pages("b", 40), p, "standard",
      segmentsPerBatch = 2, batchId = 0)
    assertStatsFromWrite(p)
    MergeJob.splitIndex(spark, p, s"$base/multiSplit", 4)
    assertStatsFromWrite(s"$base/multiSplit")
    MergeJob.merge(spark, p, IndexBuilder.readStats(spark, p).map(_.segmentId).distinct.toList.take(3))
    assertStatsFromWrite(p)
  }

  test("sorted merge: stats equal the read-back") {
    val p = s"$base/sorted"
    IndexBuilder.build(spark, pages("s", 80).withColumn("nlen", length(col("text")).cast("long")), p,
      IndexBuilder.BuildConfig(3, "simple", groupSize = 3, indexSort = Some("nlen")))
    MergeJob.merge(spark, p, List(0, 1))
    assertStatsFromWrite(p)
  }

  test("CheckIndex flags stats rows that disagree with the postings") {
    import spark.implicits._
    val p = s"$base/tampered"
    IndexBuilder.build(spark, pages("t", 60), p,
      IndexBuilder.BuildConfig(2, "standard", groupSize = 2,
        extraFields = Seq("title" -> "simple")))
    val stats = committed(p)
    val tampered = stats.map { s =>
      if (s.segmentId != 0) s
      else if (s.field == IndexBuilder.DefaultField) s.copy(sumDocFreq = s.sumDocFreq + 1)
      else s.copy(sumTotalTermFreq = s.sumTotalTermFreq + 1)
    }
    tampered.toDS().coalesce(1).write.mode("overwrite").parquet(IndexBuilder.statsPath(spark, p))
    val report = CheckIndex.run(spark, p)
    assert(report.violations.exists(_.contains("seg=0 field=text: sumDocFreq")), report.violations)
    assert(report.violations.exists(_.contains("seg=0 field=title: sumTotalTermFreq")), report.violations)
    assert(report.violations.size == 2, report.violations)
  }
}
