package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.execution.SparkInternals
import org.apache.spark.scheduler.{JobResult, JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.build.{IndexBuilder, PagesGen}
import graft.merge.MergeJob
import java.nio.file.Files
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Failure paths of the concurrent writes: a write that fails must leave no
  * cached blocks pinned, publish no commit, and cancel its sibling writes
  * instead of letting them run to completion.
  */
class WriteFaultSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("a build whose input throws releases everything it pinned") {
    val poison = PagesGen.urlOf(17)
    val boom = udf { (url: String, text: String) =>
      if (url == poison) throw new IllegalStateException(s"poisoned page $url")
      text
    }
    // a distributed input (a local relation would evaluate the UDF while
    // planning, before the build pins anything)
    val pages = PagesGen.df(spark, 60).select("url", "text")
      .withColumn("text", boom(col("url"), col("text")))
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val cachedBefore = SparkInternals.cachedDatasets(spark)
    val b = Files.createTempDirectory("graftfaultbuild").toString
    intercept[Exception] {
      IndexBuilder.build(spark, pages, b, IndexBuilder.BuildConfig(2, "simple", groupSize = 2))
    }
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- rddsBefore
    assert(leaked.isEmpty, s"RDDs left pinned by the failed build: $leaked")
    assert(SparkInternals.cachedDatasets(spark) == cachedBefore,
      "the failed build left its persisted pages registered in the cache")
  }

  test("a corrupt postings row fails a sorted merge: no commit, sibling writes cancelled") {
    assertCorruptMergeFails(indexSort = Some("nlen"))
  }

  test("a corrupt postings row fails an unsorted merge: no commit, sibling writes cancelled") {
    assertCorruptMergeFails(indexSort = None)
  }

  /** A merge of a termVectors index whose segment 0 holds a corrupt posting
    * row fails without publishing a commit, and every doc-store / vector
    * write running beside the failed postings write ends cancelled. */
  private def assertCorruptMergeFails(indexSort: Option[String]): Unit = {
    val b = Files.createTempDirectory("graftfaultmerge").toString
    val df = spark.createDataFrame(PagesGen.local(120)).toDF("url", "text")
      .withColumn("nlen", length(col("text")).cast("long"))
    IndexBuilder.build(spark, df, b, IndexBuilder.BuildConfig(2, "simple", groupSize = 2,
      termVectors = true, indexSort = indexSort))
    corruptOnePostingRow(IndexBuilder.postingsPath(b), segment = 0)
    val gen0 = IndexBuilder.statsGen(spark, b)

    val stageJob = TrieMap.empty[Int, Int]
    val jobEnd = TrieMap.empty[Int, JobResult]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnd(e.jobId) = e.jobResult
    }
    val protocolKey = "spark.sql.sources.commitProtocolClass"
    val prevProtocol = spark.conf.getOption(protocolKey)
    spark.sparkContext.addSparkListener(listener)
    GatedCommitProtocol.arm()
    spark.conf.set(protocolKey, classOf[GatedCommitProtocol].getName)
    try intercept[Exception](MergeJob.merge(spark, b, List(0, 1)))
    finally {
      GatedCommitProtocol.release()
      prevProtocol.fold(spark.conf.unset(protocolKey))(spark.conf.set(protocolKey, _))
      SparkInternals.drainListenerBus(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }

    assert(IndexBuilder.statsGen(spark, b) == gen0, "the failed merge published a commit")
    // the doc-store / term-vector write jobs that were running when the
    // postings write failed
    val siblings = GatedCommitProtocol.held.asScala.map(s => stageJob(s.intValue)).toSet
    assert(siblings.nonEmpty, "no sibling write was running")
    siblings.foreach { j =>
      assert(jobEnd(j) != JobSucceeded, s"sibling write job $j ran to completion")
      assert(jobEnd(j).toString.contains("cancelled"), s"sibling write job $j: ${jobEnd(j)}")
    }
  }

  /** Empty the docDeltas of one term's posting rows in a segment, so
    * decoding that row throws. */
  private def corruptOnePostingRow(postings: String, segment: Int): Unit = {
    val segDir = s"$postings/segmentId=$segment"
    val rows = spark.read.parquet(segDir)
    val victim = rows.select("term").orderBy("term").head().getString(0)
    val tmp = Files.createTempDirectory("graftcorrupt").toString + "/p"
    rows.withColumn("docDeltas",
        when(col("term") === victim, lit(Array.emptyByteArray)).otherwise(col("docDeltas")))
      .write.parquet(tmp)
    val fs = new Path(segDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(segDir), true)
    assert(fs.rename(new Path(tmp), new Path(segDir)))
    spark.catalog.refreshByPath(postings)
  }
}
