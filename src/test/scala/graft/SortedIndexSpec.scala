package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.build.{CheckIndex, IndexBuilder, PagesGen}
import graft.merge.MergeJob
import graft.search._
import java.nio.file.Files

/** Index sort + early-terminating sorted collection (Lucene.Net.Misc/Index/
  * Sorter/Sorter.cs, EarlyTerminatingSortingCollector.cs): segments assign
  * docIds in sort-key order, so per-segment heads ARE the per-segment sorted
  * top-k and the global answer merges numSegments*k rows instead of sorting
  * the corpus.
  */
class SortedIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 400

  private lazy val (base, pages) = {
    val b = Files.createTempDirectory("graftsorted").toString
    val df = spark.createDataFrame(PagesGen.local(N)).toDF("url", "text")
      .withColumn("nlen", length(col("text")).cast("long"))
    IndexBuilder.build(spark, df, b,
      IndexBuilder.BuildConfig(4, "simple", groupSize = 4, indexSort = Some("nlen")))
    (b, df)
  }
  private lazy val se = new Searcher(spark, base)

  test("CheckIndex validates per-segment sort order") {
    val report = CheckIndex.run(spark, base)
    assert(report.ok, report.violations.mkString("; "))
  }

  test("sortedTopK equals the full global sort") {
    val got = se.sortedTopK(15).collect().map(r => (r.getString(0), r.getDouble(1)))
    val want = pages.select(col("url"), col("nlen").cast("double"))
      .orderBy(col("nlen").asc, col("url").asc).limit(15)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq)
  }

  test("sortedTopK reads only per-segment heads (docId pushdown)") {
    val plan = se.sortedTopK(10).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("docId"),
      s"docId head predicate not pushed to the scan:\n$plan")
  }

  test("searchSortedEarly equals filter + full sort") {
    val q = TermQ("quick")
    val got = se.searchSortedEarly(q, 12).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val matching = se.compile(q)
      .join(se.docs.select("segmentId", "docId", "url", "sortKey"), Seq("segmentId", "docId"))
      .select(col("url"), col("sortKey"))
      .orderBy(col("sortKey").asc, col("url").asc).limit(12)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == matching.toSeq)
    assert(got.nonEmpty)
  }

  test("sortedTopK honors the live-docs overlay (deleted docs never surface)") {
    val b = Files.createTempDirectory("graftsorteddel").toString
    val df = spark.createDataFrame(PagesGen.local(60)).toDF("url", "text")
      .withColumn("nlen", length(col("text")).cast("long"))
    IndexBuilder.build(spark, df, b,
      IndexBuilder.BuildConfig(2, "simple", groupSize = 2, indexSort = Some("nlen")))
    val s0 = new Searcher(spark, b)
    // delete the current sorted head so the hole lands in the docId prefix
    val head = s0.sortedTopK(1).collect().head.getString(0)
    import spark.implicits._
    graft.build.Deletes.deleteUrls(spark, b, Seq(head).toDF("url"))
    val s1 = new Searcher(spark, b)
    val got = s1.sortedTopK(10).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(!got.exists(_._1 == head), "deleted doc surfaced in sortedTopK")
    val want = df.filter(col("url") =!= head)
      .select(col("url"), col("nlen").cast("double"))
      .orderBy(col("nlen").asc, col("url").asc).limit(10)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(got == want)
  }

  test("unsorted index rejects sorted collection") {
    val b = Files.createTempDirectory("graftunsorted").toString
    val df = spark.createDataFrame(PagesGen.local(20)).toDF("url", "text")
    IndexBuilder.build(spark, df, b, IndexBuilder.BuildConfig(1, "simple"))
    val s = new Searcher(spark, b)
    intercept[IllegalArgumentException](s.sortedTopK(5))
  }

  test("sorted merge re-sorts: merged segment keeps docId==sort order, purges deletes") {
    val b = Files.createTempDirectory("graftsortmerge").toString
    val df = spark.createDataFrame(PagesGen.local(N)).toDF("url", "text")
      .withColumn("nlen", length(col("text")).cast("long"))
    IndexBuilder.build(spark, df, b,
      IndexBuilder.BuildConfig(4, "simple", groupSize = 4, indexSort = Some("nlen")))
    import spark.implicits._
    val victim = PagesGen.urlOf(23)
    graft.build.Deletes.deleteUrls(spark, b, Seq(victim).toDF("url"))
    val merges = MergeJob.mergeToPolicy(spark, b,
      new graft.merge.TieredMergePolicy(segsPerTier = 2.0, maxMergeAtOnce = 4, floorSegmentDocs = 5))
    assert(merges >= 1)
    val report = CheckIndex.run(spark, b) // includes the sort-order invariant
    assert(report.ok, report.violations.mkString("; "))
    val s1 = new Searcher(spark, b)
    val got = s1.sortedTopK(20).collect().map(r => (r.getString(0), r.getDouble(1)))
    val want = df.filter(col("url") =!= victim)
      .select(col("url"), col("nlen").cast("double"))
      .orderBy(col("nlen").asc, col("url").asc).limit(20)
      .collect().map(r => (r.getString(0), r.getDouble(1)))
    assert(got.toSeq == want.toSeq, "sorted top-k diverges after a purging sorted merge")
    // query results survive the permutation (scores invariant under merge)
    val q = TermQ("quick")
    val early = s1.searchSortedEarly(q, 10).collect().map(_.getString(0)).toSeq
    val full = s1.compile(q)
      .join(s1.docs.select("segmentId", "docId", "url", "sortKey"), Seq("segmentId", "docId"))
      .orderBy(col("sortKey").asc, col("url").asc).limit(10)
      .collect().map(_.getAs[String]("url")).toSeq
    assert(early == full)
  }

  test("sorted merge ≡ fresh single-segment sorted build of the live docs") {
    import spark.implicits._
    val df = spark.createDataFrame(PagesGen.local(N)).toDF("url", "text")
      .withColumn("nlen", length(col("text")).cast("long"))
    val victims = Seq(PagesGen.urlOf(7), PagesGen.urlOf(101), PagesGen.urlOf(233))
    val bMerged = Files.createTempDirectory("graftsortmerged").toString
    IndexBuilder.build(spark, df, bMerged,
      IndexBuilder.BuildConfig(4, "simple", groupSize = 4, indexSort = Some("nlen")))
    graft.build.Deletes.deleteUrls(spark, bMerged, victims.toDF("url"))
    MergeJob.merge(spark, bMerged, List(0, 1, 2, 3))
    // the independent reference: the live docs built fresh into one sorted
    // segment (the builder assigns docIds in (sortKey, url) order itself)
    val bFresh = Files.createTempDirectory("graftsortfresh").toString
    IndexBuilder.build(spark, df.filter(!col("url").isin(victims: _*)), bFresh,
      IndexBuilder.BuildConfig(1, "simple", groupSize = 1, indexSort = Some("nlen")))

    val report = CheckIndex.run(spark, bMerged) // includes the sort-order invariant
    assert(report.ok, report.violations.mkString("; "))

    // one live segment each, with identical doc stores (the segment ids
    // differ: the merge commits a fresh id from the merge band)
    def docsOf(b: String) = new Searcher(spark, b).docs
      .select("docId", "url", "fieldLen", "normByte", "sortKey")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getByte(3), r.getDouble(4)))
      .sortBy(_._1).toSeq
    val merged = docsOf(bMerged)
    assert(merged.size == N - victims.size)
    assert(merged == docsOf(bFresh), "merged doc store diverges from the fresh build")

    // postings agree term-by-term (piece chunking may differ; df/ttf must
    // not) — live segments only: the sources survive one commit as tombstones
    def postingStats(b: String) = {
      val s = new Searcher(spark, b)
      spark.read.parquet(graft.build.IndexBuilder.postingsPath(b))
        .join(s.docs.select("segmentId").distinct(), "segmentId")
        .groupBy("field", "term")
        .agg(sum("df").as("df"), sum("ttf").as("ttf"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    }
    assert(postingStats(bMerged) == postingStats(bFresh), "postings diverge from the fresh build")

    // and the serving paths agree: sorted top-k, early termination, BM25
    // top-k (hits compared without the segment id)
    val sM = new Searcher(spark, bMerged)
    val sF = new Searcher(spark, bFresh)
    assert(sM.sortedTopK(20).collect().toSeq == sF.sortedTopK(20).collect().toSeq)
    val q = TermQ("quick")
    assert(sM.searchSortedEarly(q, 10).collect().toSeq ==
      sF.searchSortedEarly(q, 10).collect().toSeq)
    def hits(s: Searcher) = s.search(q, 10).select("url", "score", "docId").collect().toSeq
    assert(hits(sM).nonEmpty)
    assert(hits(sM) == hits(sF))
  }

  test("distributed sorted merge salts hot terms: >1 task emits disjoint pieces") {
    import spark.implicits._
    val b = Files.createTempDirectory("graftsortsalt").toString
    val n = 400
    // every doc carries the hot term => df = corpus size >> pieceEntries
    val pages = (0 until n).map { i =>
      (f"u$i%04d", s"common filler$i extra${i % 17}", (i * 37 % 50).toLong)
    }
    IndexBuilder.build(spark, pages.toDF("url", "text", "nlen"), b,
      IndexBuilder.BuildConfig(4, "simple", groupSize = 4, indexSort = Some("nlen")))
    // force the distributed path with a tiny piece bucket (64 entries).
    // AQE's partition coalescing folds the KB-scale test buckets into one
    // task (advisory size), which would mask the salting — disable it here
    // (real buckets are ~MBs and stay separate tasks)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.get(coalesceKey, "true")
    spark.conf.set(coalesceKey, "false")
    try
      MergeJob.merge(spark, b, List(0, 1, 2, 3), pieceEntries = 64)
    finally spark.conf.set(coalesceKey, prev)

    // source segment dirs survive one commit as tombstones — read only the
    // merged segment (the merge id band)
    val rows = spark.read.parquet(IndexBuilder.postingsPath(b))
      .filter(col("term") === "common" &&
        col("segmentId") >= IndexBuilder.MergeIdOffset)
      .select(input_file_name().as("file"), col("df"),
        col("docDeltas"), col("tfs"), col("lens"))
      .collect()
    // the hot term was split into ~n/64 piece rows...
    assert(rows.length >= n / 64,
      s"expected >= ${n / 64} piece rows for the hot term, got ${rows.length}")
    // ...written by MORE THAN ONE reducer task (one output file per task)
    val files = rows.map(_.getString(0)).distinct
    assert(files.length > 1,
      s"hot-term pieces all came from one task (unsalted funnel): $files")
    // piece docId ranges are disjoint and union to the full live doc set
    val ranges = rows.map { r =>
      val (ids, _, _) = graft.codec.PostingsCodec.decodeDocs(
        r.getInt(1), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3),
        r.getAs[Array[Byte]](4))
      (ids.head, ids.last, ids.toSeq)
    }.sortBy(_._1)
    ranges.toSeq.sliding(2).foreach { pair =>
      if (pair.size == 2)
        assert(pair(0)._2 < pair(1)._1, s"piece ranges overlap: ${pair(0)} vs ${pair(1)}")
    }
    assert(ranges.flatMap(_._3).toSeq == (0 until n), "pieces do not cover all docs")
    // and the serving path still sees every doc exactly once
    val s1 = new Searcher(spark, b)
    assert(s1.count(TermQ("common")) == n)
    val report = CheckIndex.run(spark, b)
    assert(report.ok, report.violations.mkString("; "))
  }

  test("distributed sorted merge keeps payloads aligned through the explode") {
    import spark.implicits._
    val b = Files.createTempDirectory("graftsortpay").toString
    val pages = (0 until 80).map { i =>
      (f"u$i%04d", s"alpha|$i beta|${i % 7} alpha|${(i * 5) % 13}", (i * 37 % 50).toLong)
    }
    IndexBuilder.build(spark, pages.toDF("url", "text", "nlen"), b,
      IndexBuilder.BuildConfig(2, "delimited_payload", groupSize = 2, indexSort = Some("nlen")))
    val s0 = new Searcher(spark, b, mode = ExactDouble)
    def scores(s: Searcher): Map[String, Double] =
      s.compile(PayloadScoreQ("alpha", "avg"))
        .join(s.docs.select("segmentId", "docId", "url"), Seq("segmentId", "docId"))
        .select("url", "score").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val before = scores(s0)
    graft.build.Deletes.deleteUrls(spark, b, Seq("u0005", "u0050").toDF("url"))
    MergeJob.merge(spark, b, List(0, 1))
    val s1 = new Searcher(spark, b, mode = ExactDouble)
    assert(scores(s1) == before -- Seq("u0005", "u0050"),
      "payload scores diverge after a distributed purging sorted merge")
    val report = CheckIndex.run(spark, b)
    assert(report.ok, report.violations.mkString("; "))
  }
}
