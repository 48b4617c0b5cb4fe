package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.build.{CheckIndex, Deletes, IndexBuilder, PagesGen}
import graft.merge.MergeJob
import graft.search._
import java.nio.file.Files

/** Delete semantics — IndexWriter.DeleteDocuments + live docs
  * (Index/IndexWriter.cs:1591, Util/FixedBitSet.cs:35): deleted docs vanish
  * from every query path immediately; collection statistics stay
  * un-decremented until a merge purges them; merge compacts docIds, drops
  * emptied terms, recomputes stats and prunes applied markers.
  */
class DeletesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 500

  private def freshIndex(): String = {
    val base = Files.createTempDirectory("graftdel").toString
    val df = spark.createDataFrame(PagesGen.local(N)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    base
  }

  private val freq = PagesGen.word(2)

  private def urlsOf(s: Searcher, q: Query): Set[String] =
    s.search(q, 1000).collect().map(_.getString(0)).toSet

  test("deleted docs vanish from term/bool/phrase/matchall; stats unchanged") {
    val path = freshIndex()
    val before = new Searcher(spark, path)
    val all = urlsOf(before, TermQ(freq))
    assert(all.size > 10)
    val victims = all.take(5)
    import spark.implicits._
    Deletes.deleteUrls(spark, path, victims.toSeq.toDF("url"))

    val after = new Searcher(spark, path)
    assert(urlsOf(after, TermQ(freq)) == all -- victims)
    assert(after.count(MatchAllQ) == N - 5) // NumDocs semantics
    // stats (MaxDoc, df, avgdl inputs) un-decremented until merge
    assert(after.maxDoc == before.maxDoc)
    assert(after.termStats(Set(freq)) == before.termStats(Set(freq)))
    // surviving docs keep their exact scores
    val beforeScores = before.search(TermQ(freq), 1000).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val afterScores = after.search(TermQ(freq), 1000).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(afterScores == beforeScores -- victims)
    // WAND top-k path honors live docs identically to the plan path
    val q = BoolQ(List(Occur.Should -> TermQ(freq), Occur.Should -> TermQ(PagesGen.word(9))))
    val wand = after.searchWand(q, 10).collect().map(r => (r.getString(0), r.getDouble(1))).toList
    val plan = after.searchPlan(q, 10).collect().map(r => (r.getString(0), r.getDouble(1))).toList
    assert(wand == plan)
    assert(wand.forall(h => !victims.contains(h._1)))
  }

  test("merge purges deletes: compacted docIds, decremented stats, pruned markers") {
    val path = freshIndex()
    val s0 = new Searcher(spark, path)
    val all = urlsOf(s0, TermQ(freq))
    val victims = all.take(7)
    import spark.implicits._
    Deletes.deleteUrls(spark, path, victims.toSeq.toDF("url"))

    val liveBefore = urlsOf(new Searcher(spark, path), TermQ(freq))
    // capture pre-merge stats NOW: like a reference reader over merged-away
    // segments, s0 must not be used after the merge deletes its files
    val dfBefore = s0.termStats(Set(freq))(freq)._1
    // the concat order an unsorted merge keeps: source segment ascending,
    // then docId, the deleted docs compacted away
    val deletedKeys = Deletes.deletedDocIds(spark, path).toSeq
      .flatMap { case (seg, ids) => ids.map(seg -> _) }.toSet
    val concatUrls = spark.read.parquet(s"$path/docs").select("segmentId", "docId", "url")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getString(2))
      .filterNot(d => deletedKeys.contains(d._1)).sortBy(_._1).map(_._2).toSeq
    val target = MergeJob.merge(spark, path, List(0, 1, 2, 3))

    val merged = new Searcher(spark, path)
    // same live result set, purged stats
    assert(urlsOf(merged, TermQ(freq)) == liveBefore)
    assert(merged.maxDoc == N - 7)
    assert(merged.termStats(Set(freq))(freq)._1 == dfBefore - 7)
    // merged docIds 0..n-1 follow the concat order
    val mergedDocs = spark.read.parquet(s"$path/docs/segmentId=$target").select("docId", "url")
      .collect().map(r => r.getInt(0) -> r.getString(1)).sortBy(_._1).toSeq
    assert(mergedDocs.map(_._1) == concatUrls.indices)
    assert(mergedDocs.map(_._2) == concatUrls)
    // after the one-commit reader grace elapses (tombstone purge), the doc
    // store physically no longer contains the victims; docIds dense
    MergeJob.purgeTombstones(spark, path)
    val urls = spark.read.parquet(s"$path/docs").select("url")
      .collect().map(_.getString(0)).toSet
    assert(victims.forall(v => !urls.contains(v)))
    val report = CheckIndex.run(spark, path)
    assert(report.ok, report.violations.mkString("; "))
    assert(report.docs == N - 7)
    // delete markers pruned once the grace window closed (dirs purged);
    // DURING the grace they are retained so previous-commit readers keep
    // seeing their deletes
    assert(Deletes.deletedDocIds(spark, path).isEmpty)
    // scores now reflect the purged statistics exactly: equal to an index
    // built without the victims
    val cleanPath = Files.createTempDirectory("graftdelclean").toString
    val cleanDf = spark.createDataFrame(PagesGen.local(N)).toDF("url", "text")
      .filter(!col("url").isInCollection(victims))
    IndexBuilder.build(spark, cleanDf, cleanPath, IndexBuilder.BuildConfig(1, "standard"))
    val clean = new Searcher(spark, cleanPath)
    // full match set (k covers all hits): boundary ties at a smaller k could
    // cut differently between the two segmentations' doc orders
    val a = merged.search(TermQ(freq), 10000).collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    val b = clean.search(TermQ(freq), 10000).collect().map(r => (r.getString(0), r.getDouble(1))).toMap
    assert(a == b)
  }

  test("delete horizon: re-added url is a fresh doc, unaffected by the old delete") {
    // the ADVICE r2 data-loss scenario: delete url X, then index X again
    // (UpdateDocument = delete + add). Markers are resolved to
    // (segmentId, docId) at delete time, so the NEW doc must match queries
    // and must SURVIVE the purging merge (url-keyed markers masked it and
    // merge destroyed it).
    val path = freshIndex()
    val s0 = new Searcher(spark, path)
    val all = urlsOf(s0, TermQ(freq))
    val victim = all.head
    import spark.implicits._
    Deletes.deleteUrls(spark, path, Seq(victim).toDF("url"))
    assert(!urlsOf(new Searcher(spark, path), TermQ(freq)).contains(victim))

    // re-add the same url as a fresh streaming-band segment
    val text = spark.createDataFrame(PagesGen.local(N)).toDF("url", "text")
      .filter(col("url") === victim).collect()(0).getString(1)
    val readd = Seq((victim, text, 1 << 20)).toDF("url", "text", "segmentId")
    IndexBuilder.writeSegments(spark, readd, path, "standard",
      boost = 1f, flushTokens = 8 * 1024 * 1024, group = Set(1 << 20))

    val s1 = new Searcher(spark, path)
    assert(urlsOf(s1, TermQ(freq)).contains(victim), "re-added doc must match")
    assert(s1.count(MatchAllQ) == N) // N-1 live + 1 re-added

    // the purging merge keeps the re-added doc and drops only the old one
    MergeJob.merge(spark, path, List(0, 1, 2, 3, 1 << 20))
    val merged = new Searcher(spark, path)
    assert(urlsOf(merged, TermQ(freq)).contains(victim), "merge must not purge the re-add")
    assert(merged.count(MatchAllQ) == N)
    assert(merged.maxDoc == N)
    // markers survive the reader grace window, then drop with the dirs
    MergeJob.purgeTombstones(spark, path)
    assert(Deletes.deletedDocIds(spark, path).isEmpty)
  }

  test("large overlay: anti-join fallback matches the broadcast path, no driver collect") {
    val path = freshIndex()
    val s0 = new Searcher(spark, path)
    val all = urlsOf(s0, TermQ(freq))
    val victims = all.take(6)
    import spark.implicits._
    Deletes.deleteUrls(spark, path, victims.toSeq.toDF("url"))

    val small = new Searcher(spark, path) // default limit: broadcast overlay
    val large = new Searcher(spark, path, deleteBroadcastLimit = 0) // forced anti-join
    assert(large.largeDeletes && !small.largeDeletes)
    assert(large.deletedDocs.isEmpty, "large overlay must not materialize on the driver")

    // identical results through term / bool / matchall / top-k
    assert(urlsOf(large, TermQ(freq)) == urlsOf(small, TermQ(freq)))
    assert(large.count(MatchAllQ) == small.count(MatchAllQ))
    val q = BoolQ(List(Occur.Should -> TermQ(freq), Occur.Should -> TermQ(PagesGen.word(9))))
    val a = large.search(q, 10).collect().map(r => (r.getString(0), r.getDouble(1))).toList
    val b = small.search(q, 10).collect().map(r => (r.getString(0), r.getDouble(1))).toList
    assert(a == b) // WAND dispatch is bypassed under largeDeletes; results identical
    // explain point-lookup works without the broadcast map
    val hit = large.search(TermQ(freq), 1).collect()(0)
    assert(large.explain(TermQ(freq), hit.getInt(2), hit.getInt(3)).matched)
  }

  test("deleteByQuery resolves matches to urls") {
    val path = freshIndex()
    val s0 = new Searcher(spark, path)
    val rare = PagesGen.word(800)
    val matches = urlsOf(s0, TermQ(rare))
    assert(matches.nonEmpty)
    Deletes.deleteByQuery(s0, path, TermQ(rare))
    val after = new Searcher(spark, path)
    assert(urlsOf(after, TermQ(rare)).isEmpty)
    assert(after.count(MatchAllQ) == N - matches.size)
  }
}
