package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.SparkInternals
import graft.search._

/** ServingSession: warm in-session term/bool/WAND top-k must equal the
  * distributed plans' results hit-for-hit (same cursors/scorers/collectors,
  * different execution venue), and the warm path must run zero Spark jobs.
  */
class ServingSessionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private lazy val se = IndexCache.searcher(spark, "/root/testdata/sf0.001")
  private lazy val session = new ServingSession(se)

  private def distributedTopK(q: Query, k: Int): List[(Int, Int, Double)] =
    se.search(q, k).collect()
      .map(r => (r.getInt(2), r.getInt(3), r.getDouble(1)))
      .toList

  private def warmHits(hits: Array[graft.model.Hit]): List[(Int, Int, Double)] =
    hits.map(h => (h.segmentId, h.docId, h.score)).toList

  test("warm term top-k == distributed term top-k (ids and scores)") {
    val dist = distributedTopK(TermQ("data"), 10)
    val warm = warmHits(session.termTopK(se.defaultField, "data", 10))
    assert(warm == dist)
  }

  test("warm AND top-k == distributed bool top-k") {
    val q = BoolQ(List(Occur.Must -> TermQ("data"), Occur.Must -> TermQ("search")))
    val dist = distributedTopK(q, 10)
    val warm = warmHits(session.boolTopK(
      List((Occur.Must, se.defaultField, "data"), (Occur.Must, se.defaultField, "search")),
      msm = 0, k = 10))
    assert(warm == dist)
  }

  test("warm SHOULD+msm top-k == distributed") {
    val q = BoolQ(List(Occur.Should -> TermQ("data"), Occur.Should -> TermQ("search"),
      Occur.Should -> TermQ("index")), 2)
    val dist = distributedTopK(q, 10)
    val warm = warmHits(session.boolTopK(
      List((Occur.Should, se.defaultField, "data"), (Occur.Should, se.defaultField, "search"),
        (Occur.Should, se.defaultField, "index")), msm = 2, k = 10))
    assert(warm == dist)
  }

  test("warm WAND OR top-k == Wand.searchOr (LuceneFloat scoring)") {
    val fse = new Searcher(spark, IndexCache.indexPath("/root/testdata/sf0.001"))
    val wandSession = new ServingSession(fse)
    val dist = Wand.searchOr(fse, spark, IndexCache.indexPath("/root/testdata/sf0.001"),
      fse.defaultField, List("data", "search", "index"), 10)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getDouble(1))).toList
    val warm = wandSession.wandOrTopK(fse.defaultField, List("data", "search", "index"), 10)
      .map(h => (h.segmentId, h.docId, h.score)).toList
    assert(warm == dist)
  }

  test("warm phrase top-k == distributed phrase (exact and sloppy)") {
    val exact = PhraseQ(List("hash" -> 0, "join" -> 1))
    assert(warmHits(session.phraseTopK(se.defaultField, List("hash" -> 0, "join" -> 1), 10))
      == distributedTopK(exact, 10))
    val sloppy = PhraseQ(List("hash" -> 0, "join" -> 1), 1f, 3)
    assert(warmHits(session.phraseTopK(se.defaultField, List("hash" -> 0, "join" -> 1), 10, slop = 3))
      == distributedTopK(sloppy, 10))
  }

  test("warm prefix top-k == distributed constant-score prefix") {
    val dist = distributedTopK(ConstantScoreQ(PrefixQ("dat"), 1f), 10)
    val warm = warmHits(session.prefixTopK(se.defaultField, "dat", 10))
    assert(warm == dist)
    // a prefix matching nothing is empty, not an error
    assert(session.prefixTopK(se.defaultField, "zzzzqq", 10).isEmpty)
  }

  test("warm fuzzy top-k == distributed FuzzyTopQ (ids and scores)") {
    val dist = distributedTopK(FuzzyTopQ("datq", 2), 10)
    val warm = warmHits(session.fuzzyTopK(se.defaultField, "datq", 2, 50, 10))
    assert(warm == dist)
    // maxEdits=1 narrows the expansion set — still identical
    assert(warmHits(session.fuzzyTopK(se.defaultField, "datq", 1, 50, 10))
      == distributedTopK(FuzzyTopQ("datq", 1), 10))
    // no candidate within the band: empty, not an error
    assert(session.fuzzyTopK(se.defaultField, "zzzzqqxx", 1, 50, 10).isEmpty)
  }

  test("warm fuzzy respects maxExpansions like the TopTermsRewrite PQ") {
    val dist = distributedTopK(FuzzyTopQ("datq", 2, maxExpansions = 2), 10)
    val warm = warmHits(session.fuzzyTopK(se.defaultField, "datq", 2, 2, 10))
    assert(warm == dist)
  }

  test("warm wildcard / regexp / Lucene-RegExp == distributed constant-score plans") {
    // leading wildcard — the case the cluster path needs the gram index for;
    // warm scans the pinned dictionary, results must agree exactly
    assert(warmHits(session.wildcardTopK(se.defaultField, "*ream", 10))
      == distributedTopK(ConstantScoreQ(WildcardQ("*ream"), 1f), 10))
    assert(warmHits(session.wildcardTopK(se.defaultField, "dat?", 10))
      == distributedTopK(ConstantScoreQ(WildcardQ("dat?"), 1f), 10))
    assert(warmHits(session.regexpTopK(se.defaultField, "st.*am.?", 10))
      == distributedTopK(ConstantScoreQ(RegexpQ("st.*am.?"), 1f), 10))
    assert(warmHits(session.luceneRegexpTopK(se.defaultField, "dat.&.{4}", 10))
      == distributedTopK(ConstantScoreQ(LuceneRegexpQ("dat.&.{4}"), 1f), 10))
    assert(session.wildcardTopK(se.defaultField, "zzqq*", 10).isEmpty)
  }

  test("warm range == distributed constant-score range (all bound shapes)") {
    for ((lo, hi, il, ih) <- Seq(
        ("data", "dup", true, true), ("data", "dup", false, false),
        (null, "batch", true, true), ("window", null, true, true))) {
      val dist = distributedTopK(ConstantScoreQ(RangeQ(lo, hi, il, ih), 1f), 10)
      val warm = warmHits(session.rangeTopK(se.defaultField, lo, hi, il, ih, 10))
      assert(warm == dist, s"range [$lo, $hi] incLo=$il incHi=$ih")
    }
    assert(session.rangeTopK(se.defaultField, "zzz", "zza", true, true, 10).isEmpty)
  }

  test("warm fuzzy runs ZERO Spark jobs once dict and expansions are pinned") {
    session.fuzzyTopK(se.defaultField, "datq", 2, 50, 10) // pins dict + expansions
    val jobs = SparkInternals.jobsOf(spark.sparkContext) {
      session.fuzzyTopK(se.defaultField, "datq", 2, 50, 10)
    }
    assert(jobs == 0, s"warm fuzzy scheduled $jobs Spark jobs")
  }

  test("warm prefix runs ZERO Spark jobs once dict and expansions are pinned") {
    session.prefixTopK(se.defaultField, "dat", 10) // pins dict + expansions
    val jobs = SparkInternals.jobsOf(spark.sparkContext) {
      session.prefixTopK(se.defaultField, "dat", 10)
    }
    assert(jobs == 0, s"warm prefix scheduled $jobs Spark jobs")
  }

  test("warm queries run ZERO Spark jobs after the warm call") {
    session.warm(Seq((se.defaultField, "data"), (se.defaultField, "search"),
      (se.defaultField, "index")))
    session.warmFull(Seq((se.defaultField, "hash"), (se.defaultField, "join")))
    session.termTopK(se.defaultField, "data", 10) // fill any lazy caches
    session.boolTopK(List((Occur.Must, se.defaultField, "data"),
      (Occur.Must, se.defaultField, "search")), 0, 10)
    session.phraseTopK(se.defaultField, List("hash" -> 0, "join" -> 1), 10)
    val jobs = SparkInternals.jobsOf(spark.sparkContext) {
      session.termTopK(se.defaultField, "data", 10)
      session.boolTopK(List((Occur.Must, se.defaultField, "data"),
        (Occur.Must, se.defaultField, "search")), 0, 10)
      session.phraseTopK(se.defaultField, List("hash" -> 0, "join" -> 1), 10)
    }
    assert(jobs == 0, s"warm path scheduled $jobs Spark jobs")
  }

  test("ServingManager: session survives unchanged commits, rebuilds on change") {
    import graft.build.{Deletes, IndexBuilder, PagesGen}
    val base = java.nio.file.Files.createTempDirectory("graftservemgr").toString
    val df = spark.createDataFrame(PagesGen.local(300)).toDF("url", "text")
    IndexBuilder.build(spark, df, base,
      IndexBuilder.BuildConfig(numSegments = 2, analyzerName = "simple", groupSize = 2))
    val mgr = new ServingManager(spark, base)
    val s1 = mgr.acquire()
    val field = s1.searcher.defaultField
    val freq = PagesGen.word(2)
    val before = s1.termTopK(field, freq, 5)
    assert(before.nonEmpty)
    // unchanged index: same session object (pins retained)
    assert(mgr.acquire() eq s1)
    // delete the current top hit -> index changed -> session rebuilt
    val topUrl = s1.searcher.docs
      .filter(org.apache.spark.sql.functions.col("segmentId") === before.head.segmentId &&
        org.apache.spark.sql.functions.col("docId") === before.head.docId)
      .select("url").collect().head.getString(0)
    import spark.implicits._
    Deletes.deleteUrls(spark, base, Seq(topUrl).toDF("url"))
    val s2 = mgr.acquire()
    assert(!(s2 eq s1))
    val after = s2.termTopK(field, freq, 5)
    assert(!after.map(h => (h.segmentId, h.docId)).contains(
      (before.head.segmentId, before.head.docId)))
  }

  test("warm term comparisons use UTF8String (code-point) order, not UTF-16") {
    // U+FFFD vs U+1F600: UTF-16 code units order them backwards
    val pairs = Seq(("�", "😀"), ("a", "😀"),
      ("abc", "abd"), ("ab", "abc"), ("", "a"), ("", "𐀀"))
    for ((a, b) <- pairs; (x, y) <- Seq((a, b), (b, a), (a, a))) {
      val want = Integer.signum(
        org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
      assert(Integer.signum(ServingSession.compareCp(x, y)) == want, s"($x, $y)")
    }
  }

  test("absent terms and byte caps: unknown term is empty; warm reports pinned set") {
    assert(session.termTopK(se.defaultField, "zz_never_a_term", 5).isEmpty)
    val tiny = new ServingSession(se, maxCacheBytes = 1L << 20, maxTermBytes = 1L)
    // per-term cap 1 byte: nothing pinnable, warm returns empty set
    assert(tiny.warm(Seq((se.defaultField, "data"))).isEmpty)
  }
}
