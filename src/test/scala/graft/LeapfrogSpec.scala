package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.build.{IndexBuilder, PagesGen}
import graft.merge.MergeJob
import graft.model.Hit
import graft.search._
import java.nio.file.Files

/** The leapfrog Boolean-of-terms path (Leapfrog.scala): semantic identity
  * with independently-computed expected results, plan-shape assertions (no
  * shuffle of decoded hit rows — VERDICT r1 #1 done-criterion), and
  * piece-split posting-row coverage.
  */
class LeapfrogSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 2500
  private lazy val idxPath = {
    val base = Files.createTempDirectory("graftleap").toString
    val df = spark.createDataFrame(PagesGen.local(N)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    base
  }
  private lazy val searcher = new Searcher(spark, idxPath)

  private val freq = PagesGen.word(2)
  private val mid = PagesGen.word(40)
  private val rare = PagesGen.word(800)

  private def hitMap(q: Query): Map[(Int, Int), Float] =
    searcher.compile(q).collect().map(h => (h.segmentId, h.docId) -> h.score.toFloat).toMap

  test("conjunction equals manual intersection of term streams (float chain)") {
    val a = hitMap(TermQ(freq))
    val b = hitMap(TermQ(mid))
    val expected = a.keySet.intersect(b.keySet).map(k => k -> (a(k) + b(k))).toMap
    val got = hitMap(BoolQ(List(Occur.Must -> TermQ(freq), Occur.Must -> TermQ(mid))))
    assert(got == expected)
    assert(got.nonEmpty, "fixture must produce a non-empty intersection")
  }

  test("req-opt + must_not + msm equal manual combination") {
    val a = hitMap(TermQ(freq))
    val b = hitMap(TermQ(mid))
    val c = hitMap(TermQ(rare))
    // MUST freq, SHOULD mid (optional bonus), MUST_NOT rare
    val expected = (a.keySet -- c.keySet).map { k =>
      k -> (a(k) + b.getOrElse(k, 0f))
    }.toMap
    val got = hitMap(BoolQ(List(
      Occur.Must -> TermQ(freq), Occur.Should -> TermQ(mid), Occur.MustNot -> TermQ(rare))))
    assert(got == expected)
    // pure disjunction with minShouldMatch=2 of 3
    val sets = List(a, b, c)
    val expMsm = sets.flatMap(_.keySet).distinct
      .filter(k => sets.count(_.contains(k)) >= 2)
      .map(k => k -> sets.foldLeft(0f)((acc, s) => acc + s.getOrElse(k, 0f))).toMap
    val gotMsm = hitMap(BoolQ(List(
      Occur.Should -> TermQ(freq), Occur.Should -> TermQ(mid), Occur.Should -> TermQ(rare)),
      minShouldMatch = 2))
    assert(gotMsm == expMsm)
  }

  test("conjunction plan shuffles only compressed posting rows (one exchange, no aggregate)") {
    val ds = searcher.compile(BoolQ(List(Occur.Must -> TermQ(freq), Occur.Must -> TermQ(mid))))
    val plan = ds.queryExecution.executedPlan.toString()
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected exactly 1 exchange (segment routing), got $exchanges:\n$plan")
    assert(plan.contains("segmentId"), s"the single exchange must partition by segmentId:\n$plan")
    assert(!plan.contains("HashAggregate"), s"no groupBy of decoded hits allowed:\n$plan")
  }

  test("phrase, span and disMax plans shuffle only compressed posting rows") {
    for (q <- Seq[Query](
      PhraseQ(List("quick" -> 0, "brown" -> 1)),
      MultiPhraseQ(List((Set("quick", "lazy"), 0), (Set("brown"), 1))),
      DisMaxQ(List(TermQ(freq), TermQ(mid)), 0.5f),
      SpanMatchQ(SpanNearS(List(SpanTermS("quick"), SpanTermS("fox")), 2, inOrder = true)))) {
      val plan = searcher.compile(q).queryExecution.executedPlan.toString()
      val exchanges = "Exchange".r.findAllIn(plan).length
      assert(exchanges == 1, s"expected 1 exchange for $q, got $exchanges:\n$plan")
      assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
        s"no aggregation of decoded position rows allowed for $q:\n$plan")
    }
  }

  test("leapfrog survives merged piece-split posting rows") {
    val base = Files.createTempDirectory("graftleapmerge").toString
    val df = spark.createDataFrame(PagesGen.local(400)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    val before = new Searcher(spark, base)
    val q = BoolQ(List(Occur.Must -> TermQ(freq), Occur.Must -> TermQ(PagesGen.word(9))))
    val kAll = before.count(q).toInt + 5 // cover all hits: merge reorders ties
    def hits(s: Searcher) = s.search(q, kAll).collect()
      .map(r => (r.getString(0), r.getDouble(1))).sortBy(_._1).toList
    val expected = hits(before)
    MergeJob.merge(spark, base, List(0, 1, 2, 3), pieceEntries = 16) // force pieces
    val after = new Searcher(spark, base)
    assert(hits(after) == expected)
  }

  test("duplicate MUST clauses score each clause independently") {
    val a = hitMap(TermQ(freq))
    val expected = a.map { case (k, v) => k -> (v + v) }
    val got = hitMap(BoolQ(List(Occur.Must -> TermQ(freq), Occur.Must -> TermQ(freq))))
    assert(got == expected)
  }

  test("ExactDouble mode conjunction matches double-chain combination") {
    val d = new Searcher(spark, idxPath, mode = ExactDouble)
    def hm(q: Query): Map[(Int, Int), Double] =
      d.compile(q).collect().map(h => (h.segmentId, h.docId) -> h.score).toMap
    val a = hm(TermQ(freq))
    val b = hm(TermQ(mid))
    val expected = a.keySet.intersect(b.keySet).map(k => k -> (a(k) + b(k))).toMap
    assert(hm(BoolQ(List(Occur.Must -> TermQ(freq), Occur.Must -> TermQ(mid)))) == expected)
  }

  test("mixed tree prunes by the rarest MUST term and stays correct") {
    // phrase SHOULD + rare MUST term: semantic check vs manual combination
    val ph = PhraseQ(List("quick" -> 0, "brown" -> 1))
    val a = hitMap(TermQ(rare))
    val p = hitMap(ph)
    val expected = a.map { case (k, v) => k -> (v + p.getOrElse(k, 0f)) }
    val got = hitMap(BoolQ(List(Occur.Must -> TermQ(rare), Occur.Should -> ph)))
    assert(got == expected)
  }
}
