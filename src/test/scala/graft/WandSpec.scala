package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.build.{IndexBuilder, PagesGen}
import graft.merge.MergeJob
import graft.search._
import java.nio.file.Files

/** Block-Max WAND is a pure optimization: identical top-k (urls, scores,
  * order) to the DataFrame plan — the metamorphic identity the reference
  * pins between scorer implementations (QueryUtils.Check / BS1≡BS2,
  * SURVEY.md §5).
  */
class WandSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 600
  private lazy val idxPath = {
    val base = Files.createTempDirectory("graftwand").toString
    val df = spark.createDataFrame(PagesGen.local(N)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    base
  }
  private lazy val searcher = new Searcher(spark, idxPath)

  private def rows(df: org.apache.spark.sql.DataFrame): List[(String, Double)] =
    df.collect().map(r => (r.getString(0), r.getDouble(1))).toList

  private def checkSame(q: Query, k: Int): Unit = {
    val a = rows(searcher.searchPlan(q, k))
    val b = rows(searcher.searchWand(q, k))
    assert(a == b, s"WAND mismatch for $q\nplan=$a\nwand=$b")
  }

  test("single term WAND identical to plan") {
    checkSame(TermQ(PagesGen.word(2)), 10)
    checkSame(TermQ(PagesGen.word(1000)), 10)
  }

  test("2-term OR WAND identical") {
    checkSame(BoolQ(List(Occur.Should -> TermQ(PagesGen.word(2)),
      Occur.Should -> TermQ(PagesGen.word(11)))), 10)
  }

  test("4-term OR WAND identical, larger k") {
    checkSame(BoolQ(List(
      Occur.Should -> TermQ(PagesGen.word(2)), Occur.Should -> TermQ(PagesGen.word(5)),
      Occur.Should -> TermQ(PagesGen.word(23)), Occur.Should -> TermQ(PagesGen.word(400)))), 25)
  }

  test("OR with absent term WAND identical") {
    checkSame(BoolQ(List(Occur.Should -> TermQ(PagesGen.word(3)),
      Occur.Should -> TermQ("zzzmissing"))), 10)
  }

  test("randomized OR queries WAND identical") {
    val rnd = new scala.util.Random(7)
    (0 until 8).foreach { _ =>
      val n = 2 + rnd.nextInt(3)
      val terms = List.fill(n)(PagesGen.word(rnd.nextInt(300)))
      checkSame(BoolQ(terms.map(t => Occur.Should -> TermQ(t))), 5 + rnd.nextInt(20))
    }
  }

  test("non-OR shapes fall back to the plan path") {
    val q = BoolQ(List(Occur.Must -> TermQ(PagesGen.word(2)), Occur.MustNot -> TermQ(PagesGen.word(5))))
    assert(rows(searcher.searchWand(q, 10)) == rows(searcher.searchPlan(q, 10)))
  }

  test("search() auto-routes eligible disjunctions through WAND identically") {
    val q = BoolQ(List(Occur.Should -> TermQ(PagesGen.word(2)), Occur.Should -> TermQ(PagesGen.word(11))))
    assert(rows(searcher.search(q, 10)) == rows(searcher.searchPlan(q, 10)))
  }

  test("block-skip cap regression: deep multi-block lists, frequent+mid OR") {
    // regression for the BMW skip bug: jumping to the block boundary without
    // capping at the next cursor's doc dropped top-score docs once lists
    // spanned many blocks (surfaced at 1M docs; reproduced here at 20k)
    val base = Files.createTempDirectory("graftwandbig").toString
    val df = spark.createDataFrame(PagesGen.local(20000)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    val s = new Searcher(spark, base)
    List(
      BoolQ(List(Occur.Should -> TermQ(PagesGen.word(3)), Occur.Should -> TermQ(PagesGen.word(77)))),
      BoolQ(List(Occur.Should -> TermQ(PagesGen.word(2)), Occur.Should -> TermQ(PagesGen.word(9)),
        Occur.Should -> TermQ(PagesGen.word(300)))),
      TermQ(PagesGen.word(2))
    ).foreach { q =>
      assert(rows(s.searchWand(q, 20)) == rows(s.searchPlan(q, 20)), s"mismatch for $q")
    }
  }

  test("duplicate query terms route through the plan path identically") {
    // 'x x x' folds to weight*3 in WAND — float-identical to the clause
    // chain only for power-of-two counts, so search() must NOT take WAND
    val t = PagesGen.word(2)
    val q = BoolQ(List(Occur.Should -> TermQ(t), Occur.Should -> TermQ(t), Occur.Should -> TermQ(t)))
    assert(rows(searcher.search(q, 10)) == rows(searcher.searchPlan(q, 10)))
    // parsed-path analog
    val qp = QueryParser.parse(s"$t $t $t", searcher.analyzer)
    assert(rows(searcher.search(qp, 10)) == rows(searcher.searchPlan(qp, 10)))
  }

  test("WAND survives merged piece-split posting rows") {
    val base = Files.createTempDirectory("graftwandmerge").toString
    val df = spark.createDataFrame(PagesGen.local(200)).toDF("url", "text")
    IndexBuilder.build(spark, df, base, IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    MergeJob.merge(spark, base, List(0, 1, 2, 3), pieceEntries = 16) // force pieces
    val s = new Searcher(spark, base)
    val q = BoolQ(List(Occur.Should -> TermQ(PagesGen.word(2)),
      Occur.Should -> TermQ(PagesGen.word(9))))
    assert(rows(s.searchWand(q, 15)) == rows(s.searchPlan(q, 15)))
  }
}
