package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.build.{DictTable, IndexBuilder}
import graft.search._
import java.nio.file.Files

/** Positional-bigram dictionary index (dict_grams) — the columnar analog of
  * the reference's Levenshtein-automaton FST walk
  * (/root/reference/src/Lucene.Net.Core/Util/Automaton/LevenshteinAutomata.cs
  * + Index/AutomatonTermsEnum.cs): fuzzy and wildcard candidate fetch by
  * gram EQUALITY against a (field, gram)-sorted table, so the scan touches
  * only the query's own gram row groups instead of the whole dictionary.
  * Candidate filtering uses the positional q-gram count lemma (Gravano et
  * al., VLDB 2001): ed(s,t) <= e implies >= max(|s|,|t|)-1-2e shared
  * positional bigrams within position distance e.
  */
class GramIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val (base, nGramRows) = {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    val prevPage = hc.get("parquet.page.size")
    hc.setInt("parquet.block.size", 32 * 1024)
    hc.setInt("parquet.page.size", 8 * 1024)
    try {
      val b = Files.createTempDirectory("graftgrams").toString
      // same corpus shape as FuzzyPruneSpec: 40k distinct terms, len 4..23
      val pages = (0 until 4000).map { i =>
        val terms = (0 until 10).map { j =>
          val k = i * 10 + j
          (s"t${k}x" * 3).take(4 + k % 20)
        }
        (f"u$i%05d", terms.mkString(" "))
      }
      IndexBuilder.build(spark, pages.toDF("url", "text"), b,
        IndexBuilder.BuildConfig(2, "simple", groupSize = 2))
      (b, spark.read.parquet(DictTable.gramsPath(b)).count())
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size") else hc.set("parquet.block.size", prevBlock)
      if (prevPage == null) hc.unset("parquet.page.size") else hc.set("parquet.page.size", prevPage)
    }
  }

  test("positionalBigrams is code-point-exact") {
    assert(DictTable.positionalBigrams("abc").toList == List(("ab", 0), ("bc", 1)))
    assert(DictTable.positionalBigrams("a").isEmpty)
    assert(DictTable.positionalBigrams("").isEmpty)
    // astral char (1 code point, 2 UTF-16 units) counts as ONE position
    val g = DictTable.positionalBigrams("a😀b")
    assert(g.length == 2 && g(0)._2 == 0 && g(1)._2 == 1)
  }

  test("build writes a fresh gram table alongside the dictionary") {
    val g = spark.read.parquet(DictTable.gramsPath(base))
    assert(g.columns.sorted.toList == List("df", "field", "gram", "len", "pos", "term", "ttf"))
    assert(DictTable.readGramsIfValid(spark, base, IndexBuilder.readStats(spark, base).toSeq).isDefined)
    assert(nGramRows > 100000, s"expected a large gram table, got $nGramRows")
  }

  test("gram-path fuzzy candidates verify to the same terms as the band path") {
    val se = new Searcher(spark, base)
    for (probe <- Seq("t1222x", "t2222xt", "t24xt24x")) {
      for (e <- 1 to 2) {
        def terms(useGrams: Boolean) =
          se.fuzzyDictScan(se.defaultField, probe, e, useGrams)
            .filter(levenshtein(col("term"), lit(probe)) <= e)
            .select("term").collect().map(_.getString(0)).toSet
        val gram = terms(useGrams = true)
        val band = terms(useGrams = false)
        assert(gram == band, s"gram path diverged for $probe~$e")
        assert(band.nonEmpty, s"no matches at all for $probe~$e")
      }
    }
  }

  test("gram scan reads a bounded row-group subset of dict_grams") {
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val se = new Searcher(spark, base)
      val df = se.fuzzyDictScan(se.defaultField, "t1222x", 1)
      df.collect()
      val scans = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      val gramScan = scans.find(_.metadata.getOrElse("Location", "").contains("dict_grams"))
      assert(gramScan.isDefined, s"expected a dict_grams scan, got ${scans.map(_.metadata.getOrElse("Location", ""))}")
      val pushed = gramScan.get.metadata.getOrElse("PushedFilters", "")
      assert(pushed.contains("gram"), s"gram In-filter not pushed: $pushed")
      val scanned = gramScan.get.metrics("numOutputRows").value
      assert(scanned < nGramRows / 10,
        s"scan read $scanned of $nGramRows gram rows — row groups not pruned")
      assert(scanned > 0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("short queries fall back to the band path (count bound vacuous)") {
    val se = new Searcher(spark, base)
    // qLen 4, e=2: 4-1-4 < 1 -> gram filter could miss true matches; the
    // scan must route around it and still find everything
    val got = se.fuzzyDictScan(se.defaultField, "t1xt", 2)
      .filter(levenshtein(col("term"), lit("t1xt")) <= 2)
      .select("term").collect().map(_.getString(0)).toSet
    val want = se.dictionary(se.defaultField)
      .filter(levenshtein(col("term"), lit("t1xt")) <= 2)
      .select("term").collect().map(_.getString(0)).toSet
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("leading wildcard matches via the gram index, equal to a full rlike scan") {
    val se = new Searcher(spark, base)
    // *222x: suffix required grams {22, 2x}; true matches are every term
    // ending in 222x
    val got = se.search(WildcardQ("*1222x"), 100)
      .collect().map(_.getString(0)).toSet
    val wantTerms = se.dictionary(se.defaultField)
      .filter(col("term").rlike("^.*1222x$"))
      .select("term").collect().map(_.getString(0)).toSet
    assert(wantTerms.nonEmpty)
    // doc u00122 holds t1222x
    assert(got.contains("u00122"))
    // cross-check doc counts through the postings fallback predicate
    val fallback = se.search(RegexpQ(".*1222x"), 100)
      .collect().map(_.getString(0)).toSet
    assert(got == fallback, "gram-index wildcard diverged from the regexp scan")
  }

  test("wildcard with no 2-codepoint literal run falls back cleanly") {
    val se = new Searcher(spark, base)
    // every literal run is a single char -> no required grams -> dict scan
    val got = se.search(WildcardQ("t?2*"), 500).collect().map(_.getString(0)).toSet
    val fallback = se.search(RegexpQ("t.2.*"), 500).collect().map(_.getString(0)).toSet
    assert(got == fallback)
    assert(got.nonEmpty)
  }

  test("regexLiteralRuns: sound mandatory-literal extraction") {
    import Searcher.regexLiteralRuns
    assert(regexLiteralRuns("stream") == List("stream"))
    assert(regexLiteralRuns(".*1222x") == List("1222x"))
    assert(regexLiteralRuns("str.*ing") == List("str", "ing"))
    assert(regexLiteralRuns("ab?cd") == List("a", "cd"))        // b optional
    assert(regexLiteralRuns("ab+cd") == List("ab", "cd"))       // one b required, gap after
    assert(regexLiteralRuns("ab{2}c") == List("abbc"))          // exact repeat stays contiguous
    assert(regexLiteralRuns("ab{2,4}c") == List("abb", "c"))    // tail may repeat
    assert(regexLiteralRuns("ab{0,3}c") == List("a", "c"))      // possibly absent
    assert(regexLiteralRuns("a[xy]b") == List("a", "b"))        // class breaks the run
    assert(regexLiteralRuns("a\\.b") == List("a.b"))             // escaped literal dot
    assert(regexLiteralRuns("a\\db") == List("a", "b"))          // class escape breaks
    assert(regexLiteralRuns("ab.?cd") == List("ab", "cd"))
    assert(regexLiteralRuns("abc+?de") == List("abc", "de"))    // reluctant suffix
    // non-local constructs abort to Nil (full-scan fallback)
    assert(regexLiteralRuns("(ab|cd)e").isEmpty)
    assert(regexLiteralRuns("ab|cd").isEmpty)
    assert(regexLiteralRuns("a\\Qb.c\\Ed").isEmpty)
    assert(regexLiteralRuns("*ab").isEmpty)                     // malformed
    assert(regexLiteralRuns("ab{x}c").isEmpty)                  // malformed braces
    // escapes that consume further pattern chars would desync the walk
    assert(regexLiteralRuns("\\u0041bc").isEmpty)
    assert(regexLiteralRuns("a\\x41b").isEmpty)
    assert(regexLiteralRuns("a\\p{L}b").isEmpty)
    assert(regexLiteralRuns("(a)b\\1").isEmpty)
    assert(regexLiteralRuns("a[b[c]]d").isEmpty)                // nested class
    assert(regexLiteralRuns("a\\bword") == List("a", "word")) // \b zero-width opaque
  }

  test("regexp matches via the gram index, equal to a full dictionary scan") {
    val se = new Searcher(spark, base)
    // two mandatory runs {t12, 2x} around a gap -> gram fetch; the rlike
    // predicate verifies candidates exactly
    val got = se.search(RegexpQ("t12.*2x"), 200)
      .collect().map(_.getString(0)).toSet
    val wantTerms = se.dictionary(se.defaultField)
      .filter(col("term").rlike("^t12.*2x$"))
      .select("term").collect().map(_.getString(0)).toSet
    assert(wantTerms.nonEmpty)
    val wantDocs = se.search(
      BoolQ(wantTerms.toList.map(t => Occur.Should -> (ConstantScoreQ(TermQ(t), 1f): Query)), 0),
      200).collect().map(_.getString(0)).toSet
    assert(got == wantDocs)
    // a pattern with alternation falls back to the full predicate scan and
    // still answers correctly (both alternatives occur in the corpus)
    val altTerms = se.dictionary(se.defaultField)
      .filter(col("term").rlike("^.*(1222|9999)x$"))
      .select("term").collect().map(_.getString(0)).toSet
    val altWant = se.search(
      BoolQ(altTerms.toList.map(t => Occur.Should -> (ConstantScoreQ(TermQ(t), 1f): Query)), 0),
      200).collect().map(_.getString(0)).toSet
    val viaAlt = se.search(RegexpQ(".*(1222|9999)x"), 200)
      .collect().map(_.getString(0)).toSet
    assert(viaAlt == altWant)
    val viaPlain = se.search(RegexpQ(".*1222x"), 200)
      .collect().map(_.getString(0)).toSet
    assert(viaPlain.subsetOf(viaAlt) && viaAlt.size > viaPlain.size)
  }
}
