package graft.drive

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.build.{CheckIndex, IndexBuilder, PagesGen}
import graft.merge.{MergeJob, TieredMergePolicy}
import graft.search._

/** Scale soak for the round-3 operators (manual drive): a 1M-page
  * index-SORTED build -> delete-by-query -> purging SORTED merge
  * (permutation remap) -> early-terminating sorted collection identity,
  * plus guarded percolation throughput over the same corpus.
  */
object SoakSorted {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = java.nio.file.Files.createTempDirectory("graftsortsoak").toString

    // 1. sorted build: sort key = text length (a numeric quality proxy)
    val pages = PagesGen.df(spark, n, partitions = 32).select("url", "text")
      .withColumn("nlen", length(col("text")).cast("long"))
    val t0 = System.nanoTime()
    IndexBuilder.build(spark, pages, base,
      IndexBuilder.BuildConfig(16, "simple", groupSize = 16, indexSort = Some("nlen")))
    val buildSec = (System.nanoTime() - t0) / 1e9

    val s0 = new Searcher(spark, base)
    require(s0.maxDoc == n, s"build count ${s0.maxDoc} != $n")

    // 2. sorted top-k identity BEFORE merge (16 sorted segments)
    def fullSort(se: Searcher, k: Int) = se.docs
      .select(col("url"), col("sortKey"))
      .orderBy(col("sortKey").asc, col("url").asc).limit(k)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val tEarly0 = System.nanoTime()
    val early0 = s0.sortedTopK(50).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val earlySec = (System.nanoTime() - tEarly0) / 1e9
    require(early0 == fullSort(s0, 50), "pre-merge sortedTopK != full sort")

    // 3. delete a rare term, then a purging SORTED merge (permutation remap)
    val rare = TermQ(PagesGen.word(2000))
    val rareCount = s0.count(rare)
    require(rareCount > 0)
    graft.build.Deletes.deleteByQuery(s0, base, rare)
    val tm0 = System.nanoTime()
    val merges = MergeJob.mergeToPolicy(spark, base,
      new TieredMergePolicy(segsPerTier = 2.0, maxMergeAtOnce = 8, floorSegmentDocs = 1000))
    val mergeSec = (System.nanoTime() - tm0) / 1e9
    require(merges >= 1, "expected sorted merge rounds")

    val s1 = new Searcher(spark, base)
    require(s1.count(rare) == 0, "purged docs resurrected")
    require(s1.maxDoc == n - rareCount, s"maxDoc after purge: ${s1.maxDoc}")
    val report = CheckIndex.run(spark, base) // includes docId==sort-order invariant
    require(report.ok, report.violations.mkString("; "))
    require(s1.sortedTopK(50).collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
      == fullSort(s1, 50), "post-merge sortedTopK != full sort")

    // 4. early-terminating filtered collection vs full sort of the matches
    val q = TermQ("quick")
    val gotEarly = s1.searchSortedEarly(q, 20).collect().map(_.getString(0)).toSeq
    val wantEarly = s1.compile(q)
      .join(s1.docs.select("segmentId", "docId", "url", "sortKey"), Seq("segmentId", "docId"))
      .orderBy(col("sortKey").asc, col("url").asc).limit(20)
      .collect().map(_.getAs[String]("url")).toSeq
    require(gotEarly == wantEarly, "searchSortedEarly != filter+sort at 1M")

    // 5. guarded percolation over the corpus: 24 stored queries, one pass
    val stored: Seq[(String, Query)] =
      (0 until 20).map(i => s"q_term_$i" -> (TermQ(PagesGen.word(100 + i * 37)): Query)) ++ Seq(
        "q_phrase" -> PhraseQ(List("quick" -> 0, "brown" -> 1)),
        "q_and" -> BoolQ(List(Occur.Must -> TermQ("quick"), Occur.Must -> TermQ("fox"))),
        "q_span" -> SpanMatchQ(SpanNearS(List(SpanTermS("quick"), SpanTermS("fox")), 1, inOrder = true)),
        "q_prefix" -> PrefixQ("wba"))
    val docsIn = pages.withColumn("id", expr("cast(regexp_extract(url, '/p/([0-9]+)$', 1) as long)"))
    val tp0 = System.nanoTime()
    val matches = graft.pipeline.Percolator
      .percolate(docsIn, "id", "text", stored, "simple")
      .groupBy("query_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val percSec = (System.nanoTime() - tp0) / 1e9
    val phraseMatches = matches.getOrElse("q_phrase", 0L)
    require(phraseMatches > n / 4, s"fox-phrase percolation too small: $phraseMatches")
    require(matches.getOrElse("q_and", 0L) == phraseMatches,
      "percolated AND must equal phrase on the fox fixture")
    require(matches.getOrElse("q_span", 0L) == phraseMatches,
      "percolated span must equal phrase on the fox fixture")

    println(s"SORTEDSOAK ok: n=$n build=${buildSec.formatted("%.1f")}s " +
      s"early50=${earlySec.formatted("%.2f")}s merges=$merges merge=${mergeSec.formatted("%.1f")}s " +
      s"deleted=$rareCount segs=${report.segments} " +
      s"percolate=${percSec.formatted("%.1f")}s (${(n / percSec).toLong} docs/s, ${stored.size} queries) " +
      s"phrase_matches=$phraseMatches")
    spark.stop()
  }
}
