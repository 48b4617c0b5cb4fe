package graft.build

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Global term dictionary: (term, df, ttf) aggregated across segments — the
  * BlockTree/.tip term-index analog (SURVEY.md §2.3 "Term dictionary"): at
  * query time, term stats come from this small pruned table instead of a
  * scan over every segment's postings metadata. One term-shuffle at build
  * time.
  *
  * Freshness contract: the dictionary is valid only while the segment set it
  * was computed from matches the live stats table (the marker holds that
  * set's signature). A streaming append changes the set -> readers silently
  * fall back to the postings-scan path; the next batch build or explicit
  * refresh rewrites it. Rewrites of existing docs (merge, sorted merge,
  * split) follow one carry-or-rebuild rule: df/ttf depend only on WHICH docs
  * are live, not on how they are segmented, so a rewrite that drops no live
  * doc (Σ rewritten docs = Σ source maxDoc) from a source whose marker is
  * valid keeps the dictionary — a merge re-stamps the marker, a split copies
  * `dict` and `dict_grams` ([[carry]]). Every other rewrite rebuilds it
  * from the stats it just committed ([[write]]), except that a merge leaves
  * a dictionary that was already stale as it is.
  */
object DictTable {

  def dictPath(base: String) = s"$base/dict"
  def gramsPath(base: String) = s"$base/dict_grams"
  def markerPath(base: String) = s"$base/dict_marker.txt"

  /** Positional bigrams of `term` over CODE POINTS (edit operations are
    * code-point-level; a gram through a surrogate pair would desynchronize
    * the query- and index-side positions). Shared by the dict_grams writer
    * and the query-side gram extraction so the two can never disagree. */
  def positionalBigrams(term: String): Array[(String, Int)] = {
    val cps = term.codePoints().toArray
    if (cps.length < 2) Array.empty
    else Array.tabulate(cps.length - 1)(i => (new String(cps, i, 2), i))
  }

  /** Signature of the segment set of `stats`, the rows a caller holds:
    * default-field rows deduped by segmentId, (id:maxDoc) sorted by id. */
  def segsSignatureOf(stats: Seq[graft.model.SegmentStats]): String =
    stats.filter(_.field == IndexBuilder.DefaultField)
      .map(s => s.segmentId -> s.maxDoc).toMap.toSeq
      .sortBy(_._1).map { case (s, m) => s"$s:$m" }.mkString(",")

  /** Dictionaries whose term bound (Σ sumDocFreq) is at most this many rows
    * are written as ONE globally sorted file — tighter row-group pruning, no
    * range-partitioner sampling job, no small-file spray; larger ones keep
    * the sampled repartitionByRange that spreads the sort across the
    * cluster. The gram index goes single-file below an eighth of it. */
  private val SingleFileMaxTerms = 1000000L

  /** Refresh dictionary + gram index of the segment set `stats` — the LIVE
    * stats rows the caller holds (just committed, or read once): they give
    * the live set, the marker signature and the term bound, so the refresh
    * reads no stats table. One read of those segments' postings. */
  def write(spark: SparkSession, indexPath: String,
            stats: Seq[graft.model.SegmentStats]): Unit = {
    val sig = segsSignatureOf(stats)
    if (sig.isEmpty) return
    val live = stats.map(_.segmentId).toSet
    val termBound = stats.map(_.sumDocFreq).sum
    // the five columns read, with their known types: no footer-inference job
    val dict0 = spark.read.schema("segmentId INT, field STRING, term STRING, df INT, ttf BIGINT")
      .parquet(IndexBuilder.postingsPath(indexPath))
      .filter(col("segmentId").isInCollection(live))
      .select("field", "term", "df", "ttf")
      .groupBy("field", "term")
      .agg(sum("df").cast("long").as("df"), sum("ttf").cast("long").as("ttf"))
      // `len` (code points) materialized + (field, len, term) range-sort:
      // Parquet row-group min/max stats on (field, len) become TIGHT, so a
      // fuzzy query's length-band predicate |len - len(q)| <= maxEdits
      // prunes the dictionary scan to ~2*maxEdits+1 length slices instead
      // of reading the whole table (Searcher.fuzzyDictScan) — the storage-
      // level slice of the reference's Levenshtein-automaton dictionary
      // walk (Util/Automaton/LevenshteinAutomata.cs). Terms stay sorted
      // within each length slice, keeping prefix-family stats usable too.
      .withColumn("len", length(col("term")).cast("int"))
    // a single-file dictionary coalesces the aggregate's own output into
    // one task (a small table by the bound) instead of shuffling it again
    val dict =
      if (termBound <= SingleFileMaxTerms)
        dict0.coalesce(1).sortWithinPartitions("field", "len", "term")
      else
        dict0.repartitionByRange(col("field"), col("len"), col("term"))
          .sortWithinPartitions("field", "len", "term")
    // pin the aggregated dictionary: the gram index derives from the SAME
    // rows instead of reading the just-written parquet back, and the two
    // independent writes run concurrently (the pinned blocks materialize
    // once under the block manager's per-partition locking)
    val pinned = dict.persist()
    try ConcurrentWrites(spark, Seq(
      () => {
        pinned.write.mode(SaveMode.Overwrite).parquet(dictPath(indexPath))
        spark.catalog.refreshByPath(dictPath(indexPath))
      },
      () => writeGrams(spark, indexPath, pinned, termBound <= SingleFileMaxTerms / 8)))
    finally pinned.unpersist()
    writeMarker(spark, indexPath, sig)
  }

  /** Carry the dictionary and gram index of `srcPath` (live stats
    * `srcStats`) to `dstPath`, a rewrite of the same live docs whose stats
    * are `dstStats` — the caller checked that no doc dropped. Only a fresh
    * and complete source is carried: its marker matches `srcStats` and both
    * tables exist. The files are copied (IndexSplitter copies rather than
    * recomputes) and the marker stamped with the destination's signature.
    * Returns whether it carried. */
  def carry(spark: SparkSession, srcPath: String, srcStats: Seq[graft.model.SegmentStats],
            dstPath: String, dstStats: Seq[graft.model.SegmentStats]): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(srcPath).getFileSystem(conf)
    if (!readMarker(spark, srcPath).contains(segsSignatureOf(srcStats)) ||
        !fs.exists(new Path(dictPath(srcPath))) || !fs.exists(new Path(gramsPath(srcPath))))
      return false
    Seq(dictPath _, gramsPath _).foreach { table =>
      val (from, to) = (new Path(table(srcPath)), new Path(table(dstPath)))
      val (srcFs, dstFs) = (from.getFileSystem(conf), to.getFileSystem(conf))
      if (dstFs.exists(to)) dstFs.delete(to, true)
      require(FileUtil.copy(srcFs, from, dstFs, to, false, conf), s"copy $from -> $to failed")
      spark.catalog.refreshByPath(table(dstPath))
    }
    writeMarker(spark, dstPath, segsSignatureOf(dstStats))
    true
  }

  /** Positional-bigram inverted index over the dictionary — the columnar
    * equivalent of the reference's Levenshtein-automaton walk down the FST
    * term dictionary (Util/Automaton/LevenshteinAutomata.cs +
    * Index/AutomatonTermsEnum.cs). The automaton walk is sublinear because
    * it SEEKS between viable terms; a Parquet dictionary has no driver-
    * resident trie to seek, but gram-equality predicates against a
    * (field, gram)-sorted table prune to exactly the row groups holding a
    * query's grams — the same sublinearity, shuffle-free at the scan. The
    * count-filtering bound is the classic positional q-gram lemma (Gravano
    * et al., VLDB 2001; EDJoin): ed(s,t) <= e implies s and t share at
    * least max(|s|,|t|) - 1 - 2e positional bigrams within position
    * distance e. Storage is ~(len-1) rows per term — the dictionary is
    * orders of magnitude smaller than postings, so the overhead is noise.
    * A single-file gram table comes from a single-file dictionary, whose
    * one partition it keeps.
    */
  private def writeGrams(spark: SparkSession, indexPath: String,
                         dictDf: DataFrame, singleFile: Boolean): Unit = {
    import spark.implicits._
    val grams = dictDf
      .select("field", "term", "df", "ttf", "len").as[(String, String, Long, Long, Int)]
      .flatMap { case (f, t, df, ttf, len) =>
        positionalBigrams(t).iterator.map { case (g, p) => (f, g, p, t, df, ttf, len) }
      }
      .toDF("field", "gram", "pos", "term", "df", "ttf", "len")
    val laid =
      if (singleFile)
        grams.coalesce(1).sortWithinPartitions("field", "gram", "term", "pos")
      else
        grams.repartitionByRange(col("field"), col("gram"), col("term"))
          .sortWithinPartitions("field", "gram", "term", "pos")
    laid.write.mode(SaveMode.Overwrite).parquet(gramsPath(indexPath))
    spark.catalog.refreshByPath(gramsPath(indexPath))
  }

  def writeMarker(spark: SparkSession, indexPath: String, sig: String): Unit = {
    val p = new Path(markerPath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(sig.getBytes("UTF-8"))
    out.close()
  }

  def readMarker(spark: SparkSession, indexPath: String): Option[String] = {
    val p = new Path(markerPath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = scala.io.Source.fromInputStream(in).mkString
      in.close()
      Some(s)
    }
  }

  /** Whether the marker matches the live segment set, from one read of
    * the stats table. */
  def isValid(spark: SparkSession, indexPath: String): Boolean =
    isFresh(spark, indexPath, IndexBuilder.readStats(spark, indexPath).toSeq)

  private def isFresh(spark: SparkSession, indexPath: String,
                      stats: Seq[graft.model.SegmentStats]): Boolean =
    readMarker(spark, indexPath).contains(segsSignatureOf(stats))

  /** The dictionary DataFrame if present AND fresh against `stats`, the
    * live stats rows the reader holds (no stats re-read). The schema is
    * inferred: dictionaries written before the `len` column lack it. */
  def readIfValid(spark: SparkSession, indexPath: String,
                  stats: Seq[graft.model.SegmentStats]): Option[DataFrame] =
    readFresh(spark, indexPath, stats, dictPath(indexPath))

  /** The positional-bigram table if present AND fresh (same marker as the
    * dictionary: both are rewritten together and share df/ttf merge
    * invariance). Absent on indexes written before the gram format —
    * readers fall back to the length-band dictionary scan. */
  def readGramsIfValid(spark: SparkSession, indexPath: String,
                       stats: Seq[graft.model.SegmentStats]): Option[DataFrame] =
    readFresh(spark, indexPath, stats, gramsPath(indexPath))

  private def readFresh(spark: SparkSession, indexPath: String,
                        stats: Seq[graft.model.SegmentStats], table: String): Option[DataFrame] =
    if (!isFresh(spark, indexPath, stats)) None
    else scala.util.Try(spark.read.parquet(table)).toOption
}
