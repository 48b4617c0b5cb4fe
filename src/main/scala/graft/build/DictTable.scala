package graft.build

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Global term dictionary: (term, df, ttf) aggregated across segments — the
  * BlockTree/.tip term-index analog (SURVEY.md §2.3 "Term dictionary"): at
  * query time, term stats come from this small pruned table instead of a
  * scan over every segment's postings metadata. One term-shuffle at build
  * time; df/ttf are invariant under merges.
  *
  * Freshness contract: the dictionary is valid only while the segment set it
  * was computed from matches the live stats table (signature check). A
  * streaming append changes the set -> readers silently fall back to the
  * postings-scan path; the next batch build or explicit refresh rewrites it.
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

  /** [[segsSignature]] computed from ALREADY-COLLECTED stats rows — callers
    * holding the live stats in memory (merge, split) avoid re-reading the
    * stats table just to stamp the marker. Identical string: default-field
    * rows deduped by segmentId, (id:maxDoc) sorted by id. */
  def segsSignatureOf(stats: Seq[graft.model.SegmentStats]): String =
    stats.filter(_.field == IndexBuilder.DefaultField)
      .map(s => s.segmentId -> s.maxDoc).toMap.toSeq
      .sortBy(_._1).map { case (s, m) => s"$s:$m" }.mkString(",")

  /** Signature of the live segment set (ids + maxDocs from stats). */
  def segsSignature(spark: SparkSession, indexPath: String): String = {
    import spark.implicits._
    try {
      spark.read.parquet(IndexBuilder.statsPath(spark, indexPath))
        .filter(col("field") === IndexBuilder.DefaultField)
        .dropDuplicates("segmentId")
        .select("segmentId", "maxDoc").as[(Int, Long)].collect()
        .sortBy(_._1).map { case (s, m) => s"$s:$m" }.mkString(",")
    } catch { case _: Exception => "" }
  }

  def write(spark: SparkSession, indexPath: String): Unit =
    write(spark, indexPath, None)

  /** Refresh dictionary + gram index. `postingsProj` is an optional
    * already-read (segmentId, field, term, df, ttf) projection of the LIVE
    * postings (e.g. pinned by a caller that just aggregated its own stats
    * from it) — passing it avoids a second full read of the postings table.
    *
    * Layout is SCALE-ADAPTIVE: the stats table's summed sumDocFreq bounds
    * the dictionary row count from above; small dictionaries (bound <=
    * spark.graft.dict.singleFileMaxTerms, default 1M) write ONE globally
    * sorted file — tighter row-group pruning, no range-partitioner sampling
    * job, no small-file spray — while large ones keep the sampled
    * repartitionByRange that spreads the sort across the cluster. */
  def write(spark: SparkSession, indexPath: String,
            postingsProj: Option[DataFrame]): Unit = {
    import spark.implicits._
    val sig = segsSignature(spark, indexPath)
    if (sig.isEmpty) return
    // live segment set + dictionary-size bound from ONE read of the tiny
    // committed stats table (orphan dirs excluded)
    val statRows = spark.read.parquet(IndexBuilder.statsPath(spark, indexPath))
      .select(col("segmentId"), coalesce(col("sumDocFreq"), lit(0L)).as("sdf"))
      .as[(Int, Long)].collect()
    val live = statRows.map(_._1).toSet
    val termBound = statRows.map(_._2).sum
    val singleFileMax =
      spark.conf.getOption("spark.graft.dict.singleFileMaxTerms")
        .map(_.toLong).getOrElse(1000000L)
    val src = postingsProj.getOrElse(
      spark.read.parquet(IndexBuilder.postingsPath(indexPath))
        .select(col("segmentId"), col("field"), col("term"), col("df"), col("ttf")))
    val dict0 = src
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
    val dict =
      if (termBound <= singleFileMax)
        dict0.repartition(1).sortWithinPartitions("field", "len", "term")
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
      () => writeGramsFrom(spark, indexPath, pinned, termBound <= singleFileMax / 8)))
    finally pinned.unpersist()
    writeMarker(spark, indexPath, sig)
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
    */
  def writeGrams(spark: SparkSession, indexPath: String): Unit =
    writeGramsFrom(spark, indexPath,
      spark.read.parquet(dictPath(indexPath)), singleFile = false)

  private def writeGramsFrom(spark: SparkSession, indexPath: String,
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
        grams.repartition(1).sortWithinPartitions("field", "gram", "term", "pos")
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

  def isValid(spark: SparkSession, indexPath: String): Boolean =
    readMarker(spark, indexPath).contains(segsSignature(spark, indexPath))

  /** The dictionary DataFrame if present AND fresh. */
  def readIfValid(spark: SparkSession, indexPath: String): Option[DataFrame] =
    if (isValid(spark, indexPath)) {
      try Some(spark.read.parquet(dictPath(indexPath)))
      catch { case _: Exception => None }
    } else None

  /** The positional-bigram table if present AND fresh (same marker as the
    * dictionary: both are rewritten together and share df/ttf merge
    * invariance). Absent on indexes written before the gram format —
    * readers fall back to the length-band dictionary scan. */
  def readGramsIfValid(spark: SparkSession, indexPath: String): Option[DataFrame] =
    if (isValid(spark, indexPath)) {
      try Some(spark.read.parquet(gramsPath(indexPath)))
      catch { case _: Exception => None }
    } else None
}
