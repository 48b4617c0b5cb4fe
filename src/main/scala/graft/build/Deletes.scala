package graft.build

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** Document deletion — the IndexWriter.DeleteDocuments analog
  * (/root/reference/src/Lucene.Net.Core/Index/IndexWriter.cs:1591,1741):
  * deletes are an overlay consulted by every scorer (live docs,
  * Util/FixedBitSet.cs:35), NOT a rewrite of the segments. Reference
  * semantics preserved:
  *
  *  - matching docs disappear from every query/count immediately;
  *  - collection statistics (maxDoc, df, ttf, avgdl) are NOT decremented
  *    until the deleted docs are merged away (Lucene's NumDocs vs MaxDoc);
  *  - MergeJob purges deleted docs, compacts docIds and recomputes the
  *    merged segment's statistics — after a full merge the index is
  *    byte-equivalent to one built without the deleted docs' postings;
  *  - deletes only affect docs indexed BEFORE the delete: markers are
  *    RESOLVED to (segmentId, docId) at delete time (the per-segment
  *    FixedBitSet live-docs analog), so a later re-add of the same url is
  *    a fresh, unmasked document — exactly DeleteDocuments(Term) +
  *    UpdateDocument semantics. (Round 2 keyed markers by url, which
  *    masked and eventually merge-purged re-added docs — data loss.)
  *
  * Layout: `deletes/` parquet of resolved (segmentId INT, docId INT)
  * markers, written DISTRIBUTED (a url->doc resolution join; no driver
  * collect at any delete volume). Query-side consumption is tiered:
  * readers broadcast the overlay as per-segment sorted arrays only while
  * it is small (Searcher.deleteBroadcastLimit); above that the scorer
  * stream takes a distributed anti-join against the marker table — the
  * 10^10-marker case never touches the driver.
  */
object Deletes {

  def deletesPath(base: String) = s"$base/deletes"
  private def deletesNewPath(base: String) = s"$base/deletes_new"

  /** Complete an interrupted [[pruneApplied]] swap: a crash between the
    * delete and the rename leaves `deletes_new` (the correct post-prune
    * content) without `deletes` — finish the rename so deleted docs can
    * never resurrect. Called from every read/write entry point.
    */
  private def recoverSwap(spark: SparkSession, indexPath: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new Path(deletesPath(indexPath))
    val fs = dst.getFileSystem(conf)
    val pending = new Path(deletesNewPath(indexPath))
    if (!fs.exists(dst) && fs.exists(pending)) {
      require(fs.rename(pending, dst), "deletes swap recovery failed")
      spark.catalog.refreshByPath(deletesPath(indexPath))
    }
  }

  def exists(spark: SparkSession, indexPath: String): Boolean = {
    recoverSwap(spark, indexPath)
    val p = new Path(deletesPath(indexPath))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** DeleteDocuments(Term) analog on the key field: resolve the urls against
    * the CURRENT doc store to (segmentId, docId) markers and append them.
    * Resolution at delete time is the delete horizon — docs with the same
    * url indexed later are unaffected. Fully distributed (join + write).
    */
  def deleteUrls(spark: SparkSession, indexPath: String, urls: DataFrame): Unit = {
    recoverSwap(spark, indexPath) // never append over an interrupted prune
    val docs = spark.read.parquet(IndexBuilder.docsPath(indexPath))
      .select("segmentId", "docId", "url")
    val u = urls.select(col(urls.columns.head).cast("string").as("url")).distinct()
    docs.join(u, Seq("url"), "left_semi")
      .select("segmentId", "docId")
      .write.mode(SaveMode.Append).parquet(deletesPath(indexPath))
  }

  /** DeleteDocuments(Query) analog: the query's matches ARE the resolved
    * (segmentId, docId) markers — no url roundtrip. */
  def deleteByQuery(searcher: graft.search.Searcher, indexPath: String,
                    q: graft.search.Query): Unit = {
    val spark = searcher.docs.sparkSession
    recoverSwap(spark, indexPath)
    searcher.compile(q)
      .select("segmentId", "docId")
      .write.mode(SaveMode.Append).parquet(deletesPath(indexPath))
  }

  /** The marker table's schema: every writer ([[deleteUrls]] off the doc
    * store, [[deleteByQuery]] off `Hit`, [[appendMarkers]], the prune's
    * rewrite) emits int columns. */
  private val MarkerSchema = StructType(Seq(
    StructField("segmentId", IntegerType), StructField("docId", IntegerType)))

  /** Distinct resolved markers as a DataFrame (segmentId, docId) — the
    * distributed consumption path (anti-joins); empty frame when none. Read
    * with the known schema: no footer-inference job. */
  def deletedDf(spark: SparkSession, indexPath: String): DataFrame =
    if (!exists(spark, indexPath)) {
      import spark.implicits._
      Seq.empty[(Int, Int)].toDF("segmentId", "docId")
    } else spark.read.schema(MarkerSchema).parquet(deletesPath(indexPath)).distinct()

  /** Number of distinct markers — one tiny aggregate; readers use it to pick
    * broadcast-overlay vs anti-join consumption. */
  def count(spark: SparkSession, indexPath: String): Long =
    if (!exists(spark, indexPath)) 0L else deletedDf(spark, indexPath).count()

  /** Per-segment sorted deleted docIds (the FixedBitSet live-docs analog,
    * inverted), collected to the driver — for BOUNDED contexts only:
    *  - merge, restricted via `segments` to its (<= maxMergeAtOnce) sources,
    *    so the collect is bounded by the merge fan-in, not the index;
    *  - the searcher's small-overlay fast path, gated by [[count]] against
    *    Searcher.deleteBroadcastLimit before calling this.
    * One job: the raw scoped markers are collected and deduped on the
    * driver (a marker appended twice is one delete), no `distinct` shuffle.
    */
  def deletedDocIds(spark: SparkSession, indexPath: String,
                    segments: Option[Set[Int]] = None): Map[Int, Array[Int]] = {
    import spark.implicits._
    if (!exists(spark, indexPath)) return Map.empty
    val base = spark.read.schema(MarkerSchema).parquet(deletesPath(indexPath))
    val scoped = segments match {
      case Some(s) => base.filter(col("segmentId").isInCollection(s))
      case None => base
    }
    scoped.as[(Int, Int)].collect()
      .groupBy(_._1).map { case (s, arr) => s -> arr.map(_._2).distinct.sorted }
  }

  /** Drop markers of segments that are no longer `live` (their docs were
    * purged by a merge). Fully distributed (filter + write). Crash-safe
    * swap: the new content lands at `deletes_new` FIRST, so the only crash
    * window (between delete and rename) leaves a state [[recoverSwap]]
    * completes on the next read — deleted docs never resurrect.
    */
  def pruneApplied(spark: SparkSession, indexPath: String, live: Set[Int]): Unit = {
    if (!exists(spark, indexPath)) return
    // keep markers for segments whose data dirs are still on disk even if
    // no longer live: grace-window readers (previous stats generation) are
    // still scanning those dirs and must keep seeing their deletes — the
    // markers fall out on the prune AFTER the tombstoned dirs are purged
    val hadoopConf0 = spark.sparkContext.hadoopConfiguration
    val docsDir = new Path(IndexBuilder.docsPath(indexPath))
    val fs0 = docsDir.getFileSystem(hadoopConf0)
    val onDisk: Set[Int] =
      if (!fs0.exists(docsDir)) Set.empty
      else fs0.listStatus(docsDir).map(_.getPath.getName).collect {
        case n if n.startsWith("segmentId=") => n.drop("segmentId=".length).toInt
      }.toSet
    val keep = live ++ onDisk
    val remaining = deletedDf(spark, indexPath)
      .filter(col("segmentId").isInCollection(keep))
    val staged = s"$indexPath/.staging/deletes_next"
    remaining.write.mode(SaveMode.Overwrite).parquet(staged)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(indexPath).getFileSystem(hadoopConf)
    val pending = new Path(deletesNewPath(indexPath))
    if (fs.exists(pending)) fs.delete(pending, true)
    require(fs.rename(new Path(staged), pending), "deletes staging rename failed")
    val dst = new Path(deletesPath(indexPath))
    fs.delete(dst, true)
    require(fs.rename(pending, dst), "deletes table swap failed")
    // fs-level rename bypasses the automatic listing-cache refresh
    spark.catalog.refreshByPath(deletesPath(indexPath))
  }

  /** Append already-resolved markers (merge uses this to carry forward
    * deletes that raced in against its source segments, remapped to the
    * merged segment's ids). */
  def appendMarkers(spark: SparkSession, indexPath: String,
                    markers: Seq[(Int, Int)]): Unit = {
    if (markers.isEmpty) return
    import spark.implicits._
    recoverSwap(spark, indexPath)
    markers.toDF("segmentId", "docId")
      .write.mode(SaveMode.Append).parquet(deletesPath(indexPath))
  }
}
