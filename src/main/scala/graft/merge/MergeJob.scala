package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.build.IndexBuilder
import graft.model._

/** Segment merge — the SegmentMerger analog
  * (/root/reference/src/Lucene.Net.Core/Index/SegmentMerger.cs:89-162 —
  * concatenate doc stores with docID rebasing; k-way sort-merge of postings
  * summing df/ttf; remap via MergeDocIDRemapper).
  *
  * Every merge is a [[SegmentRewrite]] of the sources' live docs into one
  * fresh target segment; only the doc map differs, as in Lucene, where a
  * sorting merge supplies a different doc map to the same merger:
  *  - an UNSORTED index concatenates (SegmentRewrite.Concat): source
  *    segments ascending, then docId, applied deletes compacted away — a
  *    narrow rebase, no sort;
  *  - an index-SORTED merge re-sorts (SortingMergePolicy.cs,
  *    SegmentRewrite.Ranked): the live docs take the builder's own
  *    (sortKey, url) order, as in a split into one destination
  *    ([[splitIndex]] is the same primitive with hash routing).
  * The postings explode to per-(term, doc) entries and regroup by the salted
  * (segment, field, term, newId / pieceEntries) key, so a stopword-scale
  * term becomes several disjoint-range piece rows (the query path handles
  * split posting rows transparently) and no reducer holds more than one
  * piece — the salted hot-term handling of SURVEY.md §7.3.
  *
  * Commit protocol (the segments_N two-phase-commit analog): the merged
  * segment gets a FRESH id, staged data renames in while readers still see
  * only the old stats generation, and ONE atomic directory rename of
  * `stats_gN` flips visibility of docs+postings+stats together; source dirs
  * are deleted afterwards as unobservable cleanup. Readers resolve the
  * highest stats generation and filter all data reads to its segment set,
  * so a crash at any point leaves either the old or the new committed view.
  *
  * Segment ids (and thus global tie-break order) change across a merge
  * exactly as Lucene's ephemeral docIDs do — scores are invariant (BM25
  * depends only on global stats, tf and length).
  */
object MergeJob {

  /** Max posting entries per encoded piece row of a [[SegmentRewrite]]
    * (every merge and split): a stopword-scale term becomes many rows with
    * disjoint increasing docId ranges (the query path already serves split
    * rows) instead of one reducer-sized buffer. */
  val PieceEntries: Int = 1 << 20

  /** Merge `sources` into a FRESH segment id (max live id + 1) — fully
    * disjoint from every source, so staged data renames IN before anything
    * is deleted. Visibility is gated on the stats-generation flip (one
    * atomic directory rename covering docs+postings+stats — the segments_N
    * analog); source-dir deletion afterwards is mere cleanup that readers
    * can no longer observe. `pieceEntries` bounds the posting entries of one
    * written row. Returns the new segment id.
    */
  def merge(spark: SparkSession, indexPath: String, sources: List[Int],
            pieceEntries: Int = PieceEntries): Int =
    mergeWith(spark, indexPath, sources, IndexBuilder.readStats(spark, indexPath), pieceEntries)._1

  /** [[merge]] against the live stats rows `statsAll` the caller already
    * holds; returns the new segment id and the stats rows it committed. */
  private def mergeWith(spark: SparkSession, indexPath: String, sources: List[Int],
                        statsAll: Array[SegmentStats],
                        pieceEntries: Int): (Int, Array[SegmentStats]) = {
    import spark.implicits._
    require(sources.size >= 2)
    val sortedMerge: Boolean =
      (try IndexBuilder.readConfig(spark, indexPath).indexSort
       catch { case _: Exception => None }).isDefined
    val srcSorted = sources.sorted

    // grace window (IndexDeletionPolicy keep-last-commit analog): data made
    // unreachable by the PREVIOUS merge is physically deleted only now, so
    // readers that resolved the previous generation finish their lazy reads
    purgeTombstones(spark, indexPath, statsAll.map(_.segmentId).toSet)

    // fresh id from the MERGE band (2^30+): disjoint from every source AND
    // from any future batch/streaming segment id (their bands are below)
    val mergeBand = statsAll.map(_.segmentId).filter(_ >= IndexBuilder.MergeIdOffset)
    val target =
      if (mergeBand.isEmpty) IndexBuilder.MergeIdOffset else mergeBand.max + 1

    // deleted docs of the source segments are PURGED here (docIds compact,
    // stats recomputed) — Lucene's merge applies live docs and remaps via
    // MergeDocIDRemapper, Index/SegmentMerger.cs:89. The collect is scoped
    // to the merge's own sources, so it is bounded by the merge fan-in
    // (maxMergeAtOnce segments), never by the index-wide delete volume.
    val deleted: Map[Int, Array[Int]] =
      graft.build.Deletes.deletedDocIds(spark, indexPath, Some(srcSorted.toSet))
    val docs = IndexBuilder.readDocs(spark, indexPath, sortedMerge)
      .filter(col("segmentId").isInCollection(srcSorted))
    val (input, map) =
      if (sortedMerge) {
        val applied = deleted.toSeq.flatMap { case (s, ids) => ids.map(s -> _) }
          .toDF("segmentId", "docId")
        (docs.join(applied, Seq("segmentId", "docId"), "left_anti")
          .withColumn("newSeg", lit(target)), SegmentRewrite.Ranked)
      } else {
        val maxDocs = statsAll
          .filter(s => s.field == IndexBuilder.DefaultField && srcSorted.contains(s.segmentId))
          .map(s => s.segmentId -> s.maxDoc).toMap
        (docs, SegmentRewrite.Concat(target, maxDocs, deleted))
      }

    val staging = s"$indexPath/.staging/merge_$target"
    val hasVectors = graft.build.TermVectors.enabled(spark, indexPath)
    val rw = SegmentRewrite.run(spark, indexPath, srcSorted, input, map, staging,
      withVectors = hasVectors, pieceEntries)
    // ---- bring the staged merged data in under the FRESH id: nothing is
    // deleted yet, and readers ignore it (not in the committed stats)
    renameStaged(spark, indexPath, staging, s"/segmentId=$target", target, hasVectors)

    // deletes that raced in against the source segments AFTER the snapshot
    // above survived the merge un-purged; remap their markers through the
    // permutation so the delete is not lost when the source markers prune
    // (the snapshot itself is what the merge physically applied)
    def lateMarkers(): Seq[(Int, Int)] = {
      val late = graft.build.Deletes.deletedDocIds(spark, indexPath, Some(srcSorted.toSet))
        .toSeq.flatMap { case (seg, ids) =>
          val applied = deleted.getOrElse(seg, Array.emptyIntArray)
          ids.filter(d => java.util.Arrays.binarySearch(applied, d) < 0).map(seg -> _)
        }
      if (late.isEmpty) Nil
      else late.toDF("segmentId", "docId").join(rw.perm, Seq("segmentId", "docId"))
        .select("newId").as[Int].collect().toSeq.map(target -> _)
    }

    val docsIn = rw.segs.headOption.map(d => (d.maxDoc, d.defaultSttf)).getOrElse((0L, 0L))
    val committed = commitMerged(spark, indexPath, srcSorted, target, statsAll, hasVectors,
      anyPurged = deleted.nonEmpty, lateMarkers _, docsIn, rw.postings)
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(staging), true)
    (target, committed)
  }

  /** Rename the staged merged data (`<staging>/<table><part>`) in under the
    * target segment id (readers still ignore it — not in the committed stats
    * generation). */
  private def renameStaged(spark: SparkSession, indexPath: String,
                           staging: String, part: String, target: Int,
                           hasVectors: Boolean): Unit = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    def renameIn(base: String, staged: String): Unit = {
      val fs = new Path(base).getFileSystem(hadoopConf)
      // a partitioned rewrite that kept no live doc wrote no partition dir
      if (!fs.exists(new Path(staged))) return
      val dst = new Path(s"$base/segmentId=$target")
      // a retry after a crash between the data renames and the stats flip
      // recomputes the SAME target: clear the (invisible) orphan first so
      // rename cannot nest into it (HDFS) or fail (local FS)
      if (fs.exists(dst)) fs.delete(dst, true)
      fs.mkdirs(dst.getParent)
      val ok = fs.rename(new Path(staged), dst)
      require(ok, s"rename $staged -> $dst failed")
    }
    renameIn(IndexBuilder.docsPath(indexPath), s"$staging/docs$part")
    renameIn(IndexBuilder.postingsPath(indexPath), s"$staging/postings$part")
    if (hasVectors)
      renameIn(graft.build.TermVectors.vectorsPath(indexPath), s"$staging/vectors$part")
    // fs-level renames bypass DataFrameWriter's automatic cache refresh:
    // evict stale file listings for the swapped paths
    spark.catalog.refreshByPath(IndexBuilder.docsPath(indexPath))
    spark.catalog.refreshByPath(IndexBuilder.postingsPath(indexPath))
    if (hasVectors)
      spark.catalog.refreshByPath(graft.build.TermVectors.vectorsPath(indexPath))
  }

  /** Commit tail of a merge: the merged segment's stats from its writes'
    * tallies (`docs` = (maxDoc, default-field sttf) after the purge,
    * `postings` = rows and Σ ttf per (target, field)), flip the stats
    * generation (THE commit), tombstone the superseded data, carry raced-in
    * deletes forward, then keep or rebuild the dictionary. Returns the stats
    * rows it committed. */
  private def commitMerged(spark: SparkSession, indexPath: String,
                           srcSorted: List[Int], target: Int,
                           statsAll: Array[SegmentStats], hasVectors: Boolean,
                           anyPurged: Boolean,
                           lateMarkers: () => Seq[(Int, Int)],
                           docs: (Long, Long),
                           postings: Map[(Int, String), (Long, Long)]): Array[SegmentStats] = {
    import spark.implicits._
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    // purged deletes decrement maxDoc/sumTotalTermFreq exactly like a
    // reference merge, since the tallies count only what was written
    val srcFields = statsAll.filter(s => srcSorted.contains(s.segmentId)).map(_.field).distinct
    val mergedStats = graft.build.WriteStats.rows(Seq((target, docs._1, docs._2)), postings, srcFields)
    // RE-READ the live stats at commit time (not the snapshot from merge
    // start): segments appended concurrently by writeSegments carry forward
    // into the new generation instead of silently dropping out of the live
    // set (writeSegments has the matching re-append check on its side).
    val statsNow = IndexBuilder.readStats(spark, indexPath)
    val newStats = statsNow.filterNot(s => srcSorted.contains(s.segmentId)) ++ mergedStats
    // the dictionary's freshness against the set this commit replaces: a
    // segment appended since the last refresh has already made it stale
    val dictWasValid = graft.build.DictTable.readMarker(spark, indexPath)
      .contains(graft.build.DictTable.segsSignatureOf(statsNow.toSeq))
    val srcMaxDoc = statsNow
      .filter(s => s.field == IndexBuilder.DefaultField && srcSorted.contains(s.segmentId))
      .map(_.maxDoc).sum

    // ---- THE COMMIT (object-store-safe segments_N protocol): the merged
    // stats generation is written as an ordinary parquet directory that
    // readers IGNORE (no pointer yet), then published by creating ONE small
    // pointer file — a single-object PUT, atomic on every store, where the
    // previous directory-rename commit was a non-atomic copy+delete on
    // object stores (a reader listing mid-rename could see a partial
    // generation). Max-generation pointer discovery is the
    // SegmentInfos.GetLastCommitGeneration analog (SegmentInfos.cs:49-69).
    val fs = new Path(indexPath).getFileSystem(hadoopConf)
    val curGen = IndexBuilder.statsGen(spark, indexPath)
    // migration pointer for pre-pointer indexes: publish the CURRENT
    // generation first, so the legacy dir-listing fallback can never
    // resolve the new (not-yet-committed) stats directory written below
    if (!fs.exists(new Path(s"${IndexBuilder.commitsPath(indexPath)}/segments_$curGen")))
      IndexBuilder.commitPointer(spark, indexPath, curGen,
        IndexBuilder.statsDirOf(spark, indexPath, curGen))
    val newGen = curGen + 1
    val newDir = IndexBuilder.statsDirName(newGen)
    spark.createDataset(newStats.toSeq).coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$indexPath/$newDir")
    IndexBuilder.commitPointer(spark, indexPath, newGen, newDir) // THE commit
    spark.catalog.refreshByPath(s"$indexPath/$newDir")

    // ---- cleanup, DEFERRED one commit (the reference keeps old commits
    // alive via IndexDeletionPolicy until readers release them): the source
    // segment dirs and superseded stats generations are unreachable through
    // the new commit but still readable by a Searcher opened against the
    // previous one — record them as tombstones; the NEXT merge (or an
    // explicit purgeTombstones) physically deletes them.
    val doomed =
      srcSorted.flatMap { s =>
        Seq(s"${IndexBuilder.docsPath(indexPath)}/segmentId=$s",
          s"${IndexBuilder.postingsPath(indexPath)}/segmentId=$s") ++
          (if (hasVectors)
            Seq(s"${graft.build.TermVectors.vectorsPath(indexPath)}/segmentId=$s")
          else Nil)
      } ++ (0L until newGen).flatMap(g =>
        // superseded stats dirs (pointer-resolved name) AND their pointer
        // files — keep-last-commit: only the new generation survives a purge
        Seq(s"$indexPath/${IndexBuilder.statsDirOf(spark, indexPath, g)}",
          s"${IndexBuilder.commitsPath(indexPath)}/segments_$g"))
    writeTombstone(fs, indexPath, newGen, doomed)
    spark.catalog.refreshByPath(IndexBuilder.docsPath(indexPath))
    spark.catalog.refreshByPath(IndexBuilder.postingsPath(indexPath))

    val late = lateMarkers()
    graft.build.Deletes.appendMarkers(spark, indexPath, late)

    // drop delete markers whose docs were just purged (liveDocs lifecycle)
    if (anyPurged || late.nonEmpty)
      graft.build.Deletes.pruneApplied(spark, indexPath, newStats.map(_.segmentId).toSet)

    // the carry-or-rebuild rule (DictTable's freshness contract): global
    // df/ttf are invariant under a merge that dropped no doc, so a fresh
    // dictionary is re-stamped with the committed set's signature; a purging
    // merge changes df, so the dictionary is rebuilt from the stats just
    // committed. A dictionary that was stale before stays stale.
    if (dictWasValid) {
      if (docs._1 == srcMaxDoc)
        graft.build.DictTable.writeMarker(spark, indexPath,
          graft.build.DictTable.segsSignatureOf(newStats.toSeq))
      else graft.build.DictTable.write(spark, indexPath, newStats.toSeq)
    }
    newStats
  }

  private def tombstonesDir(indexPath: String) = s"$indexPath/.tombstones"

  private def writeTombstone(fs: org.apache.hadoop.fs.FileSystem, indexPath: String,
                             gen: Long, paths: Seq[String]): Unit = {
    val dir = new Path(tombstonesDir(indexPath))
    fs.mkdirs(dir)
    val out = fs.create(new Path(dir, s"gen_$gen"), true)
    out.write(paths.mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  /** Physically delete everything tombstoned by earlier merges (idempotent;
    * safe to call any time no reader older than the previous commit is
    * live). Runs automatically at the start of every merge — the one-commit
    * grace window of the keep-last-commit deletion policy.
    */
  def purgeTombstones(spark: SparkSession, indexPath: String): Unit =
    purgeTombstones(spark, indexPath,
      IndexBuilder.readStats(spark, indexPath).map(_.segmentId).toSet)

  /** [[purgeTombstones]] with the live segment set in hand (read only when
    * a marker prune follows). */
  private def purgeTombstones(spark: SparkSession, indexPath: String,
                              live: => Set[Int]): Unit = {
    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dir = new Path(tombstonesDir(indexPath))
    if (!fs.exists(dir)) return
    var purged = false
    fs.listStatus(dir).foreach { st =>
      val in = fs.open(st.getPath)
      val paths = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      in.close()
      paths.filter(_.nonEmpty).foreach { p =>
        val pp = new Path(p)
        if (fs.exists(pp)) { fs.delete(pp, true); purged = true }
      }
      fs.delete(st.getPath, false)
    }
    spark.catalog.refreshByPath(IndexBuilder.docsPath(indexPath))
    spark.catalog.refreshByPath(IndexBuilder.postingsPath(indexPath))
    // the purged segments' delete markers were retained through the grace
    // window (readers on the previous commit still needed them); with the
    // dirs gone they can drop too
    if (purged && graft.build.Deletes.exists(spark, indexPath))
      graft.build.Deletes.pruneApplied(spark, indexPath, live)
  }

  /** Run tiered merge rounds until the policy is satisfied. Returns the
    * number of merges executed (merge scheduling: rounds are ordinary Spark
    * jobs chained by the driver — ConcurrentMergeScheduler's thread pool
    * becomes the cluster scheduler).
    */
  def mergeToPolicy(spark: SparkSession, indexPath: String,
                    policy: TieredMergePolicy = new TieredMergePolicy()): Int = {
    // the stats rows ride from round to round: each merge hands back what
    // it committed
    var stats = IndexBuilder.readStats(spark, indexPath)
    var merges = 0
    var next = policy.findMerges(sizesOf(stats))
    while (next.nonEmpty) {
      stats = mergeWith(spark, indexPath, next.head.sources, stats, PieceEntries)._2
      merges += 1
      next = policy.findMerges(sizesOf(stats))
    }
    merges
  }

  private def sizesOf(stats: Array[SegmentStats]): Map[Int, Long] =
    stats.filter(_.field == IndexBuilder.DefaultField).map(s => s.segmentId -> s.maxDoc).toMap

  /** IndexSplitter / MultiPassIndexSplitter analog
    * (/root/reference/src/Lucene.Net.Misc/Index/IndexSplitter.cs,
    * MultiPassIndexSplitter.cs), Spark-native and RE-ANALYSIS-FREE:
    * re-shard a committed index into `parts` segments at `dstPath` — the
    * resharding-for-parallelism maintenance op of a large deployment.
    *
    * Docs route by the builder's own hash
    * (ScalarExpressions.segmentOf(url, parts)) and docIds are assigned in
    * the builder's per-segment (sortKey, url) order, so the OUTPUT is
    * content-identical to a fresh numSegments=parts build of the same live
    * corpus — but produced by a [[SegmentRewrite]] of the existing postings
    * (the sorted merge's primitive, with hash routing) instead of
    * re-running tokenization, the expensive stage at 100 TB. Deletes are
    * APPLIED: the split output starts tombstone-free. Term vectors and
    * term blooms regenerate when the source carries them. The dictionary
    * follows DictTable's carry-or-rebuild rule: copied when no doc dropped
    * and the source's is fresh, rebuilt otherwise. Single-writer
    * discipline, like merges. Returns the live doc count.
    */
  def splitIndex(spark: SparkSession, srcPath: String, dstPath: String,
                 parts: Int,
                 pieceEntries: Int = PieceEntries,
                 /** Doc-store predicate restricting which live docs reach
                   * the output — the PKIndexSplitter seam (see
                   * [[partitionIndex]]); columns of the docs table
                   * (url, fieldLen, ...) are in scope. */
                 docFilter: org.apache.spark.sql.Column = lit(true)): Long = {
    import spark.implicits._
    require(parts >= 1, s"parts must be >= 1 (got $parts)")
    val t0 = System.nanoTime()
    val cfg = IndexBuilder.readConfig(spark, srcPath)
    IndexBuilder.writeConfig(spark, dstPath, cfg.copy(numSegments = parts))

    val srcStats = IndexBuilder.readStats(spark, srcPath).toSeq
    val liveSrc = srcStats.map(_.segmentId).toSet
    val routed = IndexBuilder.readDocs(spark, srcPath, cfg.indexSort.isDefined)
      .filter(col("segmentId").isInCollection(liveSrc))
      .join(graft.build.Deletes.deletedDf(spark, srcPath),
        Seq("segmentId", "docId"), "left_anti")
      .filter(docFilter)
      .withColumn("newSeg", graft.functions.ScalarExpressions.segmentOf(col("url"), parts))
    val rw = SegmentRewrite.run(spark, srcPath, liveSrc, routed, SegmentRewrite.Ranked, dstPath,
      withVectors = graft.build.TermVectors.enabled(spark, srcPath), pieceEntries)

    // term blooms regenerate when the source used them
    if (cfg.bloomFilter)
      IndexBuilder.writeBlooms(IndexBuilder.readPostings(spark, dstPath), dstPath, SaveMode.Overwrite)

    // stats (generation 0 of the fresh index) + manifest, builder formula,
    // straight from the rewrite: doc aggregates off its pinned sort, posting
    // rows and Σ ttf tallied by its postings write
    val stats = rw.stats(cfg.fieldList.map(_._1))
    spark.createDataset(stats).coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(s"$dstPath/stats")
    val numDocs = rw.segs.map(_.maxDoc).sum
    val elapsed = (System.nanoTime() - t0) / 1e9
    val now = System.currentTimeMillis()
    val manifest = (0 until parts).map { seg =>
      val st = stats.find(s => s.segmentId == seg && s.field == IndexBuilder.DefaultField)
      graft.model.ManifestRow(seg, "done", st.map(_.maxDoc).getOrElse(0L),
        st.map(_.sumDocFreq).getOrElse(0L), numDocs / math.max(elapsed, 1e-9),
        1, now - (elapsed * 1000).toLong, now)
    }
    spark.createDataset(manifest).coalesce(1).write.mode(SaveMode.Overwrite)
      .parquet(IndexBuilder.manifestPath(dstPath))
    // the carry-or-rebuild rule (DictTable's freshness contract): re-
    // segmenting the same live docs leaves every df/ttf unchanged, so a
    // split that dropped no doc from a source with a fresh dictionary
    // copies it; one that applied deletes or a docFilter rebuilds it
    val srcMaxDoc = srcStats.filter(_.field == IndexBuilder.DefaultField).map(_.maxDoc).sum
    if (numDocs != srcMaxDoc || !graft.build.DictTable.carry(spark, srcPath, srcStats, dstPath, stats))
      graft.build.DictTable.write(spark, dstPath, stats)
    numDocs
  }

  /** PKIndexSplitter analog
    * (/root/reference/src/Lucene.Net.Misc/Index/PKIndexSplitter.cs:30-43 —
    * split one index into two by a primary-key predicate, docs passing the
    * filter in the first output): two [[splitIndex]] passes with the
    * predicate and its complement. Both outputs are complete standalone
    * indexes (own stats/dict/config); deletes resolve before the partition
    * so neither side resurrects a deleted doc. Returns (docsA, docsB).
    */
  def partitionIndex(spark: SparkSession, srcPath: String,
                     dstA: String, dstB: String,
                     urlPredicate: org.apache.spark.sql.Column,
                     partsA: Int = 1, partsB: Int = 1): (Long, Long) = {
    val a = splitIndex(spark, srcPath, dstA, partsA, docFilter = urlPredicate)
    val b = splitIndex(spark, srcPath, dstB, partsB, docFilter = !urlPredicate)
    (a, b)
  }
}
