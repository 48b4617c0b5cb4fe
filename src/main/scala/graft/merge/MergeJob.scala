package graft.merge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.build.IndexBuilder
import graft.codec.PostingsCodec
import graft.model._

/** Segment merge — the SegmentMerger analog
  * (/root/reference/src/Lucene.Net.Core/Index/SegmentMerger.cs:89-162 —
  * concatenate doc stores with docID rebasing; k-way sort-merge of postings
  * summing df/ttf; remap via MergeDocIDRemapper).
  *
  * Spark shape of an UNSORTED merge, sized for 100 TB:
  *  1. map-side REBASE (narrow, fully parallel): every source posting row is
  *     re-encoded with docIds + docBase — no shuffle, no giant lists;
  *  2. term shuffle of the *encoded, compressed* pieces only (orders of
  *     magnitude smaller than raw postings);
  *  3. per-term stitch: cold terms decode+re-encode into one row; terms with
  *     df > hotTermDf stay as multiple piece-rows (disjoint docId ranges) —
  *     the query path handles split posting rows transparently, so no single
  *     reducer ever materializes a stopword-scale posting list. This is the
  *     salted-hot-term handling of SURVEY.md §7.3 realized structurally.
  * An index-SORTED merge must re-sort (SortingMergePolicy.cs): it is a
  * [[SegmentRewrite]] into the one target segment — a split into a single
  * destination; [[splitIndex]] is the same primitive with hash routing.
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

  final case class PieceRow(field: String, term: String, piece: Int, firstDoc: Int,
                            df: Int, ttf: Long,
                            docDeltas: Array[Byte], tfs: Array[Byte],
                            positions: Array[Byte], lens: Array[Byte],
                            skips: Array[SkipRow], payloads: Array[Byte],
                            offsets: Array[Byte])

  /** Max posting entries per encoded piece row of a [[SegmentRewrite]]
    * (sorted merge, split): a stopword-scale term becomes many rows with
    * disjoint increasing docId ranges (the query path already serves split
    * rows) instead of one reducer-sized buffer. */
  val SortedMergePieceEntries: Int = 1 << 20

  /** Merge `sources` into a FRESH segment id (max live id + 1) — fully
    * disjoint from every source, so staged data renames IN before anything
    * is deleted. Visibility is gated on the stats-generation flip (one
    * atomic directory rename covering docs+postings+stats — the segments_N
    * analog); source-dir deletion afterwards is mere cleanup that readers
    * can no longer observe. `hotTermDf` applies to the unsorted concat,
    * `sortedPieceEntries` to the sorted rewrite. Returns the new segment id.
    */
  def merge(spark: SparkSession, indexPath: String, sources: List[Int],
            hotTermDf: Int = 5000000,
            sortedPieceEntries: Int = SortedMergePieceEntries): Int = {
    import spark.implicits._
    require(sources.size >= 2)
    val sortedMerge: Boolean =
      (try IndexBuilder.readConfig(spark, indexPath).indexSort
       catch { case _: Exception => None }).isDefined
    val srcSorted = sources.sorted

    // grace window (IndexDeletionPolicy keep-last-commit analog): data made
    // unreachable by the PREVIOUS merge is physically deleted only now, so
    // readers that resolved the previous generation finish their lazy reads
    purgeTombstones(spark, indexPath)

    val statsAll = IndexBuilder.readStats(spark, indexPath)
    // fresh id from the MERGE band (2^30+): disjoint from every source AND
    // from any future batch/streaming segment id (their bands are below)
    val mergeBand = statsAll.map(_.segmentId).filter(_ >= IndexBuilder.MergeIdOffset)
    val target =
      if (mergeBand.isEmpty) IndexBuilder.MergeIdOffset else mergeBand.max + 1
    if (sortedMerge)
      return mergeSorted(spark, indexPath, srcSorted, target, statsAll, sortedPieceEntries)

    // segment-wide maxDoc from the default field's rows (present per segment)
    val stats = statsAll.filter(_.field == IndexBuilder.DefaultField)
      .map(s => s.segmentId -> s).toMap

    // deleted docs of the source segments are PURGED here (docIds compact,
    // stats recomputed) — Lucene's merge applies live docs and remaps via
    // MergeDocIDRemapper, Index/SegmentMerger.cs:89. The collect is scoped
    // to the merge's own sources, so it is bounded by the merge fan-in
    // (maxMergeAtOnce segments), never by the index-wide delete volume.
    val deleted: Map[Int, Array[Int]] =
      graft.build.Deletes.deletedDocIds(spark, indexPath, Some(srcSorted.toSet))
    val bases: Map[Int, Int] = {
      var acc = 0
      srcSorted.map { s =>
        val b = s -> acc
        acc += stats(s).maxDoc.toInt - deleted.get(s).map(_.length).getOrElse(0)
        b
      }.toMap
    }
    val basesB = spark.sparkContext.broadcast(bases)
    val deletedB = spark.sparkContext.broadcast(deleted)

    // live docId -> merged docId (-1 for deleted): compaction by segment
    // base (append order, narrow math)
    val remapFn: (Int, Int) => Int = (seg: Int, docId: Int) => {
      val del = deletedB.value.getOrElse(seg, Array.empty[Int])
      if (del.isEmpty) basesB.value(seg) + docId
      else {
        val idx = java.util.Arrays.binarySearch(del, docId)
        if (idx >= 0) -1
        else basesB.value(seg) + docId - (-idx - 1) // minus #deleted below
      }
    }

    val staging = s"$indexPath/.staging/merge_$target"
    // the merged segment's stats ride its two writes (narrow docs pass,
    // post-shuffle stitch): nothing is read back at commit
    val docTally = graft.build.WriteStats.tally(spark, "docs")
    val postTally = graft.build.WriteStats.tally(spark, "postings")

    // ---- docs: narrow rebase of the doc store (MergeDocIDRemapper analog)
    spark.read.parquet(IndexBuilder.docsPath(indexPath))
      .filter(col("segmentId").isInCollection(srcSorted))
      .as[DocRow]
      .flatMap { d =>
        val nid = remapFn(d.segmentId, d.docId)
        if (nid < 0) None
        else {
          docTally.add(target, IndexBuilder.DefaultField, d.fieldLen)
          Some((nid, d.url, d.fieldLen, d.normByte))
        }
      }
      .toDF("docId", "url", "fieldLen", "normByte")
      .write.mode(SaveMode.Overwrite).parquet(s"$staging/docs")

    // ---- term vectors (when present): same narrow rebase as the doc store
    // — purged docs drop, surviving docIds compact (Lucene40TermVectorsWriter
    // merge path rides the same MergeDocIDRemapper as stored fields)
    val hasVectors = graft.build.TermVectors.enabled(spark, indexPath)
    if (hasVectors) {
      spark.read.parquet(graft.build.TermVectors.vectorsPath(indexPath))
        .filter(col("segmentId").isInCollection(srcSorted))
        .as[graft.model.VectorRow]
        .flatMap { v =>
          val nid = remapFn(v.segmentId, v.docId)
          if (nid < 0) None
          else Some((nid, v.field, v.term, v.tf, v.positions, v.starts, v.ends))
        }
        .toDF("docId", "field", "term", "tf", "positions", "starts", "ends")
        .write.mode(SaveMode.Overwrite).parquet(s"$staging/vectors")
    }

    // ---- postings phase 1: narrow rebase (+ purge) + piece tagging
    val pieces: Dataset[PieceRow] = spark.read
      .parquet(IndexBuilder.postingsPath(indexPath))
      .filter(col("segmentId").isInCollection(srcSorted))
      .transform(IndexBuilder.withPayloadsCol)
      .select("segmentId", "field", "term", "df", "ttf", "docDeltas", "tfs", "positions", "lens", "skips", "payloads", "offsets")
      .as[PostingRow]
      .flatMap { p =>
        val seg = p.segmentId
        val (e, firstDoc) = reencode(p.df, p.docDeltas, p.tfs, p.positions, p.lens,
          p.payloads, p.offsets, (d: Int) => remapFn(seg, d))
        if (e.df == 0) None // every doc of this piece was deleted
        else Some(PieceRow(p.field, p.term, p.segmentId, firstDoc, e.df, e.ttf,
          e.docDeltas, e.tfs, e.positions, e.lens,
          e.skips.map(s => SkipRow(s.lastDoc, s.docOff, s.tfOff, s.posOff, s.cumDocs, s.maxTf, s.minLen)),
          e.payloads, e.offsets))
      }

    // ---- phase 2: shuffle compressed pieces by (field, term), stitch per key
    // sort key includes firstDoc: a source segment may hold several pieces
    // per key (builder RAM flushes / prior merges share one segmentId), and
    // stitching must follow docId order, not source order alone
    val merged: Dataset[PostingRow] = pieces
      .repartition(col("field"), col("term"))
      .sortWithinPartitions(col("field"), col("term"), col("firstDoc"))
      .mapPartitions { rows =>
        val hot = hotTermDf
        new Iterator[PostingRow] {
          private var pending: PieceRow = if (rows.hasNext) rows.next() else null
          private val out = scala.collection.mutable.Queue.empty[PostingRow]
          private def fill(): Unit = {
            while (out.isEmpty && pending != null) {
              val field = pending.field
              val term = pending.term
              val group = scala.collection.mutable.ArrayBuffer.empty[PieceRow]
              while (pending != null && pending.field == field && pending.term == term) {
                group += pending
                pending = if (rows.hasNext) rows.next() else null
              }
              val totalDf = group.map(_.df.toLong).sum
              if (group.size == 1 || totalDf > hot) {
                // hot term (or single piece): pieces stay separate rows with
                // disjoint (or piece-internal sorted) docId ranges
                group.foreach { g =>
                  out += PostingRow(0, field, term, g.df, g.ttf, g.docDeltas, g.tfs,
                    g.positions, g.lens, g.skips, g.payloads, g.offsets)
                }
              } else {
                // gather every surviving entry (pieces arrive in firstDoc
                // order with disjoint ranges), then encode one stitched row
                val entries = scala.collection.mutable.ArrayBuffer
                  .empty[(Int, Int, Array[Int], Int, Array[Array[Byte]], Array[Int])]
                group.foreach { g =>
                  val d = PostingsCodec.decode(g.df, g.docDeltas, g.tfs, g.positions, g.lens)
                  val pays = payloadSlices(d.tfs, d.posStart, g.payloads)
                  val offs = if (g.offsets == null) null
                    else PostingsCodec.decodeOffsets(d.tfs, g.offsets)
                  var i = 0
                  while (i < d.docIds.length) {
                    val ps = java.util.Arrays.copyOfRange(d.posFlat, d.posStart(i), d.posStart(i + 1))
                    val pl = if (pays == null) null
                      else java.util.Arrays.copyOfRange(pays, d.posStart(i), d.posStart(i + 1))
                    val of = if (offs == null) null
                      else flatOffsets(offs._1, offs._2, d.posStart(i), d.posStart(i + 1))
                    entries += ((d.docIds(i), d.tfs(i), ps, d.lens(i), pl, of))
                    i += 1
                  }
                }
                val enc = new PostingsCodec.Encoder
                entries.foreach { case (id, tf, ps, len, pl, of) =>
                  enc.add(id, tf, ps, len, pl, of)
                }
                val e = enc.finish()
                out += PostingRow(0, field, term, e.df, e.ttf, e.docDeltas, e.tfs, e.positions, e.lens,
                  e.skips.map(s => SkipRow(s.lastDoc, s.docOff, s.tfOff, s.posOff, s.cumDocs, s.maxTf, s.minLen)),
                  e.payloads, e.offsets)
              }
            }
          }
          override def hasNext: Boolean = { fill(); out.nonEmpty }
          override def next(): PostingRow = {
            fill()
            val r = out.dequeue()
            postTally.add(target, r.field, r.ttf)
            r
          }
        }
      }

    merged.toDF().drop("segmentId")
      .write.mode(SaveMode.Overwrite).parquet(s"$staging/postings")

    // ---- bring the staged merged data in under the FRESH id: nothing is
    // deleted yet, and readers ignore it (not in the committed stats)
    renameStaged(spark, indexPath, staging, "", target, hasVectors)

    // deletes that raced in against the source segments AFTER the snapshot
    // above survived the merge un-purged; remap their markers to the merged
    // segment's ids so the delete is not lost when the source markers prune
    // (the snapshot itself is what the merge physically applied)
    def lateMarkers(): Seq[(Int, Int)] =
      graft.build.Deletes.deletedDocIds(spark, indexPath, Some(srcSorted.toSet))
        .toSeq.flatMap { case (seg, arr) =>
          val applied = deleted.getOrElse(seg, Array.empty[Int])
          arr.filter(d => java.util.Arrays.binarySearch(applied, d) < 0)
            .flatMap { d =>
              val nid = remapFn(seg, d)
              if (nid >= 0) Some((target, nid)) else None
            }
        }

    commitMerged(spark, indexPath, srcSorted, target, statsAll, hasVectors,
      anyPurged = deleted.nonEmpty, lateMarkers = lateMarkers _,
      docTally.value.values.headOption.getOrElse((0L, 0L)), postTally.value)
    target
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

  /** Shared commit tail of both merge paths: the merged segment's stats
    * from its writes' tallies (`docs` = (maxDoc, default-field sttf) after
    * the purge, `postings` = rows and Σ ttf per (target, field)), flip the
    * stats generation (THE commit), tombstone the superseded data, carry
    * raced-in deletes forward, then keep or rebuild the dictionary. */
  private def commitMerged(spark: SparkSession, indexPath: String,
                           srcSorted: List[Int], target: Int,
                           statsAll: Array[SegmentStats], hasVectors: Boolean,
                           anyPurged: Boolean,
                           lateMarkers: () => Seq[(Int, Int)],
                           docs: (Long, Long),
                           postings: Map[(Int, String), (Long, Long)]): Unit = {
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
      graft.build.Deletes.pruneApplied(spark, indexPath)

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
  }

  /** Sorted merge: a [[SegmentRewrite]] of the sources' live docs into the
    * one target segment, (sortKey, url)-ordered, staged and then committed
    * exactly like the concat path. */
  private def mergeSorted(spark: SparkSession, indexPath: String,
                          srcSorted: List[Int], target: Int,
                          statsAll: Array[SegmentStats], pieceEntries: Int): Int = {
    import spark.implicits._
    val staging = s"$indexPath/.staging/merge_$target"

    // snapshot the resolved markers this merge will purge (localCheckpoint
    // pins the snapshot: markers appended during the merge stay out of it
    // and are carried forward as late markers below). With no deletes dir at
    // all the snapshot is a local empty frame — zero jobs.
    val hasDeletes = graft.build.Deletes.exists(spark, indexPath)
    val appliedDf =
      if (!hasDeletes) Seq.empty[(Int, Int)].toDF("segmentId", "docId")
      else graft.build.Deletes.deletedDf(spark, indexPath)
        .filter(col("segmentId").isInCollection(srcSorted))
        .localCheckpoint(true)
    val anyPurged = hasDeletes && !appliedDf.isEmpty

    val routed = spark.read.parquet(IndexBuilder.docsPath(indexPath))
      .filter(col("segmentId").isInCollection(srcSorted))
      .join(appliedDf, Seq("segmentId", "docId"), "left_anti")
      .withColumn("newSeg", lit(target))
    val hasVectors = graft.build.TermVectors.enabled(spark, indexPath)
    val rw = SegmentRewrite.run(spark, indexPath, srcSorted, routed, staging,
      withVectors = hasVectors, pieceEntries)
    renameStaged(spark, indexPath, staging, s"/segmentId=$target", target, hasVectors)

    // raced-in deletes = current markers minus the applied snapshot,
    // remapped through the permutation table (their docs survived the purge);
    // with no deletes dir at commit time there is nothing to carry forward
    def lateMarkers(): Seq[(Int, Int)] =
      if (!graft.build.Deletes.exists(spark, indexPath)) Seq.empty
      else graft.build.Deletes.deletedDf(spark, indexPath)
        .filter(col("segmentId").isInCollection(srcSorted))
        .join(appliedDf, Seq("segmentId", "docId"), "left_anti")
        .join(rw.perm, Seq("segmentId", "docId"))
        .select("newId").as[Int].collect()
        .toSeq.map(n => (target, n))

    // merged stats come off the rewrite: doc aggregates from its pinned
    // sort, postings from its write's tally
    val docs = rw.segs.headOption.map(d => (d.maxDoc, d.defaultSttf)).getOrElse((0L, 0L))
    commitMerged(spark, indexPath, srcSorted, target, statsAll, hasVectors,
      anyPurged, lateMarkers _, docs, rw.postings)

    val fs = new Path(indexPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(staging), true)
    target
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
  def purgeTombstones(spark: SparkSession, indexPath: String): Unit = {
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
      graft.build.Deletes.pruneApplied(spark, indexPath)
  }

  /** Slice the flat decoded offset arrays [from, to) into one entry's
    * [s0,e0,s1,e1,...] carrier. */
  private[merge] def flatOffsets(starts: Array[Int], ends: Array[Int],
                          from: Int, to: Int): Array[Int] = {
    val out = new Array[Int]((to - from) * 2)
    var k = from
    while (k < to) {
      out(2 * (k - from)) = starts(k)
      out(2 * (k - from) + 1) = ends(k)
      k += 1
    }
    out
  }

  /** Decode one posting row, drop deleted docs (remap -1) and encode the
    * survivors under their new docIds. The concat remap is monotonic, so the
    * survivors stay in docId order. Returns the encoding and its first docId. */
  private def reencode(df: Int, docDeltas: Array[Byte], tfs: Array[Byte],
                       positions: Array[Byte], lens: Array[Byte],
                       payloads: Array[Byte], offsetBytes: Array[Byte],
                       remap: Int => Int): (graft.codec.EncodedPostings, Int) = {
    val d = PostingsCodec.decode(df, docDeltas, tfs, positions, lens)
    val pays = payloadSlices(d.tfs, d.posStart, payloads)
    val offs = if (offsetBytes == null) null
      else PostingsCodec.decodeOffsets(d.tfs, offsetBytes)
    val enc = new PostingsCodec.Encoder
    var firstDoc = -1
    var j = 0
    while (j < d.docIds.length) {
      val nid = remap(d.docIds(j))
      if (nid >= 0) { // deleted docs (-1) purge here
        if (firstDoc < 0) firstDoc = nid
        val ps = java.util.Arrays.copyOfRange(d.posFlat, d.posStart(j), d.posStart(j + 1))
        val pl = if (pays == null) null
          else java.util.Arrays.copyOfRange(pays, d.posStart(j), d.posStart(j + 1))
        val of = if (offs == null) null
          else flatOffsets(offs._1, offs._2, d.posStart(j), d.posStart(j + 1))
        enc.add(nid, d.tfs(j), ps, d.lens(j), pl, of)
      }
      j += 1
    }
    (enc.finish(), math.max(firstDoc, 0))
  }

  /** Per-position payload byte slices aligned with posFlat (null when the
    * list has no payload stream) — merge re-encodes payloads through the
    * same add() path as positions so purge/rebase keep them aligned. */
  private[merge] def payloadSlices(tfs: Array[Int], posStart: Array[Int],
                            payloads: Array[Byte]): Array[Array[Byte]] = {
    if (payloads == null) return null
    val total = posStart(tfs.length)
    val (starts, lens, flat) = PostingsCodec.decodePayloads(total, payloads)
    Array.tabulate(total) { k =>
      if (lens(k) == 0) null
      else java.util.Arrays.copyOfRange(flat, starts(k), starts(k) + lens(k))
    }
  }

  /** Run tiered merge rounds until the policy is satisfied. Returns the
    * number of merges executed (merge scheduling: rounds are ordinary Spark
    * jobs chained by the driver — ConcurrentMergeScheduler's thread pool
    * becomes the cluster scheduler).
    */
  def mergeToPolicy(spark: SparkSession, indexPath: String,
                    policy: TieredMergePolicy = new TieredMergePolicy()): Int = {
    import spark.implicits._
    var merges = 0
    var cont = true
    while (cont) {
      val sizes = IndexBuilder.readStats(spark, indexPath)
        .filter(_.field == IndexBuilder.DefaultField)
        .map(s => s.segmentId -> s.maxDoc).toMap
      policy.findMerges(sizes) match {
        case m :: _ =>
          merge(spark, indexPath, m.sources)
          merges += 1
        case Nil => cont = false
      }
    }
    merges
  }

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
                 pieceEntries: Int = SortedMergePieceEntries,
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
    val routed = spark.read.parquet(IndexBuilder.docsPath(srcPath))
      .filter(col("segmentId").isInCollection(liveSrc))
      .join(graft.build.Deletes.deletedDf(spark, srcPath),
        Seq("segmentId", "docId"), "left_anti")
      .filter(docFilter)
      .withColumn("newSeg", graft.functions.ScalarExpressions.segmentOf(col("url"), parts))
    val rw = SegmentRewrite.run(spark, srcPath, liveSrc, routed, dstPath,
      withVectors = graft.build.TermVectors.enabled(spark, srcPath), pieceEntries)

    // term blooms regenerate when the source used them
    if (cfg.bloomFilter)
      IndexBuilder.writeBlooms(spark.read.parquet(IndexBuilder.postingsPath(dstPath)),
        dstPath, SaveMode.Overwrite)

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
