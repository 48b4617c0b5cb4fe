package graft.merge

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.build.{ConcurrentWrites, IndexBuilder, TermVectors, WriteStats}
import graft.codec.PostingsCodec
import graft.model._

/** The one segment-rewrite primitive behind every merge and the
  * IndexSplitter analog: re-lay live docs into destination segments under a
  * doc map, re-encoding the postings instead of re-analyzing the text
  * (SegmentMerger.cs + MergeDocIDRemapper; a sorting merge supplies only a
  * different map, not a second merger).
  *
  *  1. The [[DocMap]] gives every live doc its (newSeg, newId), with the
  *     doc-store payload riding along in one pinned frame, plus the
  *     per-segment doc aggregates. [[Ranked]] is the builder's own
  *     (sortKey, url) order (sorted merge, split); [[Concat]] is the
  *     unsorted merge's narrow rebase.
  *  2. Doc store, term vectors and postings are written concurrently
  *     ([[ConcurrentWrites]]) into segmentId-partitioned tables.
  *  3. Postings: explode to per-(term, doc) entries → permutation join →
  *     SALTED (newSeg, field, term, salt = newId / pieceEntries) regroup in
  *     newId order → streaming encode of pieces that never cross a salt
  *     bucket: a stopword-scale term spreads over many reducers, piece rows
  *     keep disjoint docId ranges, and no task buffers more than one piece.
  *
  * The permutation joins broadcast when Spark's own size estimate of the
  * permutation (doc count × row bytes) fits under
  * `spark.sql.autoBroadcastJoinThreshold`; above it both sides shuffle.
  */
private[merge] object SegmentRewrite {

  /** Where every live source doc lands: (segmentId, docId) → (newSeg, newId). */
  sealed trait DocMap

  /** ONE global contiguous rank in (newSeg, sortKey, url) order:
    * appendRank pins the sorted rows, so the output is content-identical to
    * a fresh build of the same live docs. The docs carry their `newSeg` and
    * are live already. */
  case object Ranked extends DocMap

  /** The concat of an unsorted merge into `target`: source segments
    * ascending, then docId, the `deleted` docs (sorted per segment)
    * compacted away — newId = base(segment) + docId − deletes below it.
    * Narrow: no sort, no shuffle. */
  final case class Concat(target: Int, maxDocs: Map[Int, Long],
                          deleted: Map[Int, Array[Int]]) extends DocMap {
    private val bases: Map[Int, Int] = {
      val segs = maxDocs.keys.toSeq.sorted
      segs.zip(segs.scanLeft(0) { (acc, s) =>
        acc + maxDocs(s).toInt - deleted.get(s).fold(0)(_.length)
      }).toMap
    }

    /** Merged docId of a source doc; -1 for a deleted one. */
    def newId(seg: Int, docId: Int): Int = {
      val i = java.util.Arrays.binarySearch(deleted.getOrElse(seg, Array.emptyIntArray), docId)
      if (i >= 0) -1 else bases(seg) + docId - (-i - 1)
    }
  }

  /** One exploded posting entry. `payload` is the entry's positions' framed
    * payload bytes (VByte(len) + bytes per position; null when the source
    * list carries no payloads); `offsets` the flat [s0,e0,...] character
    * offsets (null when the index carries no offset stream). */
  final case class EntryRow(field: String, term: String, segmentId: Int,
                            docId: Int, tf: Int, positions: Array[Int],
                            fieldLen: Int, payload: Array[Byte],
                            offsets: Array[Int])

  /** Doc-side aggregate of one destination segment. */
  final case class SegDocs(newSeg: Int, maxDoc: Long, defaultSttf: Long)

  /** `perm` is the (segmentId, docId, newSeg, newId) permutation table;
    * `postings` the written posting rows and Σ ttf per (newSeg, field). */
  final case class Result(segs: Seq[SegDocs], postings: Map[(Int, String), (Long, Long)],
                          perm: DataFrame) {
    /** Stats rows of the written segments, one per field of `fields`. */
    def stats(fields: Seq[String]): Seq[SegmentStats] =
      WriteStats.rows(segs.map(d => (d.newSeg, d.maxDoc, d.defaultSttf)), postings, fields)
  }

  /** Rewrite `docs` — (segmentId, docId, url, fieldLen, normByte, and
    * sortKey when the index is sorted) of the `sources` segments of
    * `srcPath`, plus `newSeg` for a [[Ranked]] map — into docs/postings (and
    * vectors when `withVectors`) under `dstPath`, placed by `map`. Returns
    * the per-segment doc aggregates (newSeg ascending), the postings tallied
    * as the write emits them, and the permutation. */
  def run(spark: SparkSession, srcPath: String, sources: Iterable[Int],
          docs: DataFrame, map: DocMap, dstPath: String, withVectors: Boolean,
          pieceEntries: Int): Result = {
    import spark.implicits._
    val sorted = docs.columns.contains("sortKey")
    val (withNew, segs) = map match {
      case Ranked => ranked(docs, sorted)
      case c: Concat => concat(docs, c)
    }
    val permAll = withNew.select("segmentId", "docId", "newSeg", "newId")
    // the doc count is already in hand: sizing the permutation costs no job
    val perm =
      if (graft.BroadcastBudget.fits(segs.map(_.maxDoc).sum, permAll.schema)) broadcast(permAll)
      else permAll

    def partitioned(df: DataFrame, path: String): Unit =
      df.write.mode(SaveMode.Overwrite).partitionBy("segmentId").parquet(path)

    // doc store straight off the pinned frame (no join-back)
    val docCols = Seq(col("newSeg").as("segmentId"), col("newId").as("docId"),
      col("url"), col("fieldLen"), col("normByte")) ++
      (if (sorted) Seq(col("sortKey")) else Nil)
    def docsJob(): Unit =
      partitioned(withNew.select(docCols: _*), IndexBuilder.docsPath(dstPath))

    def vectorsJob(): Unit = partitioned(
      spark.read.parquet(TermVectors.vectorsPath(srcPath))
        .filter(col("segmentId").isInCollection(sources))
        .join(perm, Seq("segmentId", "docId"))
        .select(col("newSeg").as("segmentId"), col("newId").as("docId"),
          col("field"), col("term"), col("tf"), col("positions"),
          col("starts"), col("ends")),
      TermVectors.vectorsPath(dstPath))

    val entries = IndexBuilder.readPostings(spark, srcPath)
      .filter(col("segmentId").isInCollection(sources))
      .as[PostingRow]
      .flatMap { p =>
        val d = PostingsCodec.decode(p.df, p.docDeltas, p.tfs, p.positions, p.lens)
        val pays = payloadSlices(d.tfs, d.posStart, p.payloads)
        val offs = if (p.offsets == null) null
          else PostingsCodec.decodeOffsets(d.tfs, p.offsets)
        Iterator.tabulate(d.docIds.length) { i =>
          val ps = java.util.Arrays.copyOfRange(d.posFlat, d.posStart(i), d.posStart(i + 1))
          val pl = if (pays == null) null
            else frameEntryPayload(pays, d.posStart(i), d.posStart(i + 1))
          val of = if (offs == null) null
            else flatOffsets(offs._1, offs._2, d.posStart(i), d.posStart(i + 1))
          EntryRow(p.field, p.term, p.segmentId, d.docIds(i), d.tfs(i), ps, d.lens(i), pl, of)
        }
      }
    // the encode runs in the postings write's result stage: its rows are
    // tallied there for the stats
    val postTally = WriteStats.tally(spark, "postings")
    val rows: Dataset[PostingRow] = entries.toDF()
      .join(perm, Seq("segmentId", "docId"))
      .select(col("newSeg"), col("field"), col("term"), col("newId"),
        col("tf"), col("positions"), col("fieldLen"), col("payload"), col("offsets"))
      .withColumn("salt", (col("newId").cast("long") / pieceEntries).cast("int"))
      .repartition(col("newSeg"), col("field"), col("term"), col("salt"))
      .sortWithinPartitions(col("newSeg"), col("field"), col("term"), col("newId"))
      .select(col("newSeg"), col("field"), col("term"), col("newId"),
        col("tf"), col("positions"), col("fieldLen"), col("payload"), col("offsets"))
      .as[(Int, String, String, Int, Int, Array[Int], Int, Array[Byte], Array[Int])]
      .mapPartitions { rows =>
        val it = rows.buffered
        new Iterator[PostingRow] {
          private var nextRow: PostingRow = null
          private def advance(): Unit = {
            if (nextRow != null || !it.hasNext) return
            val seg = it.head._1
            val field = it.head._2
            val term = it.head._3
            // two salt buckets of one term can hash to the same partition;
            // stopping at the bucket boundary keeps piece ranges disjoint
            val salt = it.head._4 / pieceEntries
            val enc = new PostingsCodec.Encoder
            var n = 0
            while (n < pieceEntries && it.hasNext && it.head._1 == seg &&
              it.head._2 == field && it.head._3 == term &&
              it.head._4 / pieceEntries == salt) {
              val e = it.next()
              enc.add(e._4, e._5, e._6, e._7, unframeEntryPayload(e._5, e._8), e._9)
              n += 1
            }
            val enc2 = enc.finish()
            nextRow = PostingRow(seg, field, term, enc2.df, enc2.ttf,
              enc2.docDeltas, enc2.tfs, enc2.positions, enc2.lens,
              enc2.skips.map(s => SkipRow(s.lastDoc, s.docOff, s.tfOff,
                s.posOff, s.cumDocs, s.maxTf, s.minLen)),
              enc2.payloads, enc2.offsets)
          }
          override def hasNext: Boolean = { advance(); nextRow != null }
          override def next(): PostingRow = {
            advance()
            val r = nextRow
            nextRow = null
            postTally.add(r.segmentId, r.field, r.ttf)
            r
          }
        }
      }
    def postingsJob(): Unit = partitioned(rows.toDF(), IndexBuilder.postingsPath(dstPath))

    ConcurrentWrites(spark,
      Seq(docsJob _) ++ (if (withVectors) Seq(vectorsJob _) else Nil) ++ Seq(postingsJob _))
    Result(segs, postTally.value, permAll)
  }

  /** [[Ranked]]: per-newSeg offset (rank is newSeg-major contiguous: offset
    * = min rank - 1) + maxDoc + default-field sttf from one tiny aggregate
    * over the pinned sort. */
  private def ranked(routed: DataFrame, sorted: Boolean): (DataFrame, Seq[SegDocs]) = {
    val spark = routed.sparkSession
    import spark.implicits._
    val rankedDocs = graft.Ranks.appendRank(
      routed.select(col("segmentId"), col("docId"), col("newSeg"),
        if (sorted) col("sortKey") else lit(0d).as("sortKey"),
        col("url"), col("fieldLen"), col("normByte")),
      "rank", Seq(col("newSeg").asc, col("sortKey").asc, col("url").asc))
    val segAgg = rankedDocs.groupBy(col("newSeg"))
      .agg(min(col("rank")).as("minRank"), count(lit(1)).as("maxDoc"),
        sum(col("fieldLen")).as("defaultSttf"))
      .as[(Int, Int, Long, Long)].collect().sortBy(_._1)
    val offDf = broadcast(segAgg.toSeq.map(a => (a._1, a._2 - 1L)).toDF("newSeg", "segOff"))
    val withNew = rankedDocs.join(offDf, "newSeg")
      .withColumn("newId", (col("rank") - 1 - col("segOff")).cast("int"))
    (withNew, segAgg.toSeq.map(a => SegDocs(a._1, a._3, a._4)))
  }

  /** [[Concat]]: one narrow pass rebases the docs and pins them; the doc
    * aggregate is tallied by that pinning job (a checkpointed frame is never
    * recomputed, so every doc counts once). */
  private def concat(docs: DataFrame, c: Concat): (DataFrame, Seq[SegDocs]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val docTally = WriteStats.tally(spark, "docs")
    val cB = spark.sparkContext.broadcast(c)
    val target = c.target
    val withNew = docs.as[DocRow]
      .flatMap { d =>
        val n = cB.value.newId(d.segmentId, d.docId)
        if (n < 0) None
        else {
          docTally.add(target, IndexBuilder.DefaultField, d.fieldLen)
          Some((d.segmentId, d.docId, target, n, d.url, d.fieldLen, d.normByte))
        }
      }
      .toDF("segmentId", "docId", "newSeg", "newId", "url", "fieldLen", "normByte")
      .localCheckpoint(true)
    (withNew, docTally.value.toSeq.map { case ((s, _), (n, sttf)) => SegDocs(s, n, sttf) })
  }

  /** Slice the flat decoded offset arrays [from, to) into one entry's
    * [s0,e0,s1,e1,...] carrier. */
  private def flatOffsets(starts: Array[Int], ends: Array[Int],
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

  /** Per-position payload byte slices aligned with posFlat (null when the
    * list has no payload stream). */
  private def payloadSlices(tfs: Array[Int], posStart: Array[Int],
                            payloads: Array[Byte]): Array[Array[Byte]] = {
    if (payloads == null) return null
    val total = posStart(tfs.length)
    val (starts, lens, flat) = PostingsCodec.decodePayloads(total, payloads)
    Array.tabulate(total) { k =>
      if (lens(k) == 0) null
      else java.util.Arrays.copyOfRange(flat, starts(k), starts(k) + lens(k))
    }
  }

  /** Frame positions [from, to)'s payload slices as VByte(len)+bytes each —
    * the per-entry payload carrier of the explode. */
  private def frameEntryPayload(pays: Array[Array[Byte]], from: Int, to: Int): Array[Byte] = {
    val buf = new graft.codec.ByteBuf(16)
    var k = from
    while (k < to) {
      val pl = pays(k)
      if (pl == null) graft.codec.VByte.writeInt(buf, 0)
      else { graft.codec.VByte.writeInt(buf, pl.length); buf.write(pl) }
      k += 1
    }
    buf.toArray
  }

  /** Inverse of [[frameEntryPayload]] for one entry's `tf` positions. */
  private def unframeEntryPayload(tf: Int, bytes: Array[Byte]): Array[Array[Byte]] = {
    if (bytes == null) null
    else {
      val (starts, lens, flat) = PostingsCodec.decodePayloads(tf, bytes)
      Array.tabulate(tf) { k =>
        if (lens(k) == 0) null
        else java.util.Arrays.copyOfRange(flat, starts(k), starts(k) + lens(k))
      }
    }
  }
}
