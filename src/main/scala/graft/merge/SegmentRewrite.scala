package graft.merge

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.build.{ConcurrentWrites, IndexBuilder, TermVectors, WriteStats}
import graft.codec.PostingsCodec
import graft.model._

/** The one segment-rewrite primitive behind the sorted merge
  * (SortingMergePolicy over the Sorter.cs permutation) and the IndexSplitter
  * analog: re-lay routed live docs into destination segments under a docId
  * permutation, re-encoding the postings instead of re-analyzing the text.
  *
  *  1. ONE global contiguous rank in (newSeg, sortKey, url) order with the
  *     doc-store payload riding along: appendRank pins the sorted rows, so
  *     the permutation (segmentId, docId) → (newSeg, newId), the new doc
  *     store and the per-segment aggregates derive narrowly from one sort.
  *     newIds follow the builder's own (sortKey, url) order, so the output is
  *     content-identical to a fresh build of the same live docs.
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

  /** Rewrite `routed` — live docs (segmentId, docId, newSeg, url, fieldLen,
    * normByte, and sortKey when the index is sorted) of the `sources`
    * segments of `srcPath` — into docs/postings (and vectors when
    * `withVectors`) under `dstPath`. Returns the per-segment doc aggregates
    * (newSeg ascending), the postings tallied as the write emits them, and
    * the permutation. */
  def run(spark: SparkSession, srcPath: String, sources: Iterable[Int],
          routed: DataFrame, dstPath: String, withVectors: Boolean,
          pieceEntries: Int): Result = {
    import spark.implicits._
    val sorted = routed.columns.contains("sortKey")
    val ranked = graft.Ranks.appendRank(
      routed.select(col("segmentId"), col("docId"), col("newSeg"),
        if (sorted) col("sortKey") else lit(0d).as("sortKey"),
        col("url"), col("fieldLen"), col("normByte")),
      "rank", Seq(col("newSeg").asc, col("sortKey").asc, col("url").asc))

    // per-newSeg offset (rank is newSeg-major contiguous: offset = min rank
    // - 1) + maxDoc + default-field sttf from one tiny aggregate
    val segAgg = ranked.groupBy(col("newSeg"))
      .agg(min(col("rank")).as("minRank"), count(lit(1)).as("maxDoc"),
        sum(col("fieldLen")).as("defaultSttf"))
      .as[(Int, Int, Long, Long)].collect().sortBy(_._1)
    val offDf = broadcast(segAgg.toSeq.map(a => (a._1, a._2 - 1L)).toDF("newSeg", "segOff"))
    val withNew = ranked.join(offDf, "newSeg")
      .withColumn("newId", (col("rank") - 1 - col("segOff")).cast("int"))
    val permAll = withNew.select("segmentId", "docId", "newSeg", "newId")
    // the doc count is already in hand: sizing the permutation costs no job
    val perm =
      if (graft.BroadcastBudget.fits(segAgg.map(_._3).sum, permAll.schema)) broadcast(permAll)
      else permAll

    def partitioned(df: DataFrame, path: String): Unit =
      df.write.mode(SaveMode.Overwrite).partitionBy("segmentId").parquet(path)

    // doc store straight off the pinned sort (no join-back)
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

    val entries = spark.read.parquet(IndexBuilder.postingsPath(srcPath))
      .filter(col("segmentId").isInCollection(sources))
      .transform(IndexBuilder.withPayloadsCol)
      .select("segmentId", "field", "term", "df", "ttf", "docDeltas", "tfs",
        "positions", "lens", "skips", "payloads", "offsets")
      .as[PostingRow]
      .flatMap { p =>
        val d = PostingsCodec.decode(p.df, p.docDeltas, p.tfs, p.positions, p.lens)
        val pays = MergeJob.payloadSlices(d.tfs, d.posStart, p.payloads)
        val offs = if (p.offsets == null) null
          else PostingsCodec.decodeOffsets(d.tfs, p.offsets)
        Iterator.tabulate(d.docIds.length) { i =>
          val ps = java.util.Arrays.copyOfRange(d.posFlat, d.posStart(i), d.posStart(i + 1))
          val pl = if (pays == null) null
            else frameEntryPayload(pays, d.posStart(i), d.posStart(i + 1))
          val of = if (offs == null) null
            else MergeJob.flatOffsets(offs._1, offs._2, d.posStart(i), d.posStart(i + 1))
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
    Result(segAgg.toSeq.map(a => SegDocs(a._1, a._3, a._4)), postTally.value, permAll)
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
