package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.SmallFloat
import graft.model.{Hit, SkipRow}
import scala.jdk.CollectionConverters._

/** Block-Max WAND top-k for pure-disjunction BM25 queries — the serving-path
  * optimization of SURVEY.md §4.2. Lucene 4.8 has skip-based Advance only
  * (Codecs/Lucene41/Lucene41PostingsReader.cs:490-548); the per-block
  * (maxTf, minLen) metadata our codec stores turns that into Block-Max WAND:
  * blocks whose score upper bound cannot beat the current heap floor are
  * skipped without decoding.
  *
  * Plan shape: the query terms' posting rows (KBs-MBs of compressed blocks)
  * are repartitioned by segment; each task runs the WAND iterator per segment
  * with a shared top-k heap and emits its survivors; the driver k-way merges
  * (TopDocs.Merge analog, Search/TopDocs.cs:251) with the exact
  * (score desc, segmentId asc, docId asc) tie-break. No groupBy shuffle of
  * decoded postings ever happens.
  *
  * Correctness contract: identical results to the DataFrame path (tested as
  * a pure optimization) for OR-of-terms queries without minShouldMatch.
  */
object Wand {

  /** Lazy block-decoding cursor over one encoded posting row (LuceneFloat
    * scoring). Supports shallow block inspection (metadata only) for the
    * block-max check, and forward `advance` with block skipping.
    */
  /** Posting row projection for WAND: skips but no positions. */
  final case class WandRow(segmentId: Int, field: String, term: String, df: Int,
                          docDeltas: Array[Byte], tfs: Array[Byte], lens: Array[Byte],
                          skips: Array[SkipRow])

  /** Scoring wrapper over the shared block cursor (PostingCursor.scala):
    * adds the BM25 score + per-block score upper bounds for BMW.
    */
  private[search] final class TermCursor(p: WandRow, val weight: Float, cache: Array[Float]) {
    private val c = new PostingCursor(p.df, p.docDeltas, p.tfs, p.lens, p.skips)

    def doc: Int = c.doc
    def exhausted: Boolean = c.exhausted
    def advance(target: Int): Unit = c.advance(target)
    def next(): Unit = c.next()

    @inline private def ub(maxTf: Int, minLen: Int): Float = {
      val nb = SmallFloat.floatToByte315(1f / math.sqrt(minLen.toDouble).toFloat)
      val norm = cache(nb & 0xff)
      val tff = maxTf.toFloat
      weight * tff / (tff + norm)
    }

    /** Global upper bound over the whole list (for pivot selection). */
    val maxScore: Float = {
      var m = 0f
      var i = 0
      while (i < c.nFull) {
        val sk = c.blockMeta(i)
        val s = ub(sk.maxTf, sk.minLen)
        if (s > m) m = s
        i += 1
      }
      if (c.hasTail) {
        val s = ub(c.tailStats._1, c.tailStats._2)
        if (s > m) m = s
      }
      m
    }

    /** SHALLOW seek: (blockMaxScore, blockLastDoc) of the block that contains
      * the first doc >= target — metadata only, nothing decoded.
      */
    def blockInfoFor(target: Int): (Float, Int) = {
      val (maxTf, minLen, lastDoc) = c.blockMetaFor(target)
      if (maxTf == 0 && lastDoc == Int.MaxValue && !c.hasTail) (0f, Int.MaxValue)
      else (ub(maxTf, minLen), lastDoc)
    }

    def score: Float = {
      val nb = SmallFloat.floatToByte315(1f / math.sqrt(c.len.toDouble).toFloat)
      val norm = cache(nb & 0xff)
      val tff = c.tf.toFloat
      weight * tff / (tff + norm)
    }
  }

  /** A top-k heap whose head is the worst hit kept ([[Searcher.HitRank]]). */
  private[search] def newHeap(k: Int): java.util.PriorityQueue[Hit] =
    new java.util.PriorityQueue[Hit](k + 1, Searcher.HitRank.reverse)

  /** Run BMW over one segment's term cursors, updating the shared heap.
    * `deleted` = sorted deleted docIds of THIS segment (liveDocs overlay) —
    * checked before a hit can enter the heap, like every reference scorer
    * consults acceptDocs.
    */
  private[search] def wandSegment(segmentId: Int, cursors: Array[TermCursor], k: Int,
                          heap: java.util.PriorityQueue[Hit],
                          deleted: Array[Int] = Array.empty): Unit = {
    cursors.foreach(_.next())
    def theta: Double = if (heap.size < k) Double.NegativeInfinity else heap.peek().score

    var running = true
    while (running) {
      val active = cursors.filter(!_.exhausted).sortBy(_.doc)
      if (active.isEmpty) return
      // pivot: smallest index where cumulative max-score can beat theta
      var acc = 0f
      var pivotIdx = -1
      var i = 0
      val th = theta
      while (i < active.length && pivotIdx < 0) {
        acc += active(i).maxScore
        if (acc > th) pivotIdx = i
        i += 1
      }
      if (pivotIdx < 0) return // nothing can beat the heap floor
      val pivotDoc = active(pivotIdx).doc

      if (active.head.doc == pivotDoc) {
        // BLOCK-MAX check with shallow seeks to the pivot's blocks
        var blockSum = 0f
        var minBoundary = Int.MaxValue
        var j = 0
        while (j <= pivotIdx) {
          val (bMax, bLast) = active(j).blockInfoFor(pivotDoc)
          blockSum += bMax
          if (bLast < minBoundary) minBoundary = bLast
          j += 1
        }
        // the skip region is only sound while cursors > pivotIdx cannot
        // contribute: cap it just before the next cursor's doc (BMW's
        // NextShallow candidate rule) — without the cap, docs supported by
        // later cursors inside the block region would be skipped wrongly
        val cap = if (pivotIdx + 1 < active.length) active(pivotIdx + 1).doc - 1 else Int.MaxValue
        val skipTo = math.min(minBoundary, cap)
        if (blockSum <= th && minBoundary != Int.MaxValue && skipTo >= pivotDoc) {
          // the capped block region cannot beat theta: jump past it
          val target = skipTo + 1
          j = 0
          while (j <= pivotIdx) { active(j).advance(target); j += 1 }
        } else {
          val live = deleted.isEmpty || java.util.Arrays.binarySearch(deleted, pivotDoc) < 0
          if (live) {
            var s = 0f
            cursors.foreach { c => if (!c.exhausted && c.doc == pivotDoc) s += c.score }
            val hit = Hit(segmentId, pivotDoc, s.toDouble)
            if (heap.size < k) heap.add(hit)
            else if (Searcher.HitRank.lt(hit, heap.peek())) { heap.poll(); heap.add(hit) }
          }
          cursors.foreach { c => if (!c.exhausted && c.doc == pivotDoc) c.advance(pivotDoc + 1) }
        }
      } else {
        var j = 0
        while (j < pivotIdx) { active(j).advance(pivotDoc); j += 1 }
      }
      running = cursors.exists(!_.exhausted)
    }
  }

  /** Top-k OR-of-terms via BMW (LuceneFloat scoring; duplicate terms fold
    * into the clause weight — numerically identical to summed clauses).
    * Runs the query when called: the per-task survivors are collected and
    * finished on the driver ([[Searcher.topK]]). The weights, norm cache and
    * term order ride the task closure; the delete overlay is the reader's
    * own broadcast — a query creates no broadcast.
    */
  def searchOr(searcher: Searcher, spark: SparkSession, indexPath: String,
               field: String, terms: List[String], k: Int): DataFrame = {
    import spark.implicits._
    val statsFT = searcher.fieldTermStats(terms.toSet.map((t: String) => (field, t)))
    val stats: Map[String, (Long, Long)] = statsFT.map { case ((_, t), v) => t -> v }
    val present = terms.filter(stats.contains)
    if (present.isEmpty) return searcher.topK(Nil, k)
    val bm25 = searcher.bm25
    val maxDoc = searcher.maxDoc
    val weights: Map[String, Float] = present.groupBy(identity).map { case (t, dup) =>
      t -> (bm25.idf(stats(t)._1, maxDoc) * (bm25.k1 + 1) * dup.size)
    }
    val cache = searcher.normCache(field)
    // clause order for float-sum determinism: sum scores in first-occurrence
    // order of the query terms, matching the DataFrame path's clause chain
    val termOrder: Map[String, Int] = present.distinct.zipWithIndex.toMap
    val deletedB = searcher.deletedB

    val partials = searcher.postingsRaw
      .filter(col("field") === field && col("term").isInCollection(weights.keySet))
      .select("segmentId", "field", "term", "df", "docDeltas", "tfs", "lens", "skips")
      .as[WandRow]
      .repartition(col("segmentId"))
      .mapPartitions { rows =>
        val heap = newHeap(k)
        val bySeg = rows.toArray.groupBy(_.segmentId)
        bySeg.toSeq.sortBy(_._1).foreach { case (seg, ps) =>
          val cursors = ps.sortBy(p => termOrder(p.term))
            .map(p => new TermCursor(p, weights(p.term), cache))
          wandSegment(seg, cursors, k, heap,
            deletedB.value.getOrElse(seg, Array.empty[Int]))
        }
        heap.iterator().asScala
      }

    searcher.topK(partials.collect().toSeq, k)
  }
}
