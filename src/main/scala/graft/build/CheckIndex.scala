package graft.build

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.codec.PostingsCodec
import graft.model._

/** Full-index invariant validation — the CheckIndex analog
  * (/root/reference/src/Lucene.Net.Core/Index/CheckIndex.cs:55,464,798-806,1587):
  * per posting list df/ttf consistency, strictly-increasing docIds, docIds
  * within [0, maxDoc), positions consistent with tf, field lengths matching
  * the docs table, and every stats row against the docs and postings it
  * summarizes (maxDoc, sumDocFreq, sumTotalTermFreq). Distributed: each check is a
  * Spark aggregation; the report is a small collected summary.
  */
object CheckIndex {

  final case class Report(segments: Int, docs: Long, postingRows: Long,
                          violations: Seq[String]) {
    def ok: Boolean = violations.isEmpty
  }

  def run(spark: SparkSession, indexPath: String): Report = {
    import spark.implicits._
    val violations = scala.collection.mutable.ArrayBuffer.empty[String]

    val stats = IndexBuilder.readStats(spark, indexPath)
    val segMaxDoc = stats.filter(_.field == IndexBuilder.DefaultField)
      .map(s => s.segmentId -> s.maxDoc).toMap
    // the committed stats define the live segment set (segments_N analog)
    val live = segMaxDoc.keySet
    val docs = spark.read.parquet(IndexBuilder.docsPath(indexPath))
      .filter(col("segmentId").isInCollection(live))
    val postings = spark.read.parquet(IndexBuilder.postingsPath(indexPath))
      .filter(col("segmentId").isInCollection(live))
      .transform(IndexBuilder.withPayloadsCol)
      .select("segmentId", "field", "term", "df", "ttf", "docDeltas", "tfs", "positions", "lens", "skips", "payloads", "offsets")
      .as[PostingRow]
    val segMaxDocB = spark.sparkContext.broadcast(segMaxDoc)

    // decode-level invariants, one pass over postings
    val postingViolations = postings.flatMap { p =>
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        val d = PostingsCodec.decode(p.df, p.docDeltas, p.tfs, p.positions, p.lens)
        if (d.docIds.length != p.df) errs += s"seg=${p.segmentId} term=${p.term}: df=${p.df} decoded=${d.docIds.length}"
        var i = 0
        var prev = -1
        var ttf = 0L
        val maxDoc = segMaxDocB.value.getOrElse(p.segmentId, Long.MaxValue)
        while (i < d.docIds.length) {
          if (d.docIds(i) <= prev) errs += s"seg=${p.segmentId} term=${p.term}: non-increasing docId at $i"
          if (d.docIds(i) >= maxDoc) errs += s"seg=${p.segmentId} term=${p.term}: docId ${d.docIds(i)} >= maxDoc $maxDoc"
          if (d.tfs(i) <= 0) errs += s"seg=${p.segmentId} term=${p.term}: tf<=0 at $i"
          if (d.posStart(i + 1) - d.posStart(i) != d.tfs(i))
            errs += s"seg=${p.segmentId} term=${p.term}: positions!=tf at $i"
          var j = d.posStart(i)
          var prevPos = -1
          while (j < d.posStart(i + 1)) {
            if (d.posFlat(j) <= prevPos) errs += s"seg=${p.segmentId} term=${p.term}: non-increasing position"
            prevPos = d.posFlat(j)
            j += 1
          }
          if (d.lens(i) <= 0) errs += s"seg=${p.segmentId} term=${p.term}: fieldLen<=0"
          prev = d.docIds(i)
          ttf += d.tfs(i)
          i += 1
        }
        if (ttf != p.ttf) errs += s"seg=${p.segmentId} term=${p.term}: ttf=${p.ttf} decoded=$ttf"
        // offset-stream alignment (IndexOptions ..._AND_OFFSETS variant):
        // one (start, end) per position, starts non-decreasing per doc,
        // end >= start — the CheckIndex offsets validation analog
        if (p.offsets != null) {
          val (os, oe) = PostingsCodec.decodeOffsets(d.tfs, p.offsets)
          if (os.length != d.posStart(d.tfs.length))
            errs += s"seg=${p.segmentId} term=${p.term}: offsets!=positions count"
          var k = 0
          i = 0
          while (i < d.tfs.length) {
            var prevS = -1
            var j = 0
            while (j < d.tfs(i)) {
              if (os(k) < prevS) errs += s"seg=${p.segmentId} term=${p.term}: decreasing startOffset"
              if (oe(k) < os(k)) errs += s"seg=${p.segmentId} term=${p.term}: endOffset<startOffset"
              prevS = os(k)
              k += 1; j += 1
            }
            i += 1
          }
        }
      } catch {
        case e: Exception => errs += s"seg=${p.segmentId} term=${p.term}: decode failed ${e.getMessage}"
      }
      errs.take(3)
    }.take(20)
    violations ++= postingViolations

    // docs-table consistency: docIds dense per segment, maxDoc matches stats
    val segDocs = docs.groupBy("segmentId")
      .agg(count(lit(1)).as("n"), max("docId").as("maxId"), min("docId").as("minId"),
        countDistinct("docId").as("nd"), sum("fieldLen").as("len"))
      .as[(Int, Long, Int, Int, Long, Long)].collect()
    segDocs.foreach { case (seg, n, maxId, minId, nd, _) =>
      if (minId != 0) violations += s"seg=$seg: min docId $minId != 0"
      if (maxId != n - 1) violations += s"seg=$seg: max docId $maxId != n-1 ${n - 1}"
      if (nd != n) violations += s"seg=$seg: duplicate docIds"
      segMaxDoc.get(seg) match {
        case Some(m) if m != n => violations += s"seg=$seg: stats maxDoc $m != docs count $n"
        case None => violations += s"seg=$seg: missing stats row"
        case _ =>
      }
    }

    // every stats row against the data it summarizes: sumDocFreq is the
    // field's posting-row count; sumTotalTermFreq is Σ fieldLen of the docs
    // for the default field and Σ ttf of the postings for every other field
    val lenBySeg = segDocs.map(d => d._1 -> d._6).toMap
    val postBySegField = postings.groupBy("segmentId", "field")
      .agg(count(lit(1)), sum("ttf"))
      .as[(Int, String, Long, Long)].collect()
      .map { case (seg, f, n, ttf) => (seg, f) -> (n, ttf) }.toMap
    stats.foreach { s =>
      val where = s"seg=${s.segmentId} field=${s.field}"
      val (rows, ttf) = postBySegField.getOrElse((s.segmentId, s.field), (0L, 0L))
      if (s.sumDocFreq != rows)
        violations += s"$where: sumDocFreq ${s.sumDocFreq} != posting rows $rows"
      if (s.field != IndexBuilder.DefaultField && s.sumTotalTermFreq != ttf)
        violations += s"$where: sumTotalTermFreq ${s.sumTotalTermFreq} != sum(ttf) $ttf"
      if (s.field == IndexBuilder.DefaultField)
        lenBySeg.get(s.segmentId).filter(_ != s.sumTotalTermFreq).foreach { l =>
          violations += s"$where: sumTotalTermFreq ${s.sumTotalTermFreq} != sum(fieldLen) $l"
        }
    }

    // term vectors (when present): every vector doc must exist in the doc
    // store, and the default field's per-doc tf sum must equal fieldLen —
    // the .tvd-vs-.fdx cross-check of CheckIndex.TestTermVectors
    if (TermVectors.enabled(spark, indexPath)) {
      val vecLens = spark.read.parquet(TermVectors.vectorsPath(indexPath))
        .filter(col("segmentId").isInCollection(live) &&
          col("field") === IndexBuilder.DefaultField)
        .groupBy("segmentId", "docId").agg(sum("tf").as("vlen"))
      val badVecs = vecLens
        .join(docs.select(col("segmentId"), col("docId"), col("fieldLen")),
          Seq("segmentId", "docId"), "left_outer")
        .filter(col("fieldLen").isNull || col("fieldLen") =!= col("vlen"))
        .limit(5).select("segmentId", "docId")
        .as[(Int, Int)].collect()
      badVecs.foreach { case (seg, d) =>
        violations += s"seg=$seg doc=$d: term vector misaligned with doc store"
      }
    }

    // index-sorted segments: docId order must equal (sortKey, url) order
    // (Lucene.Net.Misc/Index/Sorter/Sorter.cs contract; the early-terminating
    // collector silently returns wrong top-k if this is violated)
    val sorted =
      try IndexBuilder.readConfig(spark, indexPath).indexSort.isDefined
      catch { case _: Exception => false }
    if (sorted) {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("segmentId").orderBy("docId")
      val bad = docs
        .withColumn("prevKey", lag(col("sortKey"), 1).over(w))
        .filter(col("prevKey").isNotNull && col("prevKey") > col("sortKey"))
        .limit(5).select("segmentId", "docId")
        .as[(Int, Int)].collect()
      bad.foreach { case (seg, d) =>
        violations += s"seg=$seg: docId $d violates index-sort order"
      }
    }

    Report(segMaxDoc.size, docs.count(), postings.count(), violations.toSeq)
  }
}
