package graft.build

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.AccumulatorV2
import graft.model.SegmentStats

/** Segment stats taken from the rows a write emits instead of read back from
  * the tables it wrote (CollectionStatistics analog,
  * Search/CollectionStatistics.cs:32-37). A [[Tally]] counts rows and sums
  * one value per (segmentId, field) while the rows stream into the writer.
  *
  * Spark merges a RESULT task's accumulator updates once per partition, so a
  * retried or speculative task counts once; map-stage updates carry no such
  * guarantee. A tally must therefore be fed after the last exchange, in the
  * stage that runs the write itself.
  */
private[graft] object WriteStats {

  /** Rows and Σ value per (segmentId, field). */
  final class Tally extends AccumulatorV2[(Int, String, Long), Map[(Int, String), (Long, Long)]] {
    private val cells = scala.collection.mutable.HashMap.empty[(Int, String), Array[Long]]

    private def cell(key: (Int, String)): Array[Long] =
      cells.getOrElseUpdate(key, new Array[Long](2))

    def add(seg: Int, field: String, v: Long): Unit = {
      val c = cell((seg, field))
      c(0) += 1
      c(1) += v
    }

    override def add(v: (Int, String, Long)): Unit = add(v._1, v._2, v._3)
    override def isZero: Boolean = cells.isEmpty
    override def copy(): Tally = {
      val t = new Tally
      cells.foreach { case (k, a) => t.cells(k) = a.clone() }
      t
    }
    override def reset(): Unit = cells.clear()
    override def merge(other: AccumulatorV2[(Int, String, Long), Map[(Int, String), (Long, Long)]]): Unit =
      synchronized {
        other match {
          case t: Tally => t.cells.foreach { case (k, a) =>
            val c = cell(k)
            c(0) += a(0)
            c(1) += a(1)
          }
          case o => throw new UnsupportedOperationException(s"cannot merge ${o.getClass.getName}")
        }
      }
    override def value: Map[(Int, String), (Long, Long)] =
      synchronized(cells.map { case (k, a) => k -> (a(0), a(1)) }.toMap)
  }

  def tally(spark: SparkSession, name: String): Tally = {
    val t = new Tally
    spark.sparkContext.register(t, name)
    t
  }

  /** Stats rows of segments `segDocs` (segmentId, maxDoc, default-field
    * Σ fieldLen), one per field of `fields`, segmentId ascending: maxDoc is
    * segment-wide; the default field's sumTotalTermFreq is its docs' Σ
    * fieldLen, every other field's is its postings' Σ ttf; sumDocFreq is the
    * field's posting-row count (`postings`: rows and Σ ttf per key). */
  def rows(segDocs: Seq[(Int, Long, Long)], postings: Map[(Int, String), (Long, Long)],
           fields: Seq[String]): Seq[SegmentStats] =
    segDocs.sortBy(_._1).flatMap { case (seg, maxDoc, defaultSttf) =>
      fields.map { f =>
        val (rowCount, ttf) = postings.getOrElse((seg, f), (0L, 0L))
        SegmentStats(seg, f, maxDoc,
          if (f == IndexBuilder.DefaultField) defaultSttf else ttf, rowCount)
      }
    }
}
