package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Dedup, PipelineMetrics}

/** Bucket-cap guard after the r6 optimization: the fast path collects the
  * (rare) over-cap bucket keys and anti-joins them out; beyond the driver
  * bound the keys stay distributed. Both must keep the same rows and
  * surface the same drop accounting.
  */
class DedupCapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** (id, i, minh) signature rows put ids with equal `minh` in one band
    * bucket (single hash, single band). */
  private def sig(pairs: Seq[(Long, Long)]) =
    pairs.map { case (id, minh) => (id, 0, minh) }.toDF("id", "i", "minh")

  test("fast path: over-cap bucket dropped with accounting, under-cap pairs kept") {
    // bucket A: ids 0,1,2 (over cap 2) - bucket B: ids 10,11 (under cap)
    val s = sig(Seq(0L -> 7L, 1L -> 7L, 2L -> 7L, 10L -> 9L, 11L -> 9L))
    val pairs = Dedup.lshCandidates(s, rowsPerBand = 1, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L)))
    val d = PipelineMetrics.lastDrops("lshCandidates")
    assert(d.buckets == 1L && d.rows == 3L)
  }

  test("fallback path (> MaxDriverOverKeys over-cap buckets) keeps identical survivors") {
    // MaxDriverOverKeys + 2 over-cap buckets of 2 members each (cap = 1),
    // plus one singleton under-cap bucket that must survive both paths
    val overBuckets = Dedup.MaxDriverOverKeys + 2
    val rows = (0 until overBuckets).flatMap { b =>
      Seq((2L * b) -> (1000L + b), (2L * b + 1) -> (1000L + b))
    } :+ (999999L -> 7L)
    val s = sig(rows)
    val pairs = Dedup.lshCandidates(s, rowsPerBand = 1, maxBucket = 1)
      .collect()
    assert(pairs.isEmpty) // every 2-member bucket is over cap 1
    val d = PipelineMetrics.lastDrops("lshCandidates")
    assert(d.buckets == overBuckets.toLong && d.rows == 2L * overBuckets)
  }

  test("nearDupPairs with a hot boilerplate cluster matches the uncapped organic pairs") {
    val organic = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // exact dup: all bands collide
      (3L, "totally different words in this document"))
    val boiler = (100L until 120L).map(i => i -> "terms of service apply to all pages")
    val docs = (organic ++ boiler).toDF("doc_id", "text")
    val capped = Dedup.nearDupPairs(docs, "doc_id", "text", k = 3,
        numHashes = 12, rowsPerBand = 3, tNum = 1, tDen = 2, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the boilerplate bucket (20 > 10) drops; the organic near-dup pair stays
    assert(capped == Set((1L, 2L)))
    val d = PipelineMetrics.lastDrops("lshCandidates")
    assert(d.buckets >= 1L && d.rows >= 20L)
  }

  test("null bucket keys: both paths keep them and count only dropped rows") {
    // three null-key rows would form an over-cap "bucket" if nulls grouped
    val nulls = Seq((900L, None), (901L, None), (902L, None))
    def kept(rows: Seq[(Long, Option[Long])], cap: Int): Set[Long] =
      Dedup.dropOverCap(rows.toDF("id", "k"), Seq("k"), cap, "nullKeys")
        .select("id").collect().map(_.getLong(0)).toSet
    // fast path: bucket 7 (3 rows) over cap 2, bucket 9 (2 rows) under it
    val small = Seq(0L -> Some(7L), 1L -> Some(7L), 2L -> Some(7L),
      10L -> Some(9L), 11L -> Some(9L)) ++ nulls
    assert(kept(small, 2) == Set(10L, 11L, 900L, 901L, 902L))
    assert(PipelineMetrics.lastDrops("nullKeys") == PipelineMetrics.DropStats(1L, 3L))
    // fallback: MaxDriverOverKeys + 1 two-row buckets over cap 1
    val over = Dedup.MaxDriverOverKeys + 1
    val many = (0 until over).flatMap(b => Seq((2L * b) -> Some(b.toLong), (2L * b + 1) -> Some(b.toLong))) ++
      Seq(999999L -> Some(-1L)) ++ nulls
    assert(kept(many, 1) == Set(999999L, 900L, 901L, 902L))
    assert(PipelineMetrics.lastDrops("nullKeys") == PipelineMetrics.DropStats(over.toLong, 2L * over))
  }
}
