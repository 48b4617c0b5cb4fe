package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.build.IndexBuilder
import graft.codec.TermBloom
import graft.merge.MergeJob
import graft.search._
import java.nio.file.Files

/** Per-segment term blooms (BloomFilteringPostingsFormat / FuzzySet analog,
  * codec/TermBloom.scala): no false negatives ever; the Searcher prunes the
  * segment list for term queries; unbloomed segments always scan.
  */
class BloomSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("FuzzySet contract: every inserted hash is contained after downsizing") {
    val terms = (0 until 5000).map(i => s"term$i")
    val (mask, bits) = TermBloom.build(terms.iterator.map(TermBloom.hash))
    assert(Integer.bitCount(mask + 1) === 1) // power-of-two bitset
    assert(mask + 1 >= TermBloom.MinBits)
    terms.foreach { t =>
      assert(TermBloom.mayContain(TermBloom.hash(t), mask, bits), s"false negative: $t")
    }
    // downsize happened: 5000 terms need nowhere near the 4M build bits
    assert(mask + 1 < TermBloom.BuildBits)
    // saturation respected by the fold loop
    val set = bits.map(b => Integer.bitCount(b & 0xff)).sum
    assert(set.toFloat / (mask + 1) <= TermBloom.DefaultMaxSaturation + 1e-6f)
  }

  test("bloom-built index: term queries prune to the owning segments only") {
    import spark.implicits._
    val base = Files.createTempDirectory("graftbloom").toString
    // 200 docs over 4 segments; every doc carries "common"; "needle" rides
    // on exactly one url so it lives in exactly one segment
    val pages = (0 until 200)
      .map(i => (f"https://bloom-$i%03d.example/", if (i == 7) "needle common" else s"word$i common"))
      .toDF("url", "text")
    IndexBuilder.build(spark, pages, base,
      IndexBuilder.BuildConfig(4, "simple", groupSize = 4, bloomFilter = true))

    val s = new Searcher(spark, base)
    assert(s.termBlooms.size === 4) // one row per (segment, default field)

    // no false negatives: every indexed term's bloom set includes every
    // segment that actually holds it
    val owners = s.postingsSlim.filter(col("term") === "needle")
      .select("segmentId").as[Int].collect().toSet
    assert(owners.size === 1)
    val pruned = s.bloomSegments(IndexBuilder.DefaultField, "needle").get
    assert(owners.subsetOf(pruned))
    // singleton terms prune the segment list (hash collisions could in
    // principle keep extra segments; assert it shrank, which holds for this
    // fixed vocabulary)
    assert(pruned.size < s.liveSegments.size)

    // a term in every doc keeps every segment
    assert(s.bloomSegments(IndexBuilder.DefaultField, "common").get === s.liveSegments)

    // results identical to an unbloomed twin
    val base2 = Files.createTempDirectory("graftbloom2").toString
    IndexBuilder.build(spark, pages, base2, IndexBuilder.BuildConfig(4, "simple", groupSize = 4))
    val s2 = new Searcher(spark, base2)
    def urls(se: Searcher, q: Query) =
      se.search(q, 1000).collect().map(_.getString(0)).toList
    assert(urls(s, TermQ("needle")) === urls(s2, TermQ("needle")))
    assert(urls(s, TermQ("common")) === urls(s2, TermQ("common")))
    assert(s2.termBlooms.isEmpty) // opt-in: absent dir -> no pruning, no error
  }

  test("a split of a bloom-built index regenerates a bloom row per destination (segment, field)") {
    import spark.implicits._
    val base = Files.createTempDirectory("graftbloomsplit").toString
    val pages = (0 until 120)
      .map(i => (f"https://bloom-$i%03d.example/", if (i == 7) "needle common" else s"word$i common"))
      .toDF("url", "text")
    IndexBuilder.build(spark, pages, s"$base/src",
      IndexBuilder.BuildConfig(2, "simple", groupSize = 2, bloomFilter = true))
    assert(IndexBuilder.readConfig(spark, s"$base/src").bloomFilter)
    MergeJob.splitIndex(spark, s"$base/src", s"$base/dst", 3)

    val dst = new Searcher(spark, s"$base/dst")
    val keys = dst.postingsSlim.select("segmentId", "field").distinct()
      .as[(Int, String)].collect().toSet
    assert(keys.size == 3)
    assert(spark.read.parquet(IndexBuilder.bloomsPath(s"$base/dst"))
      .select("segmentId", "field").as[(Int, String)].collect().toSet == keys)
    val src = new Searcher(spark, s"$base/src")
    def urls(se: Searcher, q: Query) = se.search(q, 1000).collect().map(_.getString(0)).toSet
    Seq("needle", "common", "word3").foreach { t =>
      assert(urls(dst, TermQ(t)) == urls(src, TermQ(t)), t)
    }
  }
}
