package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.build.IndexBuilder
import graft.merge.MergeJob
import graft.search._
import graft.analysis.DelimitedPayloadAnalyzer.encodeInt
import java.nio.file.Files

/** Span payload checks and PayloadNearQuery over a MERGED index with FORCED
  * piece rows (pieceEntries = 64): the payload stream must survive the merge's
  * docId remap + purge and the PayloadIndex must resolve payloads across
  * disjoint piece ranges (merge/MergeJob payload rebase x the span payload
  * machinery). */
class SpanPayloadMergeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 400
  private def live(id: Int): Boolean = id % 10 != 0

  private lazy val mergedSe: Searcher = {
    import spark.implicits._
    val base = Files.createTempDirectory("graftspm").toString
    val df = (0 until N).map { id =>
      (f"doc$id%05d", s"alpha|${id % 5} beta|${id % 3} alpha|${(id + 2) % 5}")
    }.toDF("url", "text")
    IndexBuilder.build(spark, df, base,
      IndexBuilder.BuildConfig(4, "delimited_payload", groupSize = 4))
    val dels = (0 until N).filterNot(live).map(id => f"doc$id%05d").toDF("url")
    graft.build.Deletes.deleteUrls(spark, base, dels)
    MergeJob.merge(spark, base, List(0, 1, 2, 3), pieceEntries = 64) // force pieces
    new Searcher(spark, base)
  }

  private def ids(q: Query): Set[Int] =
    mergedSe.search(q, N + 1).collect().map(_.getString(0).drop(3).toInt).toSet

  test("merged index serves alpha from multiple piece rows") {
    val pieces = mergedSe.postingsRaw
      .filter(col("field") === "text" && col("term") === "alpha").count()
    assert(pieces > 1, s"expected piece rows after a pieceEntries=64 merge, got $pieces")
  }

  test("SpanPayloadCheck over merged piece rows matches the analytic set") {
    val q = SpanMatchQ(SpanPayloadCheckS(SpanTermS("alpha"), List(encodeInt(3))))
    val expected = (0 until N)
      .filter(id => live(id) && (id % 5 == 3 || (id + 2) % 5 == 3)).toSet
    assert(expected.nonEmpty)
    assert(ids(q) == expected)
  }

  test("SpanNearPayloadCheck over merged piece rows matches the analytic set") {
    val near = SpanNearS(List(SpanTermS("alpha"), SpanTermS("beta")), 0, inOrder = true)
    val q = SpanMatchQ(SpanNearPayloadCheckS(near,
      List(encodeInt(1), encodeInt(2))))
    // the one ordered span is (alpha@0, beta@1): payloads [id%5, id%3], each
    // must equal SOME expected value
    val expected = (0 until N).filter(id => live(id) &&
      Seq(id % 5, id % 3).forall(v => v == 1 || v == 2)).toSet
    assert(expected.nonEmpty)
    assert(ids(q) == expected)
  }

  test("PayloadNearQuery scores track the payload average after the merge") {
    val near = SpanNearS(List(SpanTermS("alpha"), SpanTermS("beta")), 0, inOrder = true)
    val scores = mergedSe.compile(PayloadNearQ(near, "avg"))
      .join(mergedSe.docs.select("segmentId", "docId", "url"), Seq("segmentId", "docId"))
      .select("url", "score").collect()
      .map(r => r.getString(0).drop(3).toInt -> r.getDouble(1)).toMap
    assert(scores.keySet == (0 until N).filter(live).toSet)
    val base = scores.collectFirst {
      case (id, s) if (id % 5 + id % 3) > 0 => s * 2 / (id % 5 + id % 3)
    }.get
    scores.foreach { case (id, s) =>
      val want = base * (id % 5 + id % 3) / 2.0
      assert(math.abs(s - want) < 1e-9 * math.max(1.0, want), s"doc $id: $s vs $want")
    }
  }
}
