package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.build.{IndexBuilder, PagesGen}
import graft.search.Searcher
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._
import scala.concurrent.ExecutionContext.Implicits.global

/** The per-reader (field, term) stats memo stops at
  * `Searcher.TermStatsCacheMax` entries: a hard bound, also when
  * concurrent queries each bring a batch of new keys. */
class TermStatsCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val idxPath = {
    val base = Files.createTempDirectory("graftstats").toString
    IndexBuilder.build(spark, spark.createDataFrame(PagesGen.local(50)).toDF("url", "text"),
      base, IndexBuilder.BuildConfig(1, "standard", groupSize = 1))
    base
  }

  /** The memo itself (private to the Searcher; read for its size only). */
  private def cached(s: Searcher): Int = {
    val m = classOf[Searcher].getDeclaredMethod("termStatsCache")
    m.setAccessible(true)
    m.invoke(s).asInstanceOf[java.util.Map[_, _]].size()
  }

  test("concurrent batches of new keys never overshoot TermStatsCacheMax") {
    val s = new Searcher(spark, idxPath)
    val threads = 4
    // disjoint batches that together exceed the cap by a little
    val batch = Searcher.TermStatsCacheMax / threads + 64
    val runs = (0 until threads).map { t =>
      Future(s.fieldTermStats((0 until batch).map(i => ("text", s"absent$t-$i")).toSet))
    }
    runs.foreach(f => Await.result(f, 5.minutes))
    assert(cached(s) == Searcher.TermStatsCacheMax)
  }
}
