package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.build.{DictTable, IndexBuilder, PagesGen}
import graft.search.Searcher
import java.nio.file.Files

/** A reader's term stats are driver-side point reads of the fresh
  * dictionary. On a two-field dictionary written with small row groups, a
  * lookup prunes row groups by footer, dictionary and column-index filters,
  * and returns exactly the rows the Spark read of the same table returns:
  * present, absent, non-ASCII and two-field keys.
  */
class PointReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val extra = Seq("café über ñandú привет", "naïve größe", "façade ßtraße", "ёлка día")

  /** 300 pages with a `title` field; every page carries non-ASCII words. */
  private lazy val index: String = {
    val base = Files.createTempDirectory("graftpointread").toString
    val pages = PagesGen.local(300).zipWithIndex.map { case ((url, text), i) =>
      (url, s"$text ${extra(i % extra.length)}", s"${PagesGen.word(i % 40)} ${extra((i + 1) % extra.length)}")
    }
    // small row groups, for this write only: the dictionary spans many
    val key = "parquet.block.size"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "4096")
    try IndexBuilder.build(spark, spark.createDataFrame(pages).toDF("url", "text", "title"), base,
      IndexBuilder.BuildConfig(2, "standard", extraFields = Seq("title" -> "standard")))
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(DictTable.isValid(spark, base))
    base
  }

  private lazy val dict = spark.read.parquet(DictTable.dictPath(index))

  /** The Spark read of the same keys: the lookup the reader made before. */
  private def sparkRead(keys: Set[(String, String)]): Map[(String, String), (Long, Long)] =
    dict.filter(keys.groupBy(_._1).map { case (f, ks) =>
        col("field") === f && col("term").isInCollection(ks.map(_._2))
      }.reduce(_ || _))
      .select("field", "term", "df", "ttf").collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap

  private def terms(field: String): Seq[String] =
    dict.filter(col("field") === field).select("term").collect().map(_.getString(0)).toSeq.sorted

  test("a 2-term lookup reads some row groups and skips others") {
    val ts = terms("text")
    val s = new Searcher(spark, index)
    val before = s.pointReads
    val got = s.fieldTermStats(Set("text" -> ts.head, "text" -> ts.last))
    val d = s.pointReads
    assert(got.size == 2)
    assert(d.rowGroupsRead - before.rowGroupsRead >= 1, d)
    assert(d.rowGroupsSkipped - before.rowGroupsSkipped > 0, d)
    assert(d.rowsReturned - before.rowsReturned == 2, d)
  }

  test("lookups equal the Spark read for present, absent, non-ASCII and two-field keys") {
    val (text, title) = (terms("text"), terms("title"))
    val nonAscii = text.filter(_.exists(_ > 127))
    assert(nonAscii.size >= 4, nonAscii)
    val onlyInText = text.find(t => !title.contains(t)).get
    val cases = Seq(
      "present" -> Set("text" -> text(3), "text" -> text(text.size / 2)),
      "absent" -> Set("text" -> "zzzabsent", "title" -> "zzzgone"),
      "non-ASCII" -> nonAscii.map("text" -> _).toSet,
      "two fields" -> Set("text" -> text(5), "title" -> title(1), "title" -> onlyInText,
        "title" -> nonAscii.head, "text" -> "zzzabsent"))
    for ((name, keys) <- cases) {
      val want = sparkRead(keys)
      assert(new Searcher(spark, index).fieldTermStats(keys) == want, name)
      assert(name == "absent" || want.nonEmpty, name)
    }
  }
}
