package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.SparkInternals
import org.apache.spark.sql.functions._
import graft.build.{Deletes, IndexBuilder, PagesGen}
import graft.model.Hit
import graft.search._
import java.nio.file.Files

/** Every top-k entry point finishes on the driver: the k winners' urls come
  * from one pruned read of `docs` and the result is a local DataFrame. The
  * rows and schema equal those of the broadcast-join finisher the engine
  * used before (kept here as the reference), the Spark jobs of a cold query
  * on a small 4-segment index stay bounded, and a WAND query creates no
  * broadcast of its own.
  */
class ColdTopKSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val N = 400
  private lazy val pages = PagesGen.local(N)
  private lazy val base = Files.createTempDirectory("graftcoldtopk").toString

  private def build(path: String): String = {
    IndexBuilder.build(spark, spark.createDataFrame(pages).toDF("url", "text"), path,
      IndexBuilder.BuildConfig(4, "standard", groupSize = 4))
    path
  }

  private lazy val clean = build(s"$base/clean")

  /** The same index with every 9th page deleted: a small overlay. */
  private lazy val deleted = {
    import spark.implicits._
    val p = build(s"$base/deleted")
    Deletes.deleteUrls(spark, p, pages.indices.filter(_ % 9 == 4).map(pages(_)._1).toDF("url"))
    p
  }

  private val w = PagesGen.word _
  private val termQ = TermQ(w(2))
  private val orQ = BoolQ(List(Occur.Should -> TermQ(w(2)), Occur.Should -> TermQ(w(11))))
  private val andQ = BoolQ(List(Occur.Must -> TermQ(w(2)), Occur.Must -> TermQ(w(5))))
  private val phraseQ = PhraseQ(List("quick" -> 0, "brown" -> 1))
  private val prefixQ = ConstantScoreQ(PrefixQ("wc"), 1f)
  private val missingQ = TermQ("zzzmissing")

  private def jobsOf(body: => Unit): Int = SparkInternals.jobsOf(spark.sparkContext)(body)

  private val rank = Seq(col("score").desc, col("segmentId").asc, col("docId").asc)

  /** The broadcast-join finisher every top-k entry point used before. */
  private def reference(s: Searcher, hits: Dataset[Hit], k: Int): DataFrame =
    broadcast(hits.orderBy(rank: _*).limit(k))
      .join(s.docs.select("segmentId", "docId", "url"), Seq("segmentId", "docId"))
      .select(col("url"), col("score"), col("segmentId"), col("docId"))
      .orderBy(rank: _*)

  private def assertSame(got: DataFrame, ref: DataFrame, what: String): Unit = {
    assert(got.schema == ref.schema, s"$what: schema ${got.schema} vs ${ref.schema}")
    val (g, r) = (got.collect().toSeq, ref.collect().toSeq)
    assert(g == r, s"$what:\ngot=$g\nref=$r")
  }

  private def readers: Seq[(String, Searcher)] = Seq(
    "clean" -> new Searcher(spark, clean),
    "small deletes" -> new Searcher(spark, deleted),
    "large deletes" -> new Searcher(spark, deleted, deleteBroadcastLimit = 0L))

  /** (name, query, k): ties at the k-th score (constant scores), k above
    * the hit count, zero hits, WAND and plan shapes. */
  private val cases: Seq[(String, Query, Int)] = Seq(
    ("term", termQ, 10), ("or", orQ, 10), ("and", andQ, 10), ("phrase", phraseQ, 10),
    ("prefix ties at k", prefixQ, 7), ("k above hits", TermQ(w(300)), 1000),
    ("or k above hits", BoolQ(List(Occur.Should -> TermQ(w(300)),
      Occur.Should -> TermQ(w(301)))), 1000),
    ("zero hits", missingQ, 10),
    ("or zero hits", BoolQ(List(Occur.Should -> missingQ, Occur.Should -> TermQ("zzzgone"))), 10))

  test("search, searchPlan and searchWand rows and schema equal the broadcast-join finisher") {
    for ((rn, s) <- readers; (cn, q, k) <- cases) {
      val ref = reference(s, s.compile(q), k)
      assertSame(s.search(q, k), ref, s"$rn/$cn search")
      assertSame(s.searchPlan(q, k), ref, s"$rn/$cn searchPlan")
      assertSame(s.searchWand(q, k), ref, s"$rn/$cn searchWand")
    }
  }

  test("searchAfter and searchTimeLimited rows and schema equal the broadcast-join finisher") {
    import org.apache.spark.sql.expressions.Window
    val shapes = Set("term", "prefix ties at k", "k above hits", "zero hits")
    for ((rn, s) <- readers; (cn, q, k) <- cases if shapes(cn)) {
      val scored = s.compile(q).groupBy("segmentId").count().collect().map(_.getLong(1))
      s.search(q, 5).collect().lastOption.foreach { last =>
        val (sc, seg, doc) = (last.getDouble(1), last.getInt(2), last.getInt(3))
        val after = s.compile(q).filter(col("score") < sc || (col("score") === sc &&
          (col("segmentId") > seg || (col("segmentId") === seg && col("docId") > doc))))
        assertSame(s.searchAfter(q, k, sc, seg, doc), reference(s, after, k), s"$rn/$cn searchAfter")
      }
      for (budget <- Seq(3L, Long.MaxValue)) {
        val (got, timedOut) = s.searchTimeLimited(q, k, budget)
        val kept = s.compile(q).withColumn("rn",
            row_number().over(Window.partitionBy(col("segmentId")).orderBy(col("docId").asc)))
          .filter(col("rn") <= budget).drop("rn").as[Hit](org.apache.spark.sql.Encoders.product[Hit])
        assertSame(got, reference(s, kept, k), s"$rn/$cn searchTimeLimited($budget)")
        assert(timedOut == scored.exists(_ > budget), s"$rn/$cn timedOut($budget)")
      }
    }
  }

  test("a fresh reader opens in 3 jobs; a cold top-k runs in 2, its repeat in 2") {
    var s: Searcher = null
    val open = jobsOf { s = new Searcher(spark, clean); s.dictTable; s.gramsTable }
    // the postings and docs tables resolve with their known schemas
    val tables = jobsOf { s.postingsRaw; s.docs }
    val term = jobsOf(s.search(termQ, 10).collect())
    val repeat = jobsOf(s.search(termQ, 10).collect())
    val others = Seq[(String, () => DataFrame)](
      "or_plan" -> (() => s.searchPlan(orQ, 10)),
      "and" -> (() => s.search(andQ, 10)),
      "phrase" -> (() => s.search(phraseQ, 10)),
      "prefix" -> (() => s.search(prefixQ, 10))).map { case (n, run) => n -> jobsOf(run().collect()) }
    assert(open <= 3, s"open ran $open jobs")
    assert(tables == 0, s"resolving postings and docs ran $tables jobs")
    // the term stats and the winners' urls are driver-side point reads: a
    // cold top-k is its scoring query; a prefix also expands its terms
    assert(term <= 2, s"cold term ran $term jobs")
    assert(repeat <= 2, s"repeat term ran $repeat jobs")
    others.foreach { case (n, j) => assert(j <= (if (n == "prefix") 3 else 2), s"cold $n ran $j jobs") }
  }

  test("a small delete overlay loads with no job and equals the marker table's") {
    val s = new Searcher(spark, deleted)
    s.maxDoc // opens the reader: one stats read
    assert(jobsOf { s.deletedCount; s.deletedDocs } == 0)
    assert(s.deletedCount == Deletes.count(spark, deleted) && s.deletedCount > 0)
    val want = Deletes.deletedDocIds(spark, deleted, Some(Set(0, 1, 2, 3)))
    assert(s.deletedDocs.keySet == want.keySet &&
      want.forall { case (seg, a) => s.deletedDocs(seg).toSeq == a.toSeq })
  }

  test("collecting a top-k result starts no job") {
    val s = new Searcher(spark, clean)
    val top = s.search(orQ, 10)
    assert(jobsOf(top.collect()) == 0)
  }

  test("a WAND query on a reader with a delete overlay creates no broadcast of its own") {
    val sc = spark.sparkContext
    val s = new Searcher(spark, deleted)
    assert(s.deletedDocs.nonEmpty && !s.largeDeletes)
    s.search(orQ, 10).collect() // opens the reader, its overlay broadcast included
    val before = SparkInternals.broadcastValues(sc).keySet
    val got = s.search(BoolQ(List(Occur.Should -> TermQ(w(3)), Occur.Should -> TermQ(w(7)))), 10)
    val created = SparkInternals.broadcastValues(sc) -- before
    assert(got.collect().nonEmpty)
    // Spark's own broadcasts remain: task binaries and Hadoop configurations
    val engine = created.values.filter {
      case _: Array[Byte] | _: org.apache.spark.util.SerializableConfiguration => false
      case _ => true
    }
    assert(engine.isEmpty, s"the query broadcast ${engine.map(_.getClass.getName)}")
  }

  test("delete markers load in one job, a marker appended twice counted once") {
    import spark.implicits._
    val once = Deletes.deletedDocIds(spark, deleted)
    Deletes.deleteUrls(spark, deleted, pages.indices.filter(_ % 9 == 4).map(pages(_)._1).toDF("url"))
    var twice = Map.empty[Int, Array[Int]]
    assert(jobsOf { twice = Deletes.deletedDocIds(spark, deleted, Some(Set(0, 1, 2, 3))) } == 1)
    assert(twice.keySet == once.keySet && once.forall { case (s, a) => twice(s).toSeq == a.toSeq })
  }
}
