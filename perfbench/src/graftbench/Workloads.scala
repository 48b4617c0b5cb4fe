package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.analysis.StandardAnalyzer
import graft.build.{CheckIndex, Deletes, IndexBuilder}
import graft.merge.{MergeJob, TieredMergePolicy}
import graft.oracle.OracleIndex
import graft.pipeline.{Dedup, PipelineMetrics}
import graft.search._
import graft.streaming.StreamingIndexer

object Workloads {
  val Analyzer = "standard"
  val TopK = 10

  def byName(name: String): Option[Workload] = name match {
    case "ingest" => Some(new Ingest)
    case "serve" => Some(new Serve)
    case _ => None
  }

  /** Cold top-k rows as (url, score, segmentId, docId). */
  def rows(df: DataFrame): Vector[(String, Double, Int, Int)] =
    df.collect().toVector.map((r: Row) => (r.getString(0), r.getDouble(1), r.getInt(2), r.getInt(3)))

  /** Two top-k lists of differently segmented indexes agree: the same
    * score sequence, and the same urls above the k-th score (ties at the
    * cut may order differently because global doc order differs). */
  def sameTopK(a: Vector[(String, Double, Int, Int)], b: Vector[(String, Double, Int, Int)]): Boolean =
    a.map(_._2) == b.map(_._2) && {
      val cut = if (a.isEmpty) 0.0 else a.last._2
      a.filter(_._2 > cut).map(_._1).toSet == b.filter(_._2 > cut).map(_._1).toSet
    }

  def p50(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
}

import Workloads._

/** The batch write path, run as a batch job runs: in a fresh JVM, so the op
  * pays the JIT and code-generation warm-up every real run pays. One op
  * curates the crawl shard (near-duplicate pairs, then duplicate clusters
  * over planted page-version chains), bulk-builds an index of every page
  * and splits it into twice the segments. The clusters label the pages and
  * filter nothing, so the build input does not depend on whether
  * clustering succeeds. */
final class Ingest extends Workload {
  val name = "ingest"
  val Docs = 5000
  val Segments = 4
  /** 96 strata put the longest planted chain well past a diameter of 20,
    * so it stays past 20 when LSH misses a link of it. */
  val Chains = 96
  val (tNum, tDen) = (7, 10)
  private val tag = "ingest"
  private var pages: Vector[(String, String)] = _
  private var planted: Gen#Planted = _
  private var inputBytes = 0L
  private var indexBytes = 0L
  /** (source, split) of the op, kept for the checks. */
  private var last: Option[(String, String)] = None
  private var pairs: Array[(Long, Long)] = Array.empty
  private var clusters: Option[Array[(Long, Long)]] = None

  def sampleTexts(ctx: Ctx): Seq[String] = pages.take(4000).map(_._2)

  def setup(ctx: Ctx): Unit = {
    val corpus = ctx.gen.corpus(tag, Docs)
    planted = ctx.gen.plantedChains(Docs, Chains, tNum, tDen)
    pages = corpus ++ planted.docs.map { case (id, t) => ctx.gen.url(tag, id) -> t }
    inputBytes = pages.map { case (u, t) => u.getBytes("UTF-8").length.toLong + t.getBytes("UTF-8").length }.sum
  }

  def prepare(ctx: Ctx): Unit = ()

  private def cycle(ctx: Ctx, src: String, dst: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val byId = pages.zipWithIndex.map { case ((_, t), i) => (i.toLong, t) }.toDF("doc_id", "text")
    val p = ctx.tracer.span("dedup.pairs") {
      ctx.timed("dedup.pairs") {
        Dedup.nearDupPairs(byId, "doc_id", "text", k = 3, numHashes = 24, rowsPerBand = 3,
          tNum = tNum, tDen = tDen).localCheckpoint()
      }
    }
    pairs = p.as[(Long, Long)].collect()
    ctx.sample("dedup.dropped_rows", PipelineMetrics.lastDrops("lshCandidates").rows.toDouble)
    // clustering is its own operation: a throw (a chain longer than
    // dupClusters' round limit) fails it alone and the ingest goes on
    clusters = ctx.out.attempt("dupClusters") {
      ctx.tracer.span("dedup.clusters") {
        ctx.timed("dedup.clusters")(Dedup.dupClusters(p).as[(Long, Long)].collect())
      }
    }
    ctx.tracer.span("build") {
      ctx.timed("build") {
        IndexBuilder.build(spark, ctx.pages(pages), src,
          IndexBuilder.BuildConfig(Segments, Analyzer, groupSize = Segments))
      }
    }
    indexBytes = ctx.dirBytes(src)
    ctx.tracer.span("merge.split") {
      ctx.timed("split")(MergeJob.splitIndex(spark, src, dst, 2 * Segments))
    }
  }

  /** Exactly one op, whatever the window: it is the cold op a batch job
    * pays, and a second, JIT-warm op would be a different measurement. */
  def run(ctx: Ctx, deadline: Long): Unit = {
    val (src, dst) = (ctx.path("ingest/src"), ctx.path("ingest/split"))
    ctx.op("ingest")(cycle(ctx, src, dst))
    last = Some((src, dst))
  }

  def check(ctx: Ctx): Unit = {
    // pairs clear the threshold exactly; the planted pairs are found;
    // clusters are the connected components of the pairs, labelled by
    // their minimum id
    val text = pages.zipWithIndex.map { case ((_, t), i) => i.toLong -> t }.toMap
    val under = pairs.filterNot { case (a, b) => Gen.jaccardAtLeast(text(a), text(b), 3, tNum, tDen) }
    ctx.out.check("pairs over threshold", under.isEmpty, s"${under.length} pairs under the threshold")
    val found = pairs.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val recall = planted.truth.count(found.contains).toDouble / math.max(planted.truth.size, 1)
    ctx.layer("dedup.planted_recall") = recall
    ctx.layer("dedup.pairs") = pairs.length.toDouble
    ctx.out.check("planted recall", recall >= 0.9, f"recall $recall%.3f")
    clusters.foreach { cs =>
      val parent = mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.toSeq.map(x => x -> find(x)).toMap
      ctx.out.check("clusters", cs.toMap == want, "labels differ from the components of the pairs")
    }
    last.foreach { case (src, dst) =>
      val built = CheckIndex.run(ctx.spark, src)
      ctx.layer("build.segments") = built.segments.toDouble
      ctx.out.check("checkindex build", built.ok && built.docs == pages.size && built.segments == Segments,
        s"ok=${built.ok} docs=${built.docs} (want ${pages.size}) segments=${built.segments} ${built.violations.take(3)}")
      val rep = CheckIndex.run(ctx.spark, dst)
      ctx.out.check("checkindex split", rep.ok && rep.docs == pages.size && rep.segments == 2 * Segments,
        s"ok=${rep.ok} docs=${rep.docs} (want ${pages.size}) segments=${rep.segments} ${rep.violations.take(3)}")
      // split == source on a seeded query sample
      val (sa, sb) = (new Searcher(ctx.spark, src), new Searcher(ctx.spark, dst))
      ctx.gen.queryUniverse(pages, 8).filter(q => Set("term", "and")(q.family)).foreach { q =>
        val (ra, rb) = (rows(sa.search(q.query, TopK)), rows(sb.search(q.query, TopK)))
        ctx.out.check(s"split==source ${q.query}", sameTopK(ra, rb), s"$ra vs $rb")
      }
    }
  }

  def layers(ctx: Ctx, spans: SpanView): Unit = {
    val build = spans.cost("build")
    val n = math.max(spans.count("build"), 1)
    ctx.layer ++= Seq(
      "build.s" -> spans.medianS("build"),
      "build.jobs" -> build.jobs.toDouble / n,
      "build.shuffle_write_bytes" -> build.shuffleWrite.toDouble / n,
      "build.spill_bytes" -> build.spill.toDouble / n,
      "build.task_skew" -> build.skew,
      "build.bytes_written" -> build.bytesWritten.toDouble / n,
      "merge.split_s" -> spans.medianS("merge.split"),
      "merge.split_jobs" -> spans.perCall("merge.split")(_.jobs.toDouble),
      "merge.split_shuffle_bytes" -> spans.perCall("merge.split")(_.shuffleWrite.toDouble),
      "merge.bytes_rewritten" -> spans.perCall("merge.split")(_.bytesWritten.toDouble),
      "dedup.pairs_s" -> p50(ctx.samples.getOrElse("dedup.pairs", Nil)),
      "dedup.clusters_s" -> p50(ctx.samples.getOrElse("dedup.clusters", Nil)),
      "dedup.clusters_jobs" -> spans.perCall("dedup.clusters")(_.jobs.toDouble),
      "dedup.dropped_rows" -> ctx.samples.getOrElse("dedup.dropped_rows", Nil).sum)
  }

  def workloadMetrics(ctx: Ctx): Seq[(String, Double)] = {
    val dedupS = ctx.samples.getOrElse("dedup.pairs", Nil).sum + ctx.samples.getOrElse("dedup.clusters", Nil).sum
    val ops = ctx.samples.getOrElse("dedup.pairs", Nil).size
    ctx.detail("planted_chain_lengths") = planted.chains.map(_.size).sorted.reverse.take(5)
    Seq(
      "build_docs_per_s" -> pages.size / p50(ctx.samples.getOrElse("build", Nil)),
      "split_docs_per_s" -> pages.size / p50(ctx.samples.getOrElse("split", Nil)),
      "index_bytes_per_input_byte" -> indexBytes.toDouble / inputBytes,
      "dedup_docs_per_s" -> (if (dedupS > 0) ops * pages.size / dedupS else 0.0))
  }
}

/** The serving path of a long-running process. A pre-built index is
  * queried by a seeded Zipf log: first the 16 most popular distinct queries
  * run once each, cold, through the Searcher; then for 40 % of the window
  * the log's pinned head replays warm through the ServingSession; then
  * writes run beside the reads — a fixed number of update rounds of url
  * updates, deletes and new pages, a tiered merge when the policy fires, a
  * refresh of the ServingManager, a re-warm of the hot set and probe
  * queries that must see the write. Only the warm phase depends on the
  * window, so every run has the same cold queries and rounds and its op
  * tail is the same rank of the same set. */
final class Serve extends Workload {
  val name = "serve"
  val Docs = 1500
  val Segments = 4
  val Universe = 3000
  val Head = 32
  /** Two turns of every family. */
  val ColdQueries = 16
  /** The first few cold queries also run a second time. */
  val ColdRepeats = 3
  val LogLength = 50000
  val PerRound = 60
  val Rounds = 1
  val HotTerms = 30
  /** Fires on a round's two small appended segments. */
  val policy = new TieredMergePolicy(segsPerTier = 2.0, maxMergeAtOnce = 4, floorSegmentDocs = 500L)
  private val tag = "serve"
  private var docs: Vector[(String, String)] = _
  private var idx: String = _
  private var mgr: ServingManager = _
  private var searcher: Searcher = _
  private var session: ServingSession = _
  private var universe: Vector[Gen#LogQuery] = _
  private var stream: Vector[Gen#Round] = _
  private var expectedLive = 0L
  private var mergedDocs = 0L
  private val coldResults = mutable.LinkedHashMap.empty[Int, Vector[(String, Double, Int, Int)]]
  private val warmResults = mutable.LinkedHashMap.empty[Int, Vector[(Int, Int, Double)]]

  def sampleTexts(ctx: Ctx): Seq[String] = docs.map(_._2)

  def setup(ctx: Ctx): Unit = {
    docs = ctx.gen.corpus(tag, Docs)
    idx = ctx.path("serve-index")
    IndexBuilder.build(ctx.spark, ctx.pages(docs), idx,
      IndexBuilder.BuildConfig(Segments, Analyzer, groupSize = Segments))
    mgr = new ServingManager(ctx.spark, idx)
    session = ctx.timed("search.open") {
      val s = mgr.acquire()
      s.searcher.maxDoc
      s
    }
    searcher = session.searcher
  }

  private def runCold(q: Gen#LogQuery): Vector[(String, Double, Int, Int)] = rows(q.family match {
    case "or_plan" => searcher.searchPlan(q.query, TopK)
    case "or_wand" => searcher.searchWand(q.query, TopK)
    case _ => searcher.search(q.query, TopK)
  })

  private def warmFamily(f: String): String = f match {
    case "or_plan" | "or_wand" => "wand_or"
    case other => other
  }

  private def runWarm(q: Gen#LogQuery): Array[graft.model.Hit] = {
    val f = searcher.defaultField
    q.family match {
      case "term" => session.termTopK(f, q.terms.head, TopK)
      case "or_plan" | "or_wand" => session.wandOrTopK(f, q.terms, TopK)
      case "and" => session.boolTopK(q.terms.map(t => (Occur.Must, f, t)), 0, TopK)
      case "phrase" =>
        val PhraseQ(ts, _, _) = q.query
        session.phraseTopK(f, ts, TopK)
      case "prefix" => session.prefixTopK(f, q.terms.head, TopK)
      case "fuzzy" => session.fuzzyTopK(f, q.terms.head, 2, 50, TopK)
      case "wildcard" => session.wildcardTopK(f, q.terms.head, TopK)
    }
  }

  def prepare(ctx: Ctx): Unit = {
    universe = ctx.gen.queryUniverse(docs, Universe)
    stream = ctx.gen.updateStream(tag, Docs, Rounds, PerRound)
    expectedLive = Docs
    val f = searcher.defaultField
    val head = universe.take(Head)
    // pin the head: postings rows for term-shaped keys, full rows for
    // phrases, the dictionary for expansions; one pass then pins what the
    // expansions reach
    ctx.timed("serving.warm") {
      ctx.tracer.span("serving.warm") {
        val keys = head.filter(q => Set("term", "or_plan", "or_wand", "and")(q.family))
          .flatMap(_.terms).distinct.map(t => (f, t))
        val pinned = session.warm(keys)
        val phraseKeys = head.filter(_.family == "phrase").flatMap(_.terms).distinct.map(t => (f, t))
        val pinnedFull = session.warmFull(phraseKeys)
        session.warmDict(f)
        head.foreach(runWarm)
        ctx.layer("serving.pinned_key_ratio") =
          (pinned.size + pinnedFull.size).toDouble / math.max(keys.size + phraseKeys.size, 1)
      }
    }
    ctx.layer("serving.pinned_bytes") = session.pinnedByteSize.toDouble
    // untimed replays for 3 s let the JIT compile the warm paths before
    // the window
    val until = System.nanoTime() + 3000000000L
    while (System.nanoTime() < until) head.foreach(runWarm)
  }

  def run(ctx: Ctx, deadline: Long): Unit = {
    val window = deadline - System.nanoTime()
    val log = ctx.gen.queryLog(Universe, LogLength)
    // the most popular queries first, each once
    universe.take(ColdQueries).zipWithIndex.foreach { case (q, j) =>
      ctx.op("cold") {
        ctx.tracer.span(s"search.cold.${q.family}") {
          ctx.timed(s"cold.${q.family}") { coldResults(q.rank) = runCold(q) }
        }
      }
      // a second cold run of the same query on the same reader: the
      // reader's term-stats memo is filled now
      if (j < ColdRepeats) {
        ctx.sample("cold.first", ctx.samples(s"cold.${q.family}").last)
        ctx.op("cold") {
          ctx.tracer.span(s"search.cold.${q.family}") { ctx.timed("cold.repeat")(runCold(q)) }
        }
      }
    }
    val warmUntil = System.nanoTime() + window * 2 / 5
    var i = 0
    while (System.nanoTime() < warmUntil) {
      val rank = log(i % log.length)
      i += 1
      if (rank < Head) {
        val q = universe(rank)
        val fam = warmFamily(q.family)
        ctx.op("warm") {
          ctx.tracer.span(s"serving.$fam") {
            val hits = ctx.timed(s"warm.$fam")(runWarm(q))
            if (!warmResults.contains(rank))
              warmResults(rank) = hits.toVector.map(h => (h.segmentId, h.docId, h.score))
          }
        }
      }
    }
    stream.foreach(r => ctx.op("round")(round(ctx, r)))
  }

  /** One write round, timed from its first write to the probe that sees it. */
  private def round(ctx: Ctx, r: Gen#Round): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val f = IndexBuilder.DefaultField
    val hot = (50 until 50 + HotTerms).map(i => (f, ctx.gen.vocab(i)))
    val id = (i: Int, v: Int) => ctx.gen.idToken(tag, i, v)
    // probes: (token, expected hits) — an updated page's new version is live
    // and its old one hidden, a deleted page is hidden, a new one live
    val probes = r.updates.take(2).flatMap { case (i, _) => Seq(id(i, r.round + 1) -> 1, id(i, 0) -> 0) } ++
      r.deletes.take(2).map(i => id(i, 0) -> 0) ++ r.added.take(2).map { case (i, _) => id(i, 0) -> 1 }
    val before = segments(ctx)
    val t0 = System.nanoTime()
    ctx.tracer.span("build.delete") {
      ctx.timed("build.delete") {
        Deletes.deleteUrls(spark, idx, (r.updates.map(_._1) ++ r.deletes).map(ctx.gen.url(tag, _)).toDF("url"))
      }
    }
    ctx.tracer.span("streaming.append") {
      ctx.timed("streaming.append") {
        StreamingIndexer.appendBatch(spark,
          ctx.pages((r.updates ++ r.added).map { case (i, t) => ctx.gen.url(tag, i) -> t }),
          idx, Analyzer, segmentsPerBatch = 2, batchId = r.round)
      }
    }
    val merges = ctx.tracer.span("merge.policy") {
      ctx.timed("merge.policy")(MergeJob.mergeToPolicy(spark, idx, policy))
    }
    ctx.sample("merge.merges", merges.toDouble)
    val s = ctx.tracer.span("streaming.refresh")(ctx.timed("streaming.refresh")(mgr.acquire()))
    ctx.tracer.span("serving.rewarm") {
      ctx.timed("serving.rewarm")(s.warm(hot ++ probes.map(p => (f, p._1))))
    }
    // the first query on a refreshed session also loads its delete overlay
    probes.zipWithIndex.foreach { case ((tok, want), j) =>
      val t1 = System.nanoTime()
      val got = ctx.tracer.span("update.probe")(s.termTopK(f, tok, TopK)).length
      val now = System.nanoTime()
      ctx.sample("update.query", (now - t1) / 1e9)
      if (j == 0) ctx.sample("update.visible", (now - t0) / 1e9)
      ctx.out.check(s"probe $tok", got == want, s"round ${r.round}: $tok has $got hits, want $want")
    }
    hot.foreach { case (_, t) =>
      val t1 = System.nanoTime()
      ctx.tracer.span("update.query")(s.termTopK(f, t, TopK))
      ctx.sample("update.query", (System.nanoTime() - t1) / 1e9)
    }
    expectedLive += r.added.size - r.deletes.size
    if (merges > 0) {
      val after = segments(ctx)
      mergedDocs += before.filter { case (seg, _) => !after.contains(seg) }.values.sum
    }
  }

  private def segments(ctx: Ctx): Map[Int, Long] = {
    val spark = ctx.spark
    import spark.implicits._
    spark.read.parquet(IndexBuilder.statsPath(spark, idx))
      .filter(org.apache.spark.sql.functions.col("field") === IndexBuilder.DefaultField)
      .select("segmentId", "maxDoc").as[(Int, Long)].collect().toMap
  }

  def check(ctx: Ctx): Unit = {
    val rep = CheckIndex.run(ctx.spark, idx)
    ctx.out.check("checkindex", rep.ok, s"${rep.violations.take(3)}")
    val live = mgr.acquire().searcher
    val n = live.count(TermQ(ctx.gen.corpusToken(tag)))
    ctx.out.check("live doc count", n == expectedLive, s"$n live docs, want $expectedLive")
    ctx.layer("streaming.live_segments") = live.liveSegments.size.toDouble
    // warm == cold for every head query that ran both ways; the warm OR
    // path is WAND, so an OR query compares with its cold WAND result
    val both = warmResults.keys.filter(coldResults.contains).toSeq.sorted
      .filter(r => universe(r).family != "or_plan")
    both.foreach { rank =>
      val q = universe(rank)
      val cold = coldResults(rank)
      ctx.out.check(s"warm==cold ${q.query}",
        warmResults(rank) == cold.map(r => (r._3, r._4, r._2)), s"${warmResults(rank)} vs $cold")
    }
    ctx.detail("warm_cold_compared") = both.size
    // rank and score identity with the single-JVM oracle on the cold
    // results (all taken before the first write)
    val oracle = new OracleIndex(docs, Segments, StandardAnalyzer)
    val sample = coldResults.keys.toSeq.sorted.filter(r => universe(r).family != "fuzzy")
    sample.foreach { rank =>
      val q = universe(rank)
      val o = oracle.search(q.query, TopK).map(h => (h.key, h.score)).toList
      val s = coldResults(rank).map(r => (r._1, r._2.toFloat)).toList
      ctx.out.check(s"oracle ${q.query}", o == s, s"oracle=$o spark=$s")
    }
    ctx.detail("oracle_compared") = sample.size
  }

  def layers(ctx: Ctx, spans: SpanView): Unit = {
    val coldSpans = Gen.Families.flatMap(f => spans.named(s"search.cold.$f"))
    val cold = spans.cost(coldSpans)
    val nCold = math.max(coldSpans.size, 1)
    Gen.Families.foreach { f =>
      ctx.layer(s"search.cold.${f}_p50_ms") = 1000 * p50(ctx.samples.getOrElse(s"cold.$f", Nil))
    }
    val warmFams = Seq("term", "and", "wand_or", "phrase", "prefix", "fuzzy", "wildcard")
    warmFams.foreach { f =>
      ctx.layer(s"serving.${f}_p50_us") = 1e6 * p50(ctx.samples.getOrElse(s"warm.$f", Nil))
    }
    val warmSpans = warmFams.flatMap(f => spans.named(s"serving.$f"))
    ctx.layer ++= Seq(
      "search.open_s" -> p50(ctx.samples.getOrElse("search.open", Nil)),
      "search.cold.jobs_per_query" -> cold.jobs.toDouble / nCold,
      "search.cold.stages_per_query" -> cold.stages.toDouble / nCold,
      "search.cold.task_ms_per_query" -> 1000 * cold.taskS / nCold,
      "search.cold.driver_only_ms_per_query" -> 1000 * cold.driverOnlyS / nCold,
      "search.cold.first_ms" -> 1000 * p50(ctx.samples.getOrElse("cold.first", Nil)),
      "search.cold.repeat_ms" -> 1000 * p50(ctx.samples.getOrElse("cold.repeat", Nil)),
      "serving.warm_s" -> p50(ctx.samples.getOrElse("serving.warm", Nil)),
      "serving.warm_jobs" -> spans.perCall("serving.warm")(_.jobs.toDouble),
      "serving.jobs_per_query" ->
        (if (warmSpans.isEmpty) 0.0 else spans.cost(warmSpans).jobs.toDouble / warmSpans.size),
      "build.delete_s" -> p50(ctx.samples.getOrElse("build.delete", Nil)),
      "merge.policy_s" -> p50(ctx.samples.getOrElse("merge.policy", Nil)),
      "merge.policy_merges" -> ctx.samples.getOrElse("merge.merges", Nil).sum,
      "streaming.append_s" -> p50(ctx.samples.getOrElse("streaming.append", Nil)),
      "streaming.append_jobs" -> spans.perCall("streaming.append")(_.jobs.toDouble),
      "streaming.refresh_s" -> p50(ctx.samples.getOrElse("streaming.refresh", Nil)))
  }

  def workloadMetrics(ctx: Ctx): Seq[(String, Double)] = {
    def all(kind: String) = Seq(s"untraced/$kind", s"traced/$kind").flatMap(k => ctx.samples.getOrElse(k, Nil))
    val (cold, warm) = (all("cold"), all("warm"))
    val q = ctx.samples.getOrElse("update.query", Nil).toSeq
    val (cp, ct) = if (cold.isEmpty) (0.5, 0.0) else Stats.tail(cold)
    val (wp, wt) = if (warm.isEmpty) (0.5, 0.0) else Stats.tail(warm)
    val (qp, qt) = if (q.isEmpty) (0.5, 0.0) else Stats.tail(q)
    ctx.detail("cold_tail_pct") = 100 * cp
    ctx.detail("warm_tail_pct") = 100 * wp
    ctx.detail("update_query_tail_pct") = 100 * qp
    val policyS = ctx.samples.getOrElse("merge.policy", Nil).sum
    Seq("cold_p50_ms" -> 1000 * p50(cold), "cold_tail_ms" -> 1000 * ct,
      "warm_p50_us" -> 1e6 * p50(warm), "warm_tail_us" -> 1e6 * wt,
      "update_visible_p50_s" -> p50(ctx.samples.getOrElse("update.visible", Nil)),
      "update_query_p50_ms" -> 1000 * p50(q), "update_query_tail_ms" -> 1000 * qt,
      "merge_docs_per_s" -> (if (policyS > 0) mergedDocs / policyS else 0.0))
  }
}
