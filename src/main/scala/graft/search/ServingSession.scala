package graft.search

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.model.Hit

/** Resident SERVING session — the SearcherManager-style warm path that
  * amortizes Spark's ~0.3 s job-scheduling floor away from hot queries:
  * compressed posting rows for hot (field, term) keys are pinned in the
  * session (byte-capped LRU), collection stats are resolved once, and
  * term / boolean / Block-Max-WAND top-k then evaluate IN-SESSION over the
  * SAME cursors, scorers and collectors the distributed path ships to
  * executors (Leapfrog.segmentHits, Wand.wandSegment, Searcher.makeScorer)
  * — so warm results are identical to the cold plan's by construction,
  * and a warm term query costs decode + heap work only (no Spark job).
  *
  * Scale shape: this is the search-node serving model — a 1000-executor
  * cluster BUILDS the index; serving nodes pin the hot tail (Zipf: a few
  * thousand terms dominate query logs) and fall back to the distributed
  * plan for the cold tail. Pinned bytes are COMPRESSED posting rows (FOR
  * blocks + skip tables), so the default 256 MB cap holds ~10^8 postings.
  * A term whose rows exceed `maxTermBytes` is never pinned (stopword-scale
  * lists stay on the cluster path).
  *
  * Reference seam: SearcherManager.acquire + the hot query path
  * (Search/SearcherManager.cs); lifetime/refresh policy stays with
  * [[SearcherLifetimeManager]].
  */
/** NRT-aware serving: wraps [[graft.streaming.SearcherManager]] so the warm
  * session survives UNCHANGED commits (pinned rows retained across
  * acquire()s) and is rebuilt — pins dropped, stats re-resolved — exactly
  * when the index changed (append/merge/delete), the
  * SearcherManager.MaybeRefresh contract extended to the serving tier.
  */
final class ServingManager(spark: org.apache.spark.sql.SparkSession, indexPath: String,
                           maxCacheBytes: Long = 256L << 20,
                           maxTermBytes: Long = 64L << 20) {
  private val mgr = new graft.streaming.SearcherManager(spark, indexPath)
  @volatile private var session: ServingSession = _

  /** Current warm session; same instance while the index is unchanged. */
  def acquire(): ServingSession = synchronized {
    val changed = mgr.maybeRefresh()
    if (session == null || changed)
      session = new ServingSession(mgr.acquire(), maxCacheBytes, maxTermBytes)
    session
  }
}

final class ServingSession(val searcher: Searcher,
                           maxCacheBytes: Long = 256L << 20,
                           maxTermBytes: Long = 64L << 20) {

  private val spark = searcher.postingsRaw.sparkSession

  // ---- pinned state -----------------------------------------------------
  // LRU over (field, term) -> compressed rows across segments
  private val pinned = new java.util.LinkedHashMap[(String, String), Array[Wand.WandRow]](64, 0.75f, true)
  private var pinnedBytes = 0L
  private val statsCache = mutable.Map.empty[(String, String), (Long, Long)]
  private val absent = mutable.Set.empty[(String, String)] // known-absent keys

  private def rowBytes(r: Wand.WandRow): Long =
    r.docDeltas.length.toLong + r.tfs.length + r.lens.length + 64L * r.skips.length + 64L

  /** Pin posting rows + stats for `keys` — ONE Spark job for all misses.
    * Over-budget terms are recorded as unpinnable and left to the cluster
    * path. Returns the keys now served warm. */
  def warm(keys: Seq[(String, String)]): Set[(String, String)] = {
    import spark.implicits._
    val misses = keys.distinct.filterNot(k =>
      pinned.containsKey(k) || absent.contains(k))
    if (misses.nonEmpty) {
      statsCache ++= searcher.fieldTermStats(misses.toSet)
      val pred = misses.groupBy(_._1).map { case (f, ks) =>
        col("field") === f && col("term").isInCollection(ks.map(_._2))
      }.reduce(_ || _)
      val fetched = searcher.postingsRaw
        .filter(pred)
        .select("segmentId", "field", "term", "df", "docDeltas", "tfs", "lens", "skips")
        .as[Wand.WandRow]
        .collect()
        .groupBy(r => (r.field, r.term))
      misses.foreach { k =>
        fetched.get(k) match {
          case None => absent += k
          case Some(rows) =>
            val b = rows.map(rowBytes).sum
            if (b <= maxTermBytes) {
              pinned.put(k, rows)
              pinnedBytes += b
              evictOverBudget()
            } // else: stays cluster-path (never pinned)
        }
      }
    }
    keys.filter(k => pinned.containsKey(k)).toSet
  }

  private def evictOverBudget(): Unit = {
    val it = pinned.entrySet().iterator()
    while (pinnedBytes > maxCacheBytes && it.hasNext) {
      val e = it.next()
      pinnedBytes -= e.getValue.map(rowBytes).sum
      it.remove()
    }
  }

  def pinnedByteSize: Long = pinnedBytes

  // ---- full rows (positions included) for the warm PHRASE path ----------
  // separate LRU with its own budget of the same size: position streams are
  // larger than scoring rows, so phrase keys pin and evict independently of
  // term/bool keys instead of thrashing them
  private val pinnedFull = new java.util.LinkedHashMap[(String, String), Array[graft.model.PostingRow]](16, 0.75f, true)
  private var pinnedFullBytes = 0L

  private def fullRowBytes(r: graft.model.PostingRow): Long = {
    def len(a: Array[Byte]) = if (a == null) 0L else a.length.toLong
    len(r.docDeltas) + len(r.tfs) + len(r.positions) + len(r.lens) +
      len(r.payloads) + len(r.offsets) + 64L * r.skips.length + 64L
  }

  /** Pin FULL posting rows (positions included) + stats for `keys` — one
    * Spark job for all misses; over-budget terms stay on the cluster path. */
  def warmFull(keys: Seq[(String, String)]): Set[(String, String)] = {
    import spark.implicits._
    val misses = keys.distinct.filterNot(k =>
      pinnedFull.containsKey(k) || absent.contains(k))
    if (misses.nonEmpty) {
      statsCache ++= searcher.fieldTermStats(misses.toSet)
      val pred = misses.groupBy(_._1).map { case (f, ks) =>
        col("field") === f && col("term").isInCollection(ks.map(_._2))
      }.reduce(_ || _)
      val fetched = searcher.postingsRaw
        .filter(pred)
        .transform(graft.build.IndexBuilder.withPayloadsCol)
        .select("segmentId", "field", "term", "df", "ttf", "docDeltas", "tfs",
          "positions", "lens", "skips", "payloads", "offsets")
        .as[graft.model.PostingRow]
        .collect()
        .groupBy(r => (r.field, r.term))
      misses.foreach { k =>
        fetched.get(k) match {
          case None => absent += k
          case Some(rows) =>
            val b = rows.map(fullRowBytes).sum
            if (b <= maxTermBytes) {
              pinnedFull.put(k, rows)
              pinnedFullBytes += b
              val it = pinnedFull.entrySet().iterator()
              while (pinnedFullBytes > maxCacheBytes && it.hasNext) {
                val e = it.next()
                pinnedFullBytes -= e.getValue.map(fullRowBytes).sum
                it.remove()
              }
            }
        }
      }
    }
    keys.filter(k => pinnedFull.containsKey(k)).toSet
  }

  private def rowsOf(keys: Seq[(String, String)]): Array[Wand.WandRow] = {
    warm(keys)
    keys.distinct.flatMap(k => Option(pinned.get(k)).getOrElse(Array.empty[Wand.WandRow])).toArray
  }

  private def dropDeleted(hits: Iterator[Hit]): Iterator[Hit] = {
    val del = searcher.deletedDocs
    if (del.isEmpty) hits
    else hits.filter(h => !del.get(h.segmentId).exists(a =>
      java.util.Arrays.binarySearch(a, h.docId) >= 0))
  }

  private def topK(hits: Iterator[Hit], k: Int): Array[Hit] = {
    dropDeleted(hits).toArray.sorted(Searcher.HitRank).take(k)
  }

  // ---- warm query paths ---------------------------------------------------

  /** Warm BM25 term top-k — identical scoring to the cluster plan
    * (same makeScorer constants, same segmentHits walk). */
  def termTopK(field: String, term: String, k: Int): Array[Hit] =
    boolTopK(List((Occur.Must, field, term)), msm = 0, k = k)

  /** Warm boolean top-k over term clauses (MUST/SHOULD/MUST_NOT + minimum
    * should match) — Leapfrog.segmentHits evaluated in-session. */
  def boolTopK(clauses: List[(Occur.Value, String, String)], msm: Int, k: Int): Array[Hit] = {
    val specs = clauses.map { case (o, f, t) =>
      Leapfrog.ClauseSpec(o match {
        case Occur.Must => 0
        case Occur.Should => 1
        case Occur.MustNot => 2
      }, f, t)
    }.toArray
    val keys = specs.map(s => (s.field, s.term)).toSeq
    warm(keys)
    val stats = keys.flatMap(k0 => statsCache.get(k0).map(k0 -> _)).toMap
    if (specs.exists(s => s.occur == 0 && !stats.contains((s.field, s.term))))
      return Array.empty
    val hasMust = specs.exists(_.occur == 0)
    val shouldCount = specs.count(_.occur == 1)
    val needed = math.max(msm, if (!hasMust && shouldCount > 0) 1 else 0)
    if (needed > shouldCount && shouldCount > 0) return Array.empty
    if (!hasMust && shouldCount == 0) return Array.empty

    val scorers: Array[(Double, Int) => Double] = clauses.map { case (o, f, t) =>
      if (o == Occur.MustNot) null
      else stats.get((f, t)).map { case (df, ttf) =>
        searcher.makeScorer(f, df, 1f, 1d, ttf = ttf)
      }.orNull
    }.toArray
    val coords = Array.fill(specs.count(_.occur != 2) + 1)(1d)
    val rows = rowsOf(keys)
    val bySeg = rows.groupBy(_.segmentId)
    val hits = bySeg.toSeq.sortBy(_._1).iterator.flatMap { case (seg, ps) =>
      Leapfrog.segmentHits(seg, ps, specs, scorers,
        needed, searcher.mode == LuceneFloat, coords)
    }
    topK(hits, k)
  }

  /** Warm exact/sloppy PHRASE top-k — Leapfrog.phraseSegmentHits (the
    * distributed partition kernel) evaluated in-session over pinned FULL
    * posting rows; scoring identical to the cluster plan by construction.
    * `terms` carries (term, slot offset) pairs like PhraseQ. */
  def phraseTopK(field: String, terms: List[(String, Int)], k: Int,
                 slop: Int = 0): Array[Hit] = {
    val slots = terms.map { case (t, off) => (Set(t), off) }
    val keys = terms.map(t => (field, t._1))
    warmFull(keys)
    val stats = keys.flatMap(k0 => statsCache.get(k0).map(k0 -> _)).toMap
    Leapfrog.phrasePlan(searcher, field, slots, 1f, stats, 1d) match {
      case None => Array.empty
      case Some((groups, offsets, scorer)) =>
        val rows = keys.distinct.flatMap(k0 =>
          Option(pinnedFull.get(k0)).getOrElse(Array.empty[graft.model.PostingRow])).toArray
        val hits = rows.groupBy(_.segmentId).toSeq.sortBy(_._1).iterator.flatMap {
          case (seg, ps) => Leapfrog.phraseSegmentHits(seg, ps, groups, offsets, slop, scorer)
        }
        topK(hits, k)
    }
  }

  // ---- pinned term dictionary (the .tip-in-RAM analog) -------------------
  private val pinnedDicts = mutable.Map.empty[String, Array[String]]
  private var pinnedDictBytes = 0L

  /** Pin `field`'s sorted term dictionary in the session (ONE Spark job;
    * later prefix expansions are a driver-side binary search — Lucene keeps
    * the .tip term index memory-resident for the same reason). Returns
    * false, pinning nothing, if the dictionary would blow the session byte
    * budget — such fields stay on the cluster path. */
  def warmDict(field: String): Boolean = pinnedDicts.contains(field) || {
    import spark.implicits._
    // code-point order, NOT String's UTF-16 order: the cluster plans compare
    // terms as UTF8String binary (== code-point order), and the warm binary
    // searches must agree or supplementary-plane terms land on the wrong
    // side of range/prefix bounds
    val terms = searcher.dictionary(field).select("term").as[String].collect()
      .sorted(ServingSession.CpOrdering)
    val bytes = terms.foldLeft(0L)((a, t) => a + 40L + 2L * t.length)
    if (pinnedDictBytes + bytes > maxCacheBytes) false
    else { pinnedDicts(field) = terms; pinnedDictBytes += bytes; true }
  }

  /** Warm constant-score PREFIX top-k — rank-identical to the cluster
    * plan for ConstantScoreQ(PrefixQ(prefix), boost): expansion terms come
    * from the pinned dictionary (binary-searched lower bound, then the
    * startsWith run), hits are the distinct union of the expansions'
    * pinned postings at score = boost, ranked by the HitQueue tie-break.
    * Expansion terms too large to pin (per-term byte cap) make the query
    * unservable warm — that THROWS rather than silently dropping docs. */
  def prefixTopK(field: String, prefix: String, k: Int, boost: Float = 1f): Array[Hit] = {
    require(warmDict(field),
      s"dictionary for '$field' exceeds the session byte budget — use the cluster path")
    val dict = pinnedDicts(field)
    var lo = 0; var hi = dict.length
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (ServingSession.compareCp(dict(m), prefix) < 0) lo = m + 1 else hi = m
    }
    val terms = mutable.ArrayBuffer.empty[String]
    var i = lo
    while (i < dict.length && dict(i).startsWith(prefix)) { terms += dict(i); i += 1 }
    expansionTopK(field, terms.toSeq, k, boost)
  }

  /** Warm constant-score RANGE top-k — [lo, hi] bounds located by binary
    * search in the pinned sorted dictionary (null = unbounded, inclusivity
    * per flag, like RangeQ). */
  def rangeTopK(field: String, lo: String, hi: String, incLo: Boolean, incHi: Boolean,
                k: Int, boost: Float = 1f): Array[Hit] = {
    require(warmDict(field),
      s"dictionary for '$field' exceeds the session byte budget — use the cluster path")
    val dict = pinnedDicts(field)
    def lowerBound(key: String, strict: Boolean): Int = {
      var l = 0; var h = dict.length
      while (l < h) {
        val m = (l + h) >>> 1
        val cmp = ServingSession.compareCp(dict(m), key) // UTF8String order
        if (cmp < 0 || (strict && cmp == 0)) l = m + 1 else h = m
      }
      l
    }
    val from = if (lo == null) 0 else lowerBound(lo, strict = !incLo)
    val until = if (hi == null) dict.length else lowerBound(hi, strict = incHi)
    if (from >= until) return Array.empty
    expansionTopK(field, dict.slice(from, until).toSeq, k, boost)
  }

  /** Warm constant-score WILDCARD top-k — the pinned dictionary filtered by
    * the SAME anchored Java regex the cluster plan's rlike verifies
    * (Query.wildcardRegex), then the distinct union of the expansions'
    * pinned postings at score = boost. */
  def wildcardTopK(field: String, pattern: String, k: Int, boost: Float = 1f): Array[Hit] =
    regexExpansionTopK(field, Query.wildcardRegex(pattern), k, boost)

  /** Warm constant-score REGEXP (Java-dialect) top-k — anchored like the
    * cluster plan's `rlike("^" + re + "$")`. */
  def regexpTopK(field: String, re: String, k: Int, boost: Float = 1f): Array[Hit] =
    regexExpansionTopK(field, re, k, boost)

  /** Warm Lucene-RegExp-dialect top-k — the pinned dictionary decided
    * directly by the memoized span matcher (the cluster plan's gram/rlike
    * prunes are over-approximations; LuceneRegExp.matches DECIDES there
    * too, so the expansion sets agree exactly). */
  def luceneRegexpTopK(field: String, pattern: String, k: Int, boost: Float = 1f): Array[Hit] = {
    require(warmDict(field),
      s"dictionary for '$field' exceeds the session byte budget — use the cluster path")
    val ast = LuceneRegExp.parse(pattern)
    expansionTopK(field, pinnedDicts(field).iterator
      .filter(t => LuceneRegExp.matches(ast, t)).toSeq, k, boost)
  }

  private def regexExpansionTopK(field: String, re: String, k: Int,
                                 boost: Float): Array[Hit] = {
    require(warmDict(field),
      s"dictionary for '$field' exceeds the session byte budget — use the cluster path")
    // rlike semantics: find() over the anchored pattern == full match
    val p = java.util.regex.Pattern.compile("^" + re + "$")
    expansionTopK(field, pinnedDicts(field).iterator
      .filter(t => p.matcher(t).find()).toSeq, k, boost)
  }

  /** Distinct union of the expansion terms' pinned postings at score =
    * boost, ranked by the HitQueue tie-break — the in-session body of every
    * constant-score MultiTermQuery. Expansion terms too large to pin (the
    * per-term byte cap) make the query unservable warm — that THROWS rather
    * than silently dropping docs. */
  private def expansionTopK(field: String, terms: Seq[String], k: Int,
                            boost: Float): Array[Hit] = {
    if (terms.isEmpty) return Array.empty
    // the cluster's ConstantScoreTermBudget analog: an expansion this broad
    // belongs on the predicate-scan cluster path — THROW before collecting
    // a dictionary-sized in-list of posting rows to the driver
    require(terms.size <= ServingSession.MaxWarmExpansions,
      s"${terms.size} expansion terms exceed the warm budget " +
        s"(${ServingSession.MaxWarmExpansions}) — use the cluster path")
    val keys: Seq[(String, String)] = terms.map(t => (field, t))
    val served = warm(keys)
    val unservable = keys.filterNot(k0 => served(k0) || absent.contains(k0))
    require(unservable.isEmpty, "expansion terms exceed the per-term pin " +
      s"budget (cluster path): ${unservable.map(_._2).take(3).mkString(", ")}")
    val bd = boost.toDouble
    val seen = new java.util.HashSet[Long]()
    val hits = rowsOf(keys).iterator.flatMap { p =>
      val (docIds, _, _) = graft.codec.PostingsCodec.decodeDocs(p.df, p.docDeltas, p.tfs, p.lens)
      docIds.iterator
        .filter(d => seen.add((p.segmentId.toLong << 32) | (d & 0xffffffffL)))
        .map(d => Hit(p.segmentId, d, bd))
    }
    topK(hits, k)
  }

  /** Warm FUZZY top-k — rank-identical to the distributed FuzzyTopQ plan:
    * expansion terms come from the pinned dictionary (length band +
    * code-point Levenshtein, exact — the cluster path's gram/pigeonhole
    * prunes are performance-only), boosted with the FuzzyTermsEnum float
    * math (ed == 0 → 1f, else 1f - ed / min(candLen, qLen) in FLOAT
    * division), top-maxExpansions by (boost desc, term asc) — the
    * TopTermsRewrite bounded PQ — then evaluated as a SHOULD-disjunction in
    * term order over pinned postings with clause boost = boost * expansion
    * boost and the expansion-stats override (ttf = 0) the compile path
    * applies. Unpinnable expansions THROW (cluster path), never drop docs.
    */
  def fuzzyTopK(field: String, term: String, maxEdits: Int, maxExpansions: Int,
                k: Int, boost: Float = 1f): Array[Hit] = {
    require(warmDict(field),
      s"dictionary for '$field' exceeds the session byte budget — use the cluster path")
    val qLen = term.codePointCount(0, term.length)
    val cap = math.min(maxExpansions, Query.MaxClauseCount)
    val cands = mutable.ArrayBuffer.empty[(String, Float)]
    for (t <- pinnedDicts(field)) {
      val tLen = t.codePointCount(0, t.length)
      if (math.abs(tLen - qLen) <= maxEdits) {
        val ed = ServingSession.levenshtein(term, t)
        if (ed <= maxEdits) {
          val b = if (ed == 0) 1f else 1f - ed.toFloat / math.min(tLen, qLen).toFloat
          if (b > 0f) cands += ((t, b))
        }
      }
    }
    if (cands.isEmpty) return Array.empty
    // selection cut in the PLAN's (boost desc, term asc) order — term asc is
    // UTF8String binary order there, so compare code points here; clause
    // assembly then mirrors fuzzyExpand's driver-side sortBy(_._1) exactly
    val expanded = cands.sortWith { (x, y) =>
        x._2 > y._2 || (x._2 == y._2 && ServingSession.compareCp(x._1, y._1) < 0)
      }.take(cap)
      .sortBy(_._1) // clause assembly in term order, like fuzzyExpand
    val keys: Seq[(String, String)] = expanded.map(e => (field, e._1)).toSeq
    val served = warm(keys)
    val unservable = keys.filterNot(k0 => served(k0) || absent.contains(k0))
    require(unservable.isEmpty, "expansion terms exceed the per-term pin " +
      s"budget (cluster path): ${unservable.map(_._2).take(3).mkString(", ")}")
    val specs = expanded.map(e => Leapfrog.ClauseSpec(1, field, e._1)).toArray
    val scorers: Array[(Double, Int) => Double] = expanded.map { case (t, b) =>
      statsCache.get((field, t)).map { case (df, _) =>
        searcher.makeScorer(field, df, boost * b, 1d, ttf = 0L)
      }.orNull
    }.toArray
    val coords = Array.fill(expanded.size + 1)(1d)
    val rows = rowsOf(keys)
    val hits = rows.groupBy(_.segmentId).toSeq.sortBy(_._1).iterator.flatMap {
      case (seg, ps) =>
        Leapfrog.segmentHits(seg, ps, specs, scorers,
          1, searcher.mode == LuceneFloat, coords)
    }
    topK(hits, k)
  }

  /** Warm Block-Max-WAND OR top-k — Wand.wandSegment in-session with the
    * exact weights/norm-cache construction of Wand.searchOr. */
  def wandOrTopK(field: String, terms: List[String], k: Int): Array[Hit] = {
    val keys = terms.distinct.map((field, _))
    warm(keys)
    val stats: Map[String, (Long, Long)] =
      keys.flatMap(k0 => statsCache.get(k0).map(k0._2 -> _)).toMap
    val present = terms.filter(stats.contains)
    if (present.isEmpty) return Array.empty
    val bm25 = searcher.bm25
    val maxDoc = searcher.maxDoc
    val weights: Map[String, Float] = present.groupBy(identity).map { case (t, dup) =>
      t -> (bm25.idf(stats(t)._1, maxDoc) * (bm25.k1 + 1) * dup.size)
    }
    val cache = searcher.normCache(field)
    val termOrder: Map[String, Int] = present.distinct.zipWithIndex.toMap
    val del = searcher.deletedDocs
    val heap = Wand.newHeap(k)
    val rows = rowsOf(present.distinct.map((field, _)))
    rows.groupBy(_.segmentId).toSeq.sortBy(_._1).foreach { case (seg, ps) =>
      val cursors = ps.sortBy(p => termOrder(p.term))
        .map(p => new Wand.TermCursor(p, weights(p.term), cache))
      Wand.wandSegment(seg, cursors, k, heap, del.getOrElse(seg, Array.empty[Int]))
    }
    heap.iterator().asScala.toArray.sorted(Searcher.HitRank).take(k)
  }
}

object ServingSession {
  /** Expansion-count budget for warm multi-term queries — the
    * ConstantScoreAutoRewrite cutover analog (Searcher.ConstantScoreTermBudget). */
  val MaxWarmExpansions = 4096

  /** Code-point comparison == UTF8String binary order — what every cluster
    * plan uses for term comparisons. String.compareTo (UTF-16 code units)
    * disagrees for supplementary-plane vs U+E000..U+FFFF terms. */
  def compareCp(a: String, b: String): Int = {
    var i = 0; var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  val CpOrdering: Ordering[String] = (a: String, b: String) => compareCp(a, b)

  /** Plain code-point Levenshtein (no transpositions) — the driver-side
    * twin of Spark's `levenshtein` function used by the distributed fuzzy
    * expansion, so warm and cluster candidate sets agree exactly. */
  private[search] def levenshtein(a: String, b: String): Int = {
    val s = a.codePoints().toArray
    val t = b.codePoints().toArray
    if (s.isEmpty) return t.length
    if (t.isEmpty) return s.length
    var prev = Array.tabulate(t.length + 1)(identity)
    var cur = new Array[Int](t.length + 1)
    var i = 1
    while (i <= s.length) {
      cur(0) = i
      var j = 1
      while (j <= t.length) {
        val cost = if (s(i - 1) == t(j - 1)) 0 else 1
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), prev(j - 1) + cost)
        j += 1
      }
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    prev(t.length)
  }
}
