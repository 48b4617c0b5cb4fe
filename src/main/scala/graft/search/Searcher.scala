package graft.search

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.analysis.Analyzers
import graft.build.IndexBuilder
import graft.codec.{PostingsCodec, SmallFloat}
import graft.model._

/** Scoring modes:
  *  - LuceneFloat: bit-exact reference semantics — float math, doc length
  *    quantized through the byte315 norm byte (BM25Similarity.cs). Matches the
  *    in-repo oracle float-for-float.
  *  - ExactDouble: unquantized double-precision BM25 — the mode whose ranking
  *    an ANSI-SQL oracle (DuckDB) can replicate exactly.
  */
sealed trait ScoringMode extends Serializable
case object LuceneFloat extends ScoringMode
case object ExactDouble extends ScoringMode

/** Pluggable similarity (the Similarity seam,
  * /root/reference/src/Lucene.Net.Core/Search/Similarities/Similarity.cs):
  *  - Bm25Sim: BM25Similarity (coord = 1, queryNorm = 1 — BM25Similarity.cs
  *    :338-343 ignores queryNorm; Similarity.Coord returns 1f).
  *  - TfIdfSim: TFIDF/DefaultSimilarity — the reference ENGINE DEFAULT
  *    (Search/IndexSearcher.cs:89): tf = sqrt(freq), idf = ln(N/(df+1)) + 1,
  *    lengthNorm = byte315(1/sqrt(len)), queryNorm = 1/sqrt(ssw),
  *    coord = overlap/maxOverlap, score = coord * Σ (tf·idf²·boost·qn·norm)
  *    (DefaultSimilarity.cs:70-156, TFIDFSimilarity.cs:707-770,
  *    BooleanScorer2.cs:348-353 sum-then-coord order).
  */
sealed trait SimilarityKind extends Serializable
case object Bm25Sim extends SimilarityKind
case object TfIdfSim extends SimilarityKind

/** LM Dirichlet-prior smoothing — the third similarity behind the seam
  * (/root/reference/src/Lucene.Net.Core/Search/Similarities/
  * LMDirichletSimilarity.cs): score = boost * (ln(1 + tf/(mu*p(t|C))) +
  * ln(mu/(dl+mu))), clipped at 0; p(t|C) = (ttf+1)/(sumTotalTermFreq+1)
  * (LMSimilarity.DefaultCollectionModel, LMSimilarity.cs:164-166); default
  * mu = 2000. Coord and queryNorm are identity (SimilarityBase inherits
  * Similarity's 1f defaults). Multi-term composites (phrase/span) sum one
  * per-term score at the shared freq, each clipped individually —
  * MultiSimilarity.MultiSimScorer semantics.
  */
final case class LmDirichletSim(mu: Float = 2000f) extends SimilarityKind

/** LM Jelinek-Mercer smoothing (Search/Similarities/
  * LMJelinekMercerSimilarity.cs:56-58): score = boost * (float)ln(1 +
  * ((1-lambda)*tf/dl) / (lambda*p(t|C))) — always positive, no clip; same
  * collection model, coord/queryNorm identity, MultiSimScorer sum for
  * composites. lambda defaults to 0.5 (exact in binary, so float and
  * double twins agree on the constant).
  */
final case class LmJelinekMercerSim(lambda: Float = 0.5f) extends SimilarityKind

/** SweetSpotSimilarity (Lucene.Net.Misc/Misc/SweetSpotSimilarity.cs:
  * 95-175): DefaultSimilarity with a plateau lengthNorm —
  * 1/sqrt(steep*(|len-min| + |len-max| - (max-min)) + 1) — and the
  * baselineTf tf function ((x<=min) ? base : sqrt(x + base^2 - min), 0 at
  * 0). Defaults degrade to TFIDF exactly (min=max=1, steep=0.5, tf 0/0).
  * Inherits TFIDF's idf, coord and queryNorm (it extends
  * DefaultSimilarity). */
final case class SweetSpotSim(lnMin: Int = 1, lnMax: Int = 1, steep: Float = 0.5f,
                              tfBase: Float = 0f, tfMin: Float = 0f) extends SimilarityKind

/** DFR (divergence from randomness) similarity, the I(n)L2 member:
  * BasicModelIn + AfterEffectL + NormalizationH2(c)
  * (Search/Similarities/DFRSimilarity.cs:107-111, BasicModelIn.cs,
  * AfterEffectL.cs:34, NormalizationH2.cs:53). Same byte315 norm table as
  * every SimilarityBase subclass (SimilarityBase.cs:232-239). */
final case class DfrInL2Sim(c: Float = 1f) extends SimilarityKind

/** Information-based similarity, the LL-DF-H2 member: DistributionLL +
  * LambdaDF + NormalizationH2(c) (Search/Similarities/IBSimilarity.cs:
  * 97-100, DistributionLL.cs:39, LambdaDF.cs:34). */
final case class IbLlSim(c: Float = 1f) extends SimilarityKind

/** The FULL DFR framework (Search/Similarities/DFRSimilarity.cs:107-111):
  * any BasicModel in {be,d,g,if,in,ine,p} × AfterEffect in {none,b,l} ×
  * Normalization in {none,h1,h2,h3,z}. `c` is the normalization's parameter
  * (c for h2 default 1; mu for h3, reference default 800; z for z,
  * reference default 0.3; ignored by none/h1). [[DfrInL2Sim]] ==
  * DfrSim("in","l","h2"). Composite (phrase/multi-term) weights follow
  * MultiSimilarity.MultiSimScorer (MultiSimilarity.cs:90-99): one sub-score
  * per term's (df, ttf), summed in float. */
final case class DfrSim(basicModel: String, afterEffect: String,
                        normalization: String, c: Float = 1f) extends SimilarityKind

/** The FULL IB framework (Search/Similarities/IBSimilarity.cs:97-100):
  * Distribution in {ll,spl} × Lambda in {df,ttf} × Normalization (same
  * catalog and parameter as [[DfrSim]]). [[IbLlSim]] ==
  * IbSim("ll","df","h2"). */
final case class IbSim(distribution: String, lambda: String,
                       normalization: String, c: Float = 1f) extends SimilarityKind

/** MultiSimilarity (Search/Similarities/MultiSimilarity.cs): score = the
  * float SUM of the sub-similarities' scores for the same (tf, docLen)
  * (MultiSimScorer:90-99); queryNorm and coord stay at the base Similarity
  * defaults (1). Composite (phrase/span) idf overrides use the top-level
  * formula — a documented divergence from per-sub IdfExplain; term queries
  * are exact. */
final case class MultiSim(subs: List[SimilarityKind]) extends SimilarityKind

/** Replayable cached hit stream — Search/CachingCollector.cs analog (see
  * Searcher.cacheHits). `replay` hands the pinned Dataset to a downstream
  * collector function; `release` unpins it.
  */
final class CachedHits private[search] (cached: org.apache.spark.sql.Dataset[graft.model.Hit]) {
  def replay[T](collector: org.apache.spark.sql.Dataset[graft.model.Hit] => T): T =
    collector(cached)
  def hits: org.apache.spark.sql.Dataset[graft.model.Hit] = cached
  def release(): Unit = { cached.unpersist(); () }
}

object Searcher {
  /** Default overlay-broadcast bound: 2M (segmentId, docId) markers ≈ 16 MB
    * of ints. Merge cadence keeps real overlays far below this; crossing it
    * flips readers to the distributed anti-join path instead of OOMing the
    * driver. */
  val DefaultDeleteBroadcastLimit: Long = 2L * 1024 * 1024

  /** Max total bytes of live bloom rows cached on the driver; above this
    * the reader skips bloom pruning (Parquet stats still prune row-groups).
    * 64 MB covers ~500 segments of 1M distinct terms at 10% saturation. */
  val DefaultBloomCacheLimit: Long = 64L * 1024 * 1024

  /** Entry cap of the per-reader term-stats memo (entries are ~100 bytes;
    * the cap bounds a pathological expansion stream, not normal serving). */
  val TermStatsCacheMax: Int = 262144

  /** Rank order of every top-k (HitQueue.cs:78-88 / TopDocs.cs:111-135),
    * the same order as SQL's (score desc, segmentId asc, docId asc): scores
    * tie by `==` (so -0.0 ties 0.0) and NaN ranks first. */
  val HitRank: Ordering[Hit] = new Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int =
      if (a.score != b.score && !(a.score.isNaN && b.score.isNaN))
        (if (a.score.isNaN || a.score > b.score) -1 else 1)
      else if (a.segmentId != b.segmentId) Integer.compare(a.segmentId, b.segmentId)
      else Integer.compare(a.docId, b.docId)
  }

  /** Cumulative driver-side point reads of one reader ([[Searcher.pointReads]]):
    * files opened to read row groups, row groups read, row groups pruned by
    * footer statistics, dictionary pages or the column index, and rows that
    * passed the exact re-check. */
  final case class PointReads(filesOpened: Long, rowGroupsRead: Long,
                              rowGroupsSkipped: Long, rowsReturned: Long)

  /** Schema of every top-k result. */
  val TopKSchema: StructType =
    StructType.fromDDL("url STRING, score DOUBLE NOT NULL, segmentId INT NOT NULL, docId INT NOT NULL")

  /** r2's fixed-member similarities are members of the general frameworks. */
  private[search] def normalizeSim(k: SimilarityKind): SimilarityKind = k match {
    case DfrInL2Sim(c) => DfrSim("in", "l", "h2", c)
    case IbLlSim(c) => IbSim("ll", "df", "h2", c)
    case s => s
  }

  /** Mandatory literal runs of a (Java-syntax) regular expression: substrings
    * every matching string must contain CONTIGUOUSLY, extracted by a
    * conservative linear walk — the columnar stand-in for the reference's
    * automaton-guided dictionary walk (Index/AutomatonTermsEnum.cs factors
    * the compiled automaton; we factor the pattern into required q-gram
    * fetches against the dict_grams table, like the wildcard literal runs).
    *
    * Soundness contract: a char enters the current run only when the
    * pattern REQUIRES it at a fixed offset within the run; any construct
    * that could skip, repeat-with-gap or branch (`?`, `*`, `{0,..}`,
    * class/dot, `+`/`{m,k}` tails) BREAKS the run, and anything whose
    * analysis is non-local (groups, alternation, anchors, malformed tails)
    * aborts to Nil — the caller then falls back to the full dictionary
    * predicate scan, so extraction can only ever prune, never drop.
    */
  def regexLiteralRuns(re: String): List[String] = {
    val runs = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    def flush(): Unit = { if (cur.nonEmpty) { runs += cur.toString; cur.clear() } }
    val n = re.length
    var i = 0
    var bail = false
    /** Consume a quantifier at `i` if present. Returns (min, max, ok);
      * (1, 1, true) when none. max = -1 means unbounded. */
    def quantifier(): (Int, Int, Boolean) = {
      if (i >= n) return (1, 1, true)
      val q = re.charAt(i) match {
        case '?' => i += 1; (0, 1, true)
        case '*' => i += 1; (0, -1, true)
        case '+' => i += 1; (1, -1, true)
        case '{' =>
          val close = re.indexOf('}', i)
          if (close < 0) (0, 0, false)
          else {
            val body = re.substring(i + 1, close)
            val parts = body.split(",", -1)
            try {
              val mn = parts(0).trim.toInt
              val mx =
                if (parts.length == 1) mn
                else if (parts(1).trim.isEmpty) -1
                else parts(1).trim.toInt
              i = close + 1
              (mn, mx, true)
            } catch { case _: NumberFormatException => (0, 0, false) }
          }
        case _ => return (1, 1, true)
      }
      // reluctant / possessive suffix
      if (q._3 && i < n && (re.charAt(i) == '?' || re.charAt(i) == '+')) i += 1
      q
    }
    /** A single-char atom (literal `ch`) followed by its quantifier. */
    def literalAtom(ch: Char): Unit = {
      val (mn, mx, ok) = quantifier()
      if (!ok) { bail = true; return }
      if (mn == 0) flush() // optional: run breaks, char not required
      else if (mn == mx) (0 until mn).foreach(_ => cur.append(ch)) // exact: contiguous, run continues
      else { (0 until mn).foreach(_ => cur.append(ch)); flush() } // tail may repeat: gap after
    }
    /** A multi-char-capable atom (class, dot, class escape): contributes no
      * literal; consume its quantifier and break the run. */
    def opaqueAtom(): Unit = {
      val (_, _, ok) = quantifier()
      if (!ok) { bail = true; return }
      flush()
    }
    while (i < n && !bail) {
      re.charAt(i) match {
        case '(' | ')' | '|' | '^' | '$' => return Nil // non-local; abort
        case '?' | '*' | '+' | '{' => return Nil // orphan quantifier
        case '.' => i += 1; opaqueAtom()
        case '[' =>
          i += 1
          if (i < n && re.charAt(i) == '^') i += 1
          if (i < n && re.charAt(i) == ']') i += 1 // leading ] is literal
          while (i < n && re.charAt(i) != ']') {
            re.charAt(i) match {
              case '\\' => i += 1
              case '[' => return Nil // nested class: walk would desync
              case _ =>
            }
            i += 1
          }
          if (i >= n) return Nil
          i += 1
          opaqueAtom()
        case '\\' =>
          if (i + 1 >= n) return Nil
          val e = re.charAt(i + 1)
          i += 2
          if (Character.isLetterOrDigit(e)) {
            // alphanumeric escapes: the zero-width / one-char class ones
            // (\d \w \s \b \B \A \G \z \Z \h \v \D \W \S \H \V \R) are
            // safely opaque; anything that consumes FURTHER pattern chars
            // (\uXXXX, \xHH, \0n, \cX, \p{..}, \N{..}, \k<..>, backrefs
            // \1..\9) or quotes a region (\Q..\E) would desynchronize the
            // walk — abort to the full-scan fallback
            if ("dDwWsSbBAGzZhHvVR".indexOf(e) >= 0) opaqueAtom()
            else return Nil
          } else literalAtom(e) // \. \[ \\ etc: the escaped literal char
        case ch => i += 1; literalAtom(ch)
      }
    }
    if (bail) Nil
    else { flush(); runs.toList }
  }

  /** Pigeonhole substring filter for edit distance (the EDJoin/PassJoin
    * prune): split `term` into `maxEdits`+1 contiguous pieces — each edit
    * corrupts at most one piece, so any candidate within `maxEdits` must
    * CONTAIN at least one piece unchanged. Returns a codegen'd `contains`
    * disjunction over the `term` column; `lit(true)` when the query is too
    * short to split (prune vacuous, correctness unaffected). */
  def pigeonholePred(term: String, maxEdits: Int): Column = {
    val k = maxEdits + 1
    // split on CODE POINT boundaries (edits operate on code points; a piece
    // boundary through a surrogate pair would make that piece unmatchable)
    val cpCount = term.codePointCount(0, term.length)
    if (cpCount < k) return lit(true)
    val base = cpCount / k
    val rem = cpCount % k
    val pieces = (0 until k).map { i =>
      val startCp = i * base + math.min(i, rem)
      val lenCp = base + (if (i < rem) 1 else 0)
      val start = term.offsetByCodePoints(0, startCp)
      val end = term.offsetByCodePoints(start, lenCp)
      term.substring(start, end)
    }
    pieces.map(p => col("term").contains(p)).reduce(_ || _)
  }
}

/** Query execution over a built index — the IndexSearcher analog
  * (/root/reference/src/Lucene.Net.Core/Search/IndexSearcher.cs; lifecycle
  * SURVEY.md §3.2). A query compiles to a DataFrame plan:
  *
  *   scan postings (Parquet min/max-pruned on (field, term)) -> per-segment
  *   leapfrog/WAND over compressed posting rows for term-only trees, or
  *   decode -> union + single groupBy for mixed trees -> BM25 score with
  *   constants folded on the driver -> TakeOrderedAndProject top-k with
  *   Lucene's exact tie-break (score desc, then global doc order =
  *   segmentId asc, docId asc — HitQueue.cs:78-88 / TopDocs.cs:111-135).
  *
  * Posting keys are (field, term) pairs exactly like the reference's Term
  * (Index/Term.cs); [[FieldQ]] rebinds the field for a subtree and every
  * leaf resolves against its bound field's statistics (avgdl, df).
  *
  * Float discipline (LuceneFloat mode): per-clause scores are exact floats;
  * the final sum is a clause-ordered chain of float additions (deterministic,
  * matching the in-repo oracle — SURVEY.md §7.3 rank-identity note).
  */
final class Searcher(spark: SparkSession, indexPath: String,
                     val bm25: Bm25 = Bm25.default,
                     val mode: ScoringMode = LuceneFloat,
                     val similarity: SimilarityKind = Bm25Sim,
                     /** Delete-overlay size above which the reader stops
                       * broadcasting per-segment deleted-doc arrays and the
                       * scorer stream takes a distributed anti-join against
                       * the marker table instead — bounds driver memory at
                       * any delete volume. */
                     val deleteBroadcastLimit: Long = Searcher.DefaultDeleteBroadcastLimit,
                     /** PerFieldSimilarityWrapper analog (Search/Similarities/
                       * PerFieldSimilarityWrapper.cs:41-63): field -> scoring
                       * similarity; unlisted fields use [[similarity]]. Like
                       * the reference wrapper (which seals ComputeWeight per
                       * field but never overrides Coord/QueryNorm), a
                       * non-empty map forces queryNorm = coord = 1. */
                     val perFieldSimilarity: Map[String, SimilarityKind] = Map.empty) extends Serializable {
  import spark.implicits._

  val cfg: IndexBuilder.BuildConfig = IndexBuilder.readConfig(spark, indexPath)
  @transient lazy val analyzer = Analyzers.byName(cfg.analyzerName)

  /** The default query field (the `text` input column). */
  val defaultField: String = IndexBuilder.DefaultField

  /** Open-reader state (IndexReader analog): lazily-built DataFrames whose
    * file listings are resolved once and reused across queries. All data
    * reads filter to the LIVE segment set defined by the current stats
    * generation (the segments_N commit point) — segment dirs mid-merge or
    * left by a crash are invisible.
    */
  @transient lazy val liveSegments: Set[Int] = statsRows.map(_.segmentId).toSet

  /** Read with its known schema, so resolving it starts no job; the
    * payload and offset columns read as null where a file lacks them. */
  @transient lazy val postingsRaw: DataFrame =
    IndexBuilder.readPostings(spark, indexPath)
      .filter(col("segmentId").isInCollection(liveSegments))

  @transient lazy val postings: Dataset[PostingRow] =
    postingsRaw
      .transform(IndexBuilder.withPayloadsCol)
      .select("segmentId", "field", "term", "df", "ttf", "docDeltas", "tfs", "positions", "lens", "skips", "payloads", "offsets")
      .as[PostingRow]

  /** Scoring-only projection: Parquet never reads the positions column. */
  @transient lazy val postingsSlim: Dataset[PostingSlim] =
    postingsRaw.select("segmentId", "field", "term", "df", "docDeltas", "tfs", "lens")
      .as[PostingSlim]

  /** Read with its known schema (with `sortKey` when config.json names an
    * index sort), so resolving it starts no job. */
  @transient lazy val docs: DataFrame =
    IndexBuilder.readDocs(spark, indexPath, sorted = cfg.indexSort.isDefined)
      .filter(col("segmentId").isInCollection(liveSegments))

  /** Driver-side Parquet point reads of this reader's tables: the fresh
    * dictionary's term stats, the winners' urls and the small delete
    * overlay, each with no Spark job ([[PointReader]]). */
  @transient private lazy val points =
    new PointReader(new org.apache.hadoop.conf.Configuration(spark.sparkContext.hadoopConfiguration))

  /** This reader's point-read counters so far. */
  def pointReads: Searcher.PointReads = points.counters

  /** Term-vector table (TermVectors.scala — the .tvd/.tvf analog), live
    * segments only. Throws if the index was built without vectors, like
    * IndexReader.GetTermVector returning null for unvectored fields. */
  @transient lazy val termVectors: DataFrame = {
    require(graft.build.TermVectors.enabled(spark, indexPath),
      s"index at $indexPath was built without termVectors")
    spark.read.parquet(graft.build.TermVectors.vectorsPath(indexPath))
      .filter(col("segmentId").isInCollection(liveSegments))
  }

  /** One doc's term vector — partition-pruned on segmentId, docId predicate
    * pushed to the parquet scan (O(doc), never a term-major postings read:
    * Index/TermVectorsConsumer.cs is doc-major for exactly this). */
  def termVector(segmentId: Int, docId: Int): DataFrame =
    termVectors.filter(col("segmentId") === segmentId && col("docId") === docId)

  /** Index-sort column this index was built with, if any (IndexWriterConfig
    * .SetIndexSort analog, persisted in config.json). */
  @transient lazy val indexSortCol: Option[String] =
    try IndexBuilder.readConfig(spark, indexPath).indexSort
    catch { case _: Exception => None }

  /** Early-terminating sorted top-k with NO query — the degenerate
    * EarlyTerminatingSortingCollector case (Lucene.Net.Misc/Index/Sorter/
    * EarlyTerminatingSortingCollector.cs:123): per-segment docId order IS
    * sort order, so only docIds < k are read per segment (the predicate
    * reaches the parquet scan) and the global answer merges the per-segment
    * heads — numSegments*k rows, never a full-corpus sort. */
  def sortedTopK(k: Int): DataFrame = {
    require(indexSortCol.isDefined, "index was not built with an index sort")
    val head =
      if (deletedCount == 0) docs.filter(col("docId") < k) // pushdown fast path
      else {
        // deletes punch holes in the docId prefix: rank the LIVE docs per
        // segment instead (the collector skips deleted docs and keeps
        // collecting until k — a partitioned, segment-bounded window)
        import org.apache.spark.sql.expressions.Window
        docs.join(graft.build.Deletes.deletedDf(spark, indexPath),
            Seq("segmentId", "docId"), "left_anti")
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("segmentId")).orderBy(col("docId").asc)))
          .filter(col("rn") <= k)
      }
    head.select(col("url"), col("sortKey"))
      .orderBy(col("sortKey").asc, col("url").asc)
      .limit(k)
  }

  /** Early-terminating sorted top-k of a QUERY's matches: each segment
    * contributes its first k matches in docId (== sort) order — the
    * collector's per-segment CollectionTerminatedException analog — then
    * the heads merge on the sort key. The per-segment cap is a PARTITIONED
    * window (segment-bounded), so no single-task funnel at any scale. */
  def searchSortedEarly(q: Query, k: Int): DataFrame = {
    require(indexSortCol.isDefined, "index was not built with an index sort")
    import org.apache.spark.sql.expressions.Window
    val headPerSeg = compile(q)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("segmentId")).orderBy(col("docId").asc)))
      .filter(col("rn") <= k)
      .select(col("segmentId"), col("docId"))
    // <= numSegments*k head rows: broadcast them against the doc store
    broadcast(headPerSeg)
      .join(docs.select(col("segmentId"), col("docId"), col("url"), col("sortKey")),
        Seq("segmentId", "docId"))
      .orderBy(col("sortKey").asc, col("url").asc)
      .limit(k)
      .select(col("url"), col("sortKey"))
  }

  /** Global collection stats: maxDoc is segment-wide (every field row of a
    * segment carries it); sumTotalTermFreq is per field (CollectionStatistics
    * is per field in the reference too — Search/CollectionStatistics.cs:32).
    * readStats dedupes re-appended stats from a crash-resumed group
    * (deterministic build => identical values).
    */
  @transient private lazy val statsRows: Array[SegmentStats] =
    IndexBuilder.readStats(spark, indexPath)

  @transient lazy val maxDoc: Long =
    statsRows.filter(_.field == defaultField).map(_.maxDoc).sum

  @transient lazy val fieldSttf: Map[String, Long] =
    statsRows.groupBy(_.field).map { case (f, rs) => f -> rs.map(_.sumTotalTermFreq).sum }

  def sumTotalTermFreq: Long = fieldSttf.getOrElse(defaultField, 0L)

  /** Norm cache shared by every term of a field (BM25Similarity.cs:235). */
  @transient private lazy val normCaches =
    scala.collection.concurrent.TrieMap.empty[String, Array[Float]]

  private[search] def normCache(field: String): Array[Float] =
    normCaches.getOrElseUpdate(field, {
      val avgdl = bm25.avgFieldLength(fieldSttf.getOrElse(field, 0L), maxDoc)
      val c = new Array[Float](256)
      var j = 0
      while (j < 256) { c(j) = bm25.k1 * ((1 - bm25.b) + bm25.b * bm25.normTable(j) / avgdl); j += 1 }
      c
    })

  private[search] def avgdlDouble(field: String): Double = {
    val sttf = fieldSttf.getOrElse(field, 0L)
    if (sttf <= 0) 1d else sttf.toDouble / maxDoc
  }

  /** (distinct delete markers, the live segments' sorted deleted docIds),
    * resolved once per reader. Marker files holding at most
    * [[deleteBroadcastLimit]] rows by their footers are read once on the
    * driver and deduped there, with no job; a larger table is counted by a
    * distributed distinct, and collected per segment only if that count is
    * within the limit. */
  @transient private lazy val overlay: (Long, Map[Int, Array[Int]]) = {
    val dir = graft.build.Deletes.deletesPath(indexPath)
    if (!graft.build.Deletes.exists(spark, indexPath)) (0L, Map.empty)
    else if (points.rowTotal(dir) <= deleteBroadcastLimit) {
      val markers = points.read(dir, Seq("segmentId", "docId"), _ => None)(_ => true)
        .map(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Int])).distinct
      (markers.size.toLong, markers.filter(m => liveSegments(m._1)).groupBy(_._1)
        .map { case (seg, ms) => seg -> ms.map(_._2).sorted.toArray })
    } else {
      val n = graft.build.Deletes.count(spark, indexPath)
      (n, if (n == 0 || n > deleteBroadcastLimit) Map.empty
          else graft.build.Deletes.deletedDocIds(spark, indexPath, Some(liveSegments)))
    }
  }

  /** Distinct delete markers. */
  @transient lazy val deletedCount: Long = overlay._1

  /** true -> the overlay exceeds [[deleteBroadcastLimit]]: it is NOT
    * collected to the driver; live-docs filtering runs as a distributed
    * anti-join and the WAND in-task fast path is bypassed (its per-task
    * overlay lookup needs the broadcast). */
  @transient lazy val largeDeletes: Boolean = deletedCount > deleteBroadcastLimit

  /** Per-segment deleted docIds (inverted live-docs, Util/FixedBitSet.cs:35
    * analog): resolved once per reader, broadcast into every scorer path —
    * ONLY while the overlay is small (merge cadence keeps it so); the large
    * overlay never touches the driver. Reference semantics: deleted docs
    * vanish from all matches immediately; collection stats stay
    * un-decremented until a merge purges them.
    */
  @transient lazy val deletedDocs: Map[Int, Array[Int]] = overlay._2

  @transient private[search] lazy val deletedB =
    spark.sparkContext.broadcast(deletedDocs)

  private def applyLiveDocs(ds: Dataset[Hit]): Dataset[Hit] =
    if (deletedCount == 0) ds
    else if (largeDeletes)
      ds.join(graft.build.Deletes.deletedDf(spark, indexPath),
        Seq("segmentId", "docId"), "left_anti").as[Hit]
    else {
      val b = deletedB
      ds.filter { h =>
        b.value.get(h.segmentId) match {
          case Some(a) => java.util.Arrays.binarySearch(a, h.docId) < 0
          case None => true
        }
      }
    }

  /** Point lookup for explain: broadcast map when small, a pruned marker
    * scan when large. */
  private def isDeleted(seg: Int, doc: Int): Boolean =
    if (deletedCount == 0) false
    else if (!largeDeletes)
      deletedDocs.get(seg).exists(a => java.util.Arrays.binarySearch(a, doc) >= 0)
    else graft.build.Deletes.deletedDf(spark, indexPath)
      .filter(col("segmentId") === seg && col("docId") === doc)
      .limit(1).count() > 0

  /** Fresh global dictionary (BlockTree/.tip analog, (field, term) keyed)
    * resolved once per reader, for the term-expansion scans; None ->
    * per-query postings-scan fallback. Term stats read its files directly
    * ([[dictStats]]). NOT cached: at web scale the dictionary is hundreds of
    * GB, and every use filters it down to a handful of terms first (Parquet
    * min/max prunes). */
  @transient lazy val dictTable: Option[DataFrame] =
    graft.build.DictTable.readIfValid(spark, indexPath, statsRows.toSeq)

  /** Per-(segment, field) term blooms (BloomFilteringPostingsFormat analog,
    * codec/TermBloom.scala) — ADVISORY driver-side cache: a term query only
    * schedules postings scans for segments whose bloom says mayContain.
    * Segments without a bloom row (merged after the build, or built without
    * the opt-in) always scan, so a bloom can never drop a hit. Empty when
    * the index has no blooms dir or the live rows exceed the byte budget
    * ([[Searcher.DefaultBloomCacheLimit]]) — at extreme segment counts the
    * Parquet row-group stats still prune within each partition. */
  @transient lazy val termBlooms: Map[(Int, String), (Int, Array[Byte])] = {
    val pathStr = IndexBuilder.bloomsPath(indexPath)
    val p = new org.apache.hadoop.fs.Path(pathStr)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val live = spark.read.parquet(pathStr)
        .filter(col("segmentId").isInCollection(liveSegments))
      val sizeRow = live.agg(sum(length(col("bits")))).head()
      val totalBytes = if (sizeRow.isNullAt(0)) 0L else sizeRow.getLong(0)
      if (totalBytes > Searcher.DefaultBloomCacheLimit) Map.empty
      else live.select(col("segmentId").cast("int"), col("field"),
          col("bloomMask").cast("int"), col("bits"))
        .as[(Int, String, Int, Array[Byte])].collect()
        .map { case (s, f, m, b) => (s, f) -> (m, b) }.toMap
    }
  }

  /** Live segments that MAY contain (field, term); None when no blooms are
    * loaded (scan everything, the pre-bloom behavior). */
  def bloomSegments(field: String, term: String): Option[Set[Int]] =
    if (termBlooms.isEmpty) None
    else {
      val h = graft.codec.TermBloom.hash(term)
      Some(liveSegments.filter { s =>
        termBlooms.get((s, field)) match {
          case Some((mask, bits)) => graft.codec.TermBloom.mayContain(h, mask, bits)
          case None => true // advisory: unbloomed segment must scan
        }
      })
    }

  /** Apply the bloom prune to a postings source, when it narrows. */
  private[search] def bloomPrune[T](ds: Dataset[T], field: String, term: String): Dataset[T] =
    bloomSegments(field, term) match {
      case Some(segs) if segs.size < liveSegments.size =>
        ds.filter(col("segmentId").isInCollection(segs))
      case _ => ds
    }

  /** Positional-bigram inverted index over the dictionary (dict_grams,
    * DictTable.writeGrams) — fuzzy/wildcard candidate fetch by gram
    * EQUALITY instead of a full dictionary scan. None on pre-gram indexes
    * or when the dictionary is stale. */
  @transient lazy val gramsTable: Option[DataFrame] =
    graft.build.DictTable.readGramsIfValid(spark, indexPath, statsRows.toSeq)

  private[search] def session: SparkSession = spark

  /** Cross-segment (field, term) stats (TermContext.Build analog,
    * Index/TermContext.cs:90): a driver-side point read of the fresh
    * dictionary, or one pruned postings aggregate while it is stale, folded
    * into constants.
    *
    * Per-reader (field, term) -> (df, ttf) memo — the TermContext cache a
    * reader keeps for its open snapshot: df/ttf are build-time constants of
    * the segment set this Searcher resolved at open (deletes do not change
    * docFreq until a purging merge, exactly the reference semantics), so a
    * repeated term reads nothing after its first lookup. `None`
    * records ABSENT terms too (a miss is as cacheable as a hit). Insertion
    * stops at [[Searcher.TermStatsCacheMax]] entries — a hard bound, also
    * under concurrent queries — so an adversarial expansion stream cannot
    * grow the driver unboundedly. */
  @transient private lazy val termStatsCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Option[(Long, Long)]]()

  def fieldTermStats(keys: Set[(String, String)]): Map[(String, String), (Long, Long)] = {
    if (keys.isEmpty) return Map.empty
    val missing = keys.filterNot(termStatsCache.containsKey)
    val fetched = fetchFieldTermStats(missing)
    // inserts take the map's lock and check the bound per key, so
    // concurrent batches cannot overshoot it; reads stay lock-free
    if (missing.nonEmpty) termStatsCache.synchronized {
      missing.iterator.takeWhile(_ => termStatsCache.size() < Searcher.TermStatsCacheMax)
        .foreach(k => termStatsCache.putIfAbsent(k, fetched.get(k)))
    }
    keys.iterator.flatMap { k =>
      (termStatsCache.get(k) match {
        case null => fetched.get(k)
        case opt => opt
      }).map(k -> _)
    }.toMap
  }

  /** Whether the dictionary is fresh for this reader's segment set and has
    * data files: term stats then come from point reads of it. */
  @transient private lazy val dictFresh: Boolean =
    graft.build.DictTable.readMarker(spark, indexPath)
      .contains(graft.build.DictTable.segsSignatureOf(statsRows.toSeq)) &&
      points.nonEmpty(graft.build.DictTable.dictPath(indexPath))

  private def fetchFieldTermStats(keys: Set[(String, String)]): Map[(String, String), (Long, Long)] = {
    if (keys.isEmpty) return Map.empty
    if (dictFresh)
      try return dictStats(keys)
      catch { case _: java.io.FileNotFoundException => () } // a refresh replaced the listed files
    // stale dictionary: aggregate the live segments' postings rows
    postingsRaw
      .select("field", "term", "df", "ttf")
      .filter(keys.groupBy(_._1).map { case (f, ks) =>
        col("field") === f && col("term").isInCollection(ks.map(_._2))
      }.reduce(_ || _))
      .groupBy("field", "term").agg(sum("df").as("df"), sum("ttf").as("ttf"))
      .as[(String, String, Long, Long)].collect()
      .map { case (f, t, df, ttf) => (f, t) -> (df, ttf) }.toMap
  }

  /** (df, ttf) of exactly `keys` from the fresh dictionary: a point read
    * pushing down each field's terms and, where the file has the column,
    * their code-point lengths (the dictionary is sorted by (field, len,
    * term), so `len` is what prunes its row groups). */
  private def dictStats(keys: Set[(String, String)]): Map[(String, String), (Long, Long)] = {
    val byField = keys.groupBy(_._1).map { case (f, ks) => f -> ks.map(_._2) }
    points.read(graft.build.DictTable.dictPath(indexPath), Seq("field", "term", "df", "ttf"), { schema =>
      val withLen = PointReader.isInt32(schema, "len")
      Some(byField.map { case (f, ts) =>
        val p = PointReader.binaryIn("field", Seq(f)).and(PointReader.binaryIn("term", ts))
        if (!withLen) p
        else p.and(PointReader.intIn("len", ts.map(t => t.codePointCount(0, t.length))))
      }.reduce(_ or _))
    })(r => keys.contains((r(0).asInstanceOf[String], r(1).asInstanceOf[String])))
      .map(r => (r(0).asInstanceOf[String], r(1).asInstanceOf[String]) ->
        (r(2).asInstanceOf[Number].longValue, r(3).asInstanceOf[Number].longValue)).toMap
  }

  /** Default-field term stats (back-compat convenience). */
  def termStats(terms: Set[String]): Map[String, (Long, Long)] =
    fieldTermStats(terms.map(defaultField -> _)).map { case ((_, t), v) => t -> v }

  /** Similarity-appropriate idf (per-term or, via the overrides, a phrase's
    * summed idf — IdfExplain(TermStatistics[])). LM similarities do not use
    * idf; they get the BM25 formula for explain decoration only. */
  private[search] def idfFloat(df: Long): Float = similarity match {
    case TfIdfSim | SweetSpotSim(_, _, _, _, _) =>
      (math.log(maxDoc / (df + 1).toDouble) + 1.0).toFloat
    case _ => bm25.idf(df, maxDoc)
  }
  private[search] def idfDouble(df: Long): Double = similarity match {
    case TfIdfSim | SweetSpotSim(_, _, _, _, _) =>
      math.log(maxDoc / (df + 1).toDouble) + 1.0
    case _ => math.log(1 + (maxDoc - df + 0.5d) / (df + 0.5d))
  }

  /** Per-posting scorer: (freq, fieldLen) => score, constants folded
    * (TermWeight/Similarity.SimScorer analog). freq is Double so
    * sloppy-phrase float frequencies flow through exactly (integer tfs embed
    * losslessly). `qn` = the query-level norm (1 under BM25).
    */
  private[search] def makeScorer(field: String, df: Long, boost: Float, qn: Double = 1d,
                                 idfSumOverride: Option[Float] = None,
                                 idfSumOverrideD: Option[Double] = None,
                                 /** per-term totalTermFreq (LM collection
                                   * model); composites pass one per term. */
                                 ttf: Long = 0L,
                                 lmTtfs: Option[Seq[Long]] = None,
                                 /** per-term docFreqs for composites (the
                                   * MultiSimilarity sub-stats of DFR/IB);
                                   * aligned with lmTtfs. */
                                 lmDfs: Option[Seq[Long]] = None): (Double, Int) => Double =
    scorerFor(Searcher.normalizeSim(perFieldSimilarity.getOrElse(field, similarity)),
      field, df, boost, qn, idfSumOverride, idfSumOverrideD, ttf, lmTtfs, lmDfs)

  /** The similarity dispatch itself, recursive so [[MultiSim]] can compose
    * sub-scorers (MultiSimilarity.cs:90-99 MultiSimScorer: score = float
    * sum of the sub-similarities' scores). */
  private def scorerFor(simKind: SimilarityKind, field: String, df: Long,
                        boost: Float, qn: Double,
                        idfSumOverride: Option[Float],
                        idfSumOverrideD: Option[Double],
                        ttf: Long, lmTtfs: Option[Seq[Long]],
                        lmDfs: Option[Seq[Long]]): (Double, Int) => Double = {
    (simKind, mode) match {
      case (MultiSim(subs), LuceneFloat) =>
        val ss = subs.map(k => scorerFor(Searcher.normalizeSim(k), field, df,
          boost, qn, idfSumOverride, idfSumOverrideD, ttf, lmTtfs, lmDfs))
        (tf: Double, len: Int) => {
          var acc = 0f
          ss.foreach(s => acc += s(tf, len).toFloat)
          acc.toDouble
        }
      case (MultiSim(subs), ExactDouble) =>
        val ss = subs.map(k => scorerFor(Searcher.normalizeSim(k), field, df,
          boost, qn, idfSumOverride, idfSumOverrideD, ttf, lmTtfs, lmDfs))
        (tf: Double, len: Int) => {
          var acc = 0d
          ss.foreach(s => acc += s(tf, len))
          acc
        }
      case (Bm25Sim, LuceneFloat) =>
        val idf = idfSumOverride.getOrElse(bm25.idf(df, maxDoc))
        val w = idf * boost * (bm25.k1 + 1)
        val cache = normCache(field)
        (tf: Double, len: Int) => {
          // index-time boost is fixed at 1f (BM25Similarity.EncodeNormValue)
          val nb = SmallFloat.floatToByte315(1f / math.sqrt(len.toDouble).toFloat)
          val norm = cache(nb & 0xff)
          val tff = tf.toFloat
          (w * tff / (tff + norm)).toDouble
        }
      case (Bm25Sim, ExactDouble) =>
        val idf = idfSumOverrideD.getOrElse(math.log(1 + (maxDoc - df + 0.5d) / (df + 0.5d)))
        val w = idf * boost * (bm25.k1d + 1)
        val k1 = bm25.k1d
        val b = bm25.bd
        val avgdl = avgdlDouble(field)
        (tf: Double, len: Int) => {
          val norm = k1 * ((1 - b) + b * len / avgdl)
          w * tf / (tf + norm)
        }
      case (TfIdfSim, LuceneFloat) =>
        // queryWeight = (idf*boost)*queryNorm; value = queryWeight*idf;
        // score = tf(freq)*value*decodeNorm (TFIDFSimilarity.cs:707-711,753-769)
        // idf inlined (not via idfFloat) so a per-field TFIDF delegate
        // scores correctly under a non-TFIDF top-level similarity
        val idf = idfSumOverride.getOrElse((math.log(maxDoc / (df + 1).toDouble) + 1.0).toFloat)
        val qw = idf * boost * qn.toFloat
        val value = qw * idf
        (tf: Double, len: Int) => {
          val raw = math.sqrt(tf).toFloat * value
          val nb = SmallFloat.floatToByte315(1f / math.sqrt(len.toDouble).toFloat)
          (raw * SmallFloat.byte315ToFloat(nb)).toDouble
        }
      case (TfIdfSim, ExactDouble) =>
        // unquantized double twin (norm = 1/sqrt(len)); SQL-replicable
        val idf = idfSumOverrideD.getOrElse(math.log(maxDoc / (df + 1).toDouble) + 1.0)
        val value = ((idf * boost) * qn) * idf
        (tf: Double, len: Int) =>
          (math.sqrt(tf) * value) * (1.0 / math.sqrt(len.toDouble))
      case (LmDirichletSim(mu), LuceneFloat) =>
        // LMDirichletSimilarity.Score: boost * (float)(ln(1 + freq/(mu*p)) +
        // ln(mu/(docLen+mu))), per-term clip at 0; docLen is the byte315-
        // quantized length (SimilarityBase.DecodeNormValue NORM_TABLE)
        val sttf = fieldSttf.getOrElse(field, 0L)
        val ps: Seq[Float] = lmTtfs.getOrElse(Seq(ttf)).map(t => (t + 1f) / (sttf + 1f))
        (tf: Double, len: Int) => {
          val nb = SmallFloat.floatToByte315(1f / math.sqrt(len.toDouble).toFloat)
          val dl = bm25.normTable(nb & 0xff)
          val tff = tf.toFloat
          var acc = 0f
          ps.foreach { p =>
            val inner = (math.log((1f + tff / (mu * p)).toDouble) +
              math.log((mu / (dl + mu)).toDouble)).toFloat
            val s = boost * inner
            if (s > 0f) acc += s
          }
          acc.toDouble
        }
      case (LmJelinekMercerSim(lam), LuceneFloat) =>
        // LMJelinekMercerSimilarity.Score: boost * (float)ln(1 +
        // ((1-lam)*freq/docLen) / (lam*p)); inner arithmetic in float
        val sttf = fieldSttf.getOrElse(field, 0L)
        val ps: Seq[Float] = lmTtfs.getOrElse(Seq(ttf)).map(t => (t + 1f) / (sttf + 1f))
        (tf: Double, len: Int) => {
          val nb = SmallFloat.floatToByte315(1f / math.sqrt(len.toDouble).toFloat)
          val dl = bm25.normTable(nb & 0xff)
          val tff = tf.toFloat
          var acc = 0f
          ps.foreach { p =>
            val inner = 1 + ((1 - lam) * tff / dl) / (lam * p)
            acc += boost * math.log(inner.toDouble).toFloat
          }
          acc.toDouble
        }
      case (LmJelinekMercerSim(lam), ExactDouble) =>
        // double twin (docLen = exact len); SQL-replicable with lam exact
        // in binary (default 0.5)
        val sttf = fieldSttf.getOrElse(field, 0L)
        val lamD = lam.toDouble
        val ps: Seq[Double] = lmTtfs.getOrElse(Seq(ttf)).map(t => (t + 1.0) / (sttf + 1.0))
        val bd = boost.toDouble
        (tf: Double, len: Int) => {
          var acc = 0d
          ps.foreach { p =>
            acc += bd * math.log(1 + ((1 - lamD) * tf / len) / (lamD * p))
          }
          acc
        }
      case (SweetSpotSim(lnMin, lnMax, steep, tfBase, tfMin), LuceneFloat) =>
        // DefaultSimilarity score chain with SweetSpot's tf and the plateau
        // lengthNorm quantized through the same byte315 norm byte the
        // reference encodes at index time (SweetSpotSimilarity.cs:108-157)
        val idf = idfSumOverride.getOrElse((math.log(maxDoc / (df + 1).toDouble) + 1.0).toFloat)
        val qw = idf * boost * qn.toFloat
        val value = qw * idf
        (tf: Double, len: Int) => {
          val x = tf.toFloat
          val tff =
            if (x == 0f) 0f
            else if (x <= tfMin) tfBase
            else math.sqrt((x + tfBase * tfBase - tfMin).toDouble).toFloat
          val lnorm = (1.0f / math.sqrt(
            (steep * (math.abs(len - lnMin) + math.abs(len - lnMax) - (lnMax - lnMin)).toFloat
              + 1.0f).toDouble)).toFloat
          val nb = SmallFloat.floatToByte315(lnorm)
          (tff * value * SmallFloat.byte315ToFloat(nb)).toDouble
        }
      case (SweetSpotSim(lnMin, lnMax, steep, tfBase, tfMin), ExactDouble) =>
        // unquantized double twin, SQL-replicable
        val idf = idfSumOverrideD.getOrElse(math.log(maxDoc / (df + 1).toDouble) + 1.0)
        val value = ((idf * boost) * qn) * idf
        val sD = steep.toDouble; val bD = tfBase.toDouble; val mD = tfMin.toDouble
        (tf: Double, len: Int) => {
          val tff =
            if (tf == 0d) 0d
            else if (tf <= mD) bD
            else math.sqrt(tf + bD * bD - mD)
          val lnorm = 1.0 / math.sqrt(
            sD * (math.abs(len - lnMin) + math.abs(len - lnMax) - (lnMax - lnMin)) + 1.0)
          (tff * value) * lnorm
        }
      case (DfrSim(bm, ae, nz, c), LuceneFloat) =>
        // DFRSimilarity.Score (Search/Similarities/DFRSimilarity.cs:107-111):
        //   score = boost * basicModel(tfn) * afterEffect(tfn), floats;
        // dl from the shared byte315 NORM_TABLE (SimilarityBase.cs:232-239
        // == Bm25.normTable). Composites (per-term sub-stats) sum in float
        // like MultiSimilarity.MultiSimScorer (MultiSimilarity.cs:90-99).
        val sttf = fieldSttf.getOrElse(field, 0L)
        val avg: Float = if (sttf <= 0) 1f else sttf.toFloat / maxDoc
        val perTerm: Seq[(Long, Long)] = (lmDfs, lmTtfs) match {
          case (Some(dfs), Some(ttfs)) => dfs.zip(ttfs)
          case _ => Seq((df, ttf))
        }
        val comps = perTerm.map { case (d, t) =>
          (DfrIb.tfnF(nz, c, avg, t, sttf), DfrIb.basicF(bm, maxDoc, d, t),
            DfrIb.afterF(ae, d, t))
        }
        (tf: Double, len: Int) => {
          val nb = SmallFloat.floatToByte315(1f / math.sqrt(len.toDouble).toFloat)
          val dl = bm25.normTable(nb & 0xff)
          var acc = 0f
          comps.foreach { case (tfnf, bf, af) =>
            val t = tfnf(tf.toFloat, dl)
            acc += boost * bf(t) * af(t)
          }
          acc.toDouble
        }
      case (DfrSim(bm, ae, nz, c), ExactDouble) =>
        // double twin, exact len — SQL-replicable per component
        val sttf = fieldSttf.getOrElse(field, 0L)
        val avg: Double = if (sttf <= 0) 1d else sttf.toDouble / maxDoc
        val perTerm: Seq[(Long, Long)] = (lmDfs, lmTtfs) match {
          case (Some(dfs), Some(ttfs)) => dfs.zip(ttfs)
          case _ => Seq((df, ttf))
        }
        val comps = perTerm.map { case (d, t) =>
          (DfrIb.tfnD(nz, c.toDouble, avg, t, sttf), DfrIb.basicD(bm, maxDoc, d, t),
            DfrIb.afterD(ae, d, t))
        }
        val bd = boost.toDouble
        (tf: Double, len: Int) => {
          var acc = 0d
          comps.foreach { case (tfnf, bf, af) =>
            val t = tfnf(tf, len.toDouble)
            acc += bd * bf(t) * af(t)
          }
          acc
        }
      case (IbSim(dist, lam, nz, c), LuceneFloat) =>
        // IBSimilarity.Score (Search/Similarities/IBSimilarity.cs:97-100):
        //   score = boost * distribution(tfn, lambda), floats
        val sttf = fieldSttf.getOrElse(field, 0L)
        val avg: Float = if (sttf <= 0) 1f else sttf.toFloat / maxDoc
        val perTerm: Seq[(Long, Long)] = (lmDfs, lmTtfs) match {
          case (Some(dfs), Some(ttfs)) => dfs.zip(ttfs)
          case _ => Seq((df, ttf))
        }
        val score = DfrIb.distF(dist)
        val comps = perTerm.map { case (d, t) =>
          (DfrIb.tfnF(nz, c, avg, t, sttf), DfrIb.lambdaF(lam, maxDoc, d, t))
        }
        (tf: Double, len: Int) => {
          val nb = SmallFloat.floatToByte315(1f / math.sqrt(len.toDouble).toFloat)
          val dl = bm25.normTable(nb & 0xff)
          var acc = 0f
          comps.foreach { case (tfnf, lambda) =>
            acc += boost * score(tfnf(tf.toFloat, dl), lambda)
          }
          acc.toDouble
        }
      case (IbSim(dist, lam, nz, c), ExactDouble) =>
        // double twin — SQL-replicable per component
        val sttf = fieldSttf.getOrElse(field, 0L)
        val avg: Double = if (sttf <= 0) 1d else sttf.toDouble / maxDoc
        val perTerm: Seq[(Long, Long)] = (lmDfs, lmTtfs) match {
          case (Some(dfs), Some(ttfs)) => dfs.zip(ttfs)
          case _ => Seq((df, ttf))
        }
        val score = DfrIb.distD(dist)
        val comps = perTerm.map { case (d, t) =>
          (DfrIb.tfnD(nz, c.toDouble, avg, t, sttf), DfrIb.lambdaD(lam, maxDoc, d, t))
        }
        val bd = boost.toDouble
        (tf: Double, len: Int) => {
          var acc = 0d
          comps.foreach { case (tfnf, lambda) =>
            acc += bd * score(tfnf(tf, len.toDouble), lambda)
          }
          acc
        }
      case (LmDirichletSim(mu), ExactDouble) =>
        // unquantized double twin (docLen = exact len); SQL-replicable:
        // boost * (ln(1 + tf/(mu*(ttf+1)/(sttf+1))) + ln(mu/(len+mu))), clip 0
        val sttf = fieldSttf.getOrElse(field, 0L)
        val mud = mu.toDouble
        val ps: Seq[Double] = lmTtfs.getOrElse(Seq(ttf)).map(t => (t + 1.0) / (sttf + 1.0))
        val bd = boost.toDouble
        (tf: Double, len: Int) => {
          var acc = 0d
          ps.foreach { p =>
            val s = bd * (math.log(1 + tf / (mud * p)) + math.log(mud / (len + mud)))
            if (s > 0d) acc += s
          }
          acc
        }
      case (DfrInL2Sim(_) | IbLlSim(_), _) =>
        throw new IllegalStateException("normalized to DfrSim/IbSim above")
    }
  }

  /** Query-level normalization (CreateNormalizedWeight, IndexSearcher.cs:
    * 725-737): sum of squared clause weights in clause order, skipping
    * prohibited clauses (BooleanQuery.cs:257-276), then 1/sqrt. Identity
    * under BM25.
    */
  private def queryNorm(q: Query, stats: FTStats): Double = similarity match {
    case _ if perFieldSimilarity.nonEmpty =>
      1d // PerFieldSimilarityWrapper never overrides QueryNorm (base 1f)
    case Bm25Sim | LmDirichletSim(_) | LmJelinekMercerSim(_) | DfrInL2Sim(_) | IbLlSim(_)
       | DfrSim(_, _, _, _) | IbSim(_, _, _, _) | MultiSim(_) =>
      1d // Similarity.QueryNorm default 1f (SimilarityBase/MultiSimilarity likewise)
    case TfIdfSim | SweetSpotSim(_, _, _, _, _) =>
      def phraseIdfF(terms: List[String], field: String): Float =
        terms.map(t => idfFloat(stats.get((field, t)).map(_._1).getOrElse(0L))).foldLeft(0f)(_ + _)
      def phraseIdfD(terms: List[String], field: String): Double =
        terms.map(t => idfDouble(stats.get((field, t)).map(_._1).getOrElse(0L))).sum
      def sswF(q: Query, field: String): Float = q match {
        case FieldQ(f, inner) => sswF(inner, f)
        case TermQ(t, b) =>
          val w = idfFloat(stats.get((field, t)).map(_._1).getOrElse(0L)) * b
          w * w
        case BoolQ(cs, _) =>
          cs.filter(_._1 != Occur.MustNot).map(c => sswF(c._2, field)).foldLeft(0f)(_ + _)
        case PhraseQ(ts, b, _) => val w = phraseIdfF(ts.map(_._1), field) * b; w * w
        case MultiPhraseQ(ss, b) =>
          val w = phraseIdfF(ss.flatMap(_._1.toList.sorted), field) * b; w * w
        case SpanScoreQ(sp, b) =>
          val w = phraseIdfF(SpanMatcher.termsOf(sp).toList.sorted, field) * b; w * w
        case PayloadNearQ(sp, _, b) =>
          val w = phraseIdfF(SpanMatcher.termsOf(sp).toList.sorted, field) * b; w * w
        case DisMaxQ(cs, _) => cs.map(sswF(_, field)).foldLeft(0f)(_ + _)
        case ConstantScoreQ(_, b) => b * b
        case _ => 1f
      }
      def sswD(q: Query, field: String): Double = q match {
        case FieldQ(f, inner) => sswD(inner, f)
        case TermQ(t, b) =>
          val w = idfDouble(stats.get((field, t)).map(_._1).getOrElse(0L)) * b
          w * w
        case BoolQ(cs, _) => cs.filter(_._1 != Occur.MustNot).map(c => sswD(c._2, field)).sum
        case PhraseQ(ts, b, _) => val w = phraseIdfD(ts.map(_._1), field) * b; w * w
        case MultiPhraseQ(ss, b) => val w = phraseIdfD(ss.flatMap(_._1.toList.sorted), field) * b; w * w
        case SpanScoreQ(sp, b) =>
          val w = phraseIdfD(SpanMatcher.termsOf(sp).toList.sorted, field) * b; w * w
        case PayloadNearQ(sp, _, b) =>
          val w = phraseIdfD(SpanMatcher.termsOf(sp).toList.sorted, field) * b; w * w
        case DisMaxQ(cs, _) => cs.map(sswD(_, field)).sum
        case ConstantScoreQ(_, b) => b.toDouble * b
        case _ => 1d
      }
      mode match {
        case LuceneFloat =>
          val ssw = sswF(q, defaultField)
          if (ssw <= 0f) 1d else (1.0 / math.sqrt(ssw.toDouble)).toFloat.toDouble
        case ExactDouble =>
          val ssw = sswD(q, defaultField)
          if (ssw <= 0d) 1d else 1.0 / math.sqrt(ssw)
      }
  }

  private def scoreCast: String = mode match {
    case LuceneFloat => "float"
    case ExactDouble => "double"
  }

  // ---------------------------------------------------------------- compile

  type FTStats = Map[(String, String), (Long, Long)]

  /** Compile to a Dataset[Hit]; every doc appears at most once. Live docs
    * (deletes overlay) are applied to the final stream — equivalent to the
    * reference's per-scorer acceptDocs since deletions are doc-local.
    */
  def compile(q0: Query): Dataset[Hit] = {
    val q = Query.rewrite(q0)
    val stats = fieldTermStats(Query.fieldTerms(q, defaultField))
    val qn = queryNorm(q, stats)
    applyLiveDocs(compileNode(q, stats, defaultField, qn))
  }

  private def compileNode(q: Query, stats: FTStats, field: String, qn: Double): Dataset[Hit] = q match {
    case FieldQ(f, inner) => compileNode(inner, stats, f, qn)

    case TermQ(term, boost) =>
      stats.get((field, term)) match {
        case None => spark.emptyDataset[Hit]
        case Some((df, ttf)) =>
          val scorer = makeScorer(field, df, boost, qn, ttf = ttf)
          bloomPrune(postingsSlim.filter(col("field") === field && col("term") === term),
              field, term).flatMap { p =>
            val (docIds, tfs, lens) = PostingsCodec.decodeDocs(p.df, p.docDeltas, p.tfs, p.lens)
            val out = new Array[Hit](docIds.length)
            var i = 0
            while (i < docIds.length) {
              out(i) = Hit(p.segmentId, docIds(i), scorer(tfs(i).toDouble, lens(i)))
              i += 1
            }
            out
          }
      }

    case BoolQ(clauses, msm) => compileBool(clauses, msm, stats, field, qn)

    case PhraseQ(terms, boost, slop) =>
      Leapfrog.phraseSlots(this, spark, field,
        terms.map { case (t, o) => (Set(t), o) }, boost, stats, slop, qn)

    case MultiPhraseQ(slots, boost) =>
      Leapfrog.phraseSlots(this, spark, field, slots, boost, stats, 0, qn)

    case SpanMatchQ(span, boost) => Leapfrog.spanMatch(this, spark, field, span, boost, stats)

    case SpanScoreQ(span, boost) => Leapfrog.spanScore(this, spark, field, span, boost, stats, qn)

    case PayloadNearQ(span, fn, boost) =>
      Leapfrog.payloadNear(this, spark, field, span, fn, boost, stats, qn)

    case MatchAllQ =>
      docs.select(col("segmentId"), col("docId")).as[(Int, Int)]
        .map { case (s, d) => Hit(s, d, 1.0d) }

    case ConstantScoreQ(inner, boost) =>
      val bd = boost.toDouble
      compileNode(inner, stats, field, qn).map(h => Hit(h.segmentId, h.docId, bd))

    case DisMaxQ(cs, tie) => compileDisMax(cs, tie, stats, field, qn)

    case PrefixQ(p) => constantScoreOver(col("term").startsWith(p), field)
    case RangeQ(lo, hi, incLo, incHi) =>
      var pred: Column = lit(true)
      if (lo != null) pred = pred && (if (incLo) col("term") >= lo else col("term") > lo)
      if (hi != null) pred = pred && (if (incHi) col("term") <= hi else col("term") < hi)
      constantScoreOver(pred, field)
    case WildcardQ(pat) => constantScoreOver(
      col("term").rlike("^" + Query.wildcardRegex(pat) + "$"), field,
      // gram-index candidate fetch: a leading wildcard (`*foo`) reads the
      // pattern's gram row groups, not the whole dictionary
      dictSource = wildcardGramCandidates(field, pat))
    case RegexpQ(re) => constantScoreOver(col("term").rlike("^" + re + "$"), field,
      dictSource = regexpGramCandidates(field, re))
    case LuceneRegexpQ(pattern) =>
      // Lucene's own RegExp dialect: sargable over-approximation prunes
      // (gram index + rlike), the memoized span matcher DECIDES — exactly
      // the automaton-intersects-dictionary split of the reference
      val ast = LuceneRegExp.parse(pattern)
      val relaxed = LuceneRegExp.relaxedJavaRegex(ast)
      val relaxedPred = col("term").rlike("^" + relaxed + "$")
      val src = regexpGramCandidates(field, relaxed)
      val expanded: Option[Array[String]] = {
        val cands = src match {
          case Some(s) => s.filter(relaxedPred)
          case None => dictTable match {
            case Some(dict) => dict.filter(col("field") === field && relaxedPred)
            case None => null
          }
        }
        if (cands == null) None
        else {
          val terms = cands.select("term").limit(ConstantScoreTermBudget + 1)
            .as[String].collect()
          if (terms.length <= ConstantScoreTermBudget) Some(terms) else None
        }
      }
      expanded match {
        case Some(terms) =>
          val exact = terms.filter(LuceneRegExp.matches(ast, _))
          if (exact.isEmpty) spark.emptyDataset[Hit]
          else postingsSlim
            .filter(col("field") === field && col("term").isInCollection(exact))
            .flatMap { p =>
              val (docIds, _, _) = PostingsCodec.decodeDocs(p.df, p.docDeltas, p.tfs, p.lens)
              docIds.map(id => (p.segmentId, id))
            }.distinct().map { case (s, d) => Hit(s, d, 1.0d) }
        case None =>
          // over-budget/stale-dict fallback: relaxed prune in-plan, exact
          // decision on EXECUTORS (the AST serializes with the closure) —
          // no driver collect scales with the expansion
          postingsSlim
            .filter(col("field") === field && relaxedPred)
            .flatMap { p =>
              if (!LuceneRegExp.matches(ast, p.term)) Iterator.empty
              else {
                val (docIds, _, _) = PostingsCodec.decodeDocs(p.df, p.docDeltas, p.tfs, p.lens)
                docIds.iterator.map(id => (p.segmentId, id))
              }
            }.distinct().map { case (s, d) => Hit(s, d, 1.0d) }
      }
    case FuzzyQ(t, maxEdits) =>
      val qLen = t.codePointCount(0, t.length)
      constantScoreOver(
        abs(length(col("term")) - lit(qLen)) <= maxEdits &&
          Searcher.pigeonholePred(t, maxEdits) &&
          levenshtein(col("term"), lit(t)) <= maxEdits, field,
        // gram-index (or length-band) candidate fetch before the verify
        dictSource = dictTable.map(_ => fuzzyDictScan(field, t, maxEdits)))

    case PayloadScoreQ(term, fn, boost) =>
      // PayloadTermQuery (includeSpanScore=false): decode the term's payload
      // stream alongside positions; per doc score = fn over the 4-byte-int
      // payloads (default 1.0 when the doc carries none)
      val bd = boost.toDouble
      postings.filter(col("field") === field && col("term") === term).flatMap { p =>
        val d = PostingsCodec.decode(p.df, p.docDeltas, p.tfs, p.positions, p.lens)
        if (p.payloads == null) d.docIds.map(id => Hit(p.segmentId, id, bd))
        else {
          val (starts, lens, flat) =
            PostingsCodec.decodePayloads(d.posStart(d.tfs.length), p.payloads)
          (0 until d.docIds.length).map { i =>
            var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue; var n = 0
            var k = d.posStart(i)
            while (k < d.posStart(i + 1)) {
              if (lens(k) == 4) {
                val v = graft.analysis.DelimitedPayloadAnalyzer.decodeInt(flat, starts(k))
                sum += v; if (v < mn) mn = v; if (v > mx) mx = v; n += 1
              }
              k += 1
            }
            val s = if (n == 0) 1.0 else fn match {
              case "min" => mn.toDouble
              case "max" => mx.toDouble
              case _ => sum.toDouble / n
            }
            Hit(p.segmentId, d.docIds(i), bd * s)
          }
        }
      }

    case FuzzyTopQ(t, maxEdits, maxExpansions, boost) =>
      val expanded = fuzzyExpand(field, t, maxEdits, maxExpansions)
      if (expanded.isEmpty) spark.emptyDataset[Hit]
      else {
        // plan as a scored SHOULD-disjunction in term order, clause boost =
        // query boost * expansion boost (TopTermsRewrite.AddClause)
        val clauses = expanded.map { case (term, _, b) =>
          Occur.Should -> (TermQ(term, boost * b): Query)
        }.toList
        val expStats: FTStats = expanded.map { case (term, df, _) =>
          (field, term) -> (df, 0L)
        }.toMap
        compileNode(BoolQ(clauses), stats ++ expStats, field, qn)
      }
  }

  /** FuzzyLikeThisQuery analog (/root/reference/src/contrib/Queries/
    * FuzzyLikeThisQuery.cs:190-318): "fuzzify" sample text — analyze each
    * sample, enumerate fuzzy variants per unique token (<= 50 per term,
    * MAX_VARIANTS_PER_TERM), score each variant
    * difference^2 * idf(df_src, numDocs) where df_src is the source term's
    * df (or the INTEGER-DIVISION average of the variants' dfs when the
    * source is absent, :236-240), keep the global top `maxNumTerms`, and
    * group variants of one source term into a nested SHOULD.
    *
    * Selection rows (srcOrdinal, src, variant, score) — deterministic order:
    * groups by first appearance, variants by (score asc, term asc), the
    * min-heap pop order analog. Scores are double (our ExactDouble
    * discipline; the reference's float chain agrees to rank on realistic
    * dictionaries). Variant enumeration is the pruned in-plan dictionary
    * scan (length band + pigeonhole + plan-side top-k) — no unbounded
    * collect.
    */
  def fuzzyLikeThisTerms(samples: Seq[(String, String)], maxNumTerms: Int = 50,
                         maxEdits: Int = 2,
                         minSimilarity: Double = 0d): Seq[(Int, String, String, Double)] = {
    val maxVariantsPerTerm = 50 // MAX_VARIANTS_PER_TERM
    val all = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Double)]
    var ord = 0
    samples.foreach { case (field, sample) =>
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      analyzer.tokenize(sample).map(_.term).foreach { t =>
        if (seen.add(t)) {
          val qLen = t.codePointCount(0, t.length)
          // eager localCheckpoint: the pruned scan (levenshtein included)
          // runs ONCE and feeds both the stats agg and the top-k collect
          val base = fuzzyDictScan(field, t, maxEdits)
            .withColumn("ed", levenshtein(col("term"), lit(t)))
            .filter(col("ed") <= maxEdits)
            .withColumn("sim", lit(1d) - col("ed").cast("double") /
              least(length(col("term")), lit(qLen)).cast("double"))
            .filter(col("sim") > minSimilarity)
            .localCheckpoint(true)
          // totalVariantDocFreqs/numVariants over ALL variants (:216-236);
          // the top-k cut happens in the plan, reference's bounded PQ
          val (numVariants, totalDf, srcDf) = base
            .agg(org.apache.spark.sql.functions.count(lit(1)),
              coalesce(sum("df"), lit(0L)),
              coalesce(sum(when(col("term") === t, col("df"))), lit(0L)))
            .as[(Long, Long, Long)].first()
          if (numVariants > 0) {
            val df0 = if (srcDf > 0) srcDf else totalDf / numVariants // int division, :236
            val idf = math.log(maxDoc / (df0 + 1).toDouble) + 1.0 // DefaultSimilarity.Idf
            base.orderBy(col("sim").desc, col("term").asc).limit(maxVariantsPerTerm)
              .select("term", "sim").as[(String, Double)].collect()
              .foreach { case (v, s) => all += ((ord, t, v, (s * s) * idf)) }
          }
          ord += 1
        }
      }
    }
    val selected = all.sortBy { case (_, _, term, score) => (-score, term) }.take(maxNumTerms)
    selected.sortBy { case (o, _, term, score) => (o, score, term) }.toSeq
  }

  /** The rewritten FuzzyLikeThis query (Rewrite:257-318): one SHOULD group
    * per source term; a group with several variants nests them as their own
    * SHOULD disjunction, each variant a TermQ boosted by its score. */
  def fuzzyLikeThisQuery(samples: Seq[(String, String)], maxNumTerms: Int = 50,
                         maxEdits: Int = 2, minSimilarity: Double = 0d): Query = {
    val rows = fuzzyLikeThisTerms(samples, maxNumTerms, maxEdits, minSimilarity)
    val groups = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val clauses = groups.map { case (_, vs) =>
      val tqs = vs.map { case (_, _, term, score) => TermQ(term, score.toFloat): Query }
      Occur.Should -> (if (tqs.size == 1) tqs.head
        else BoolQ(tqs.toList.map(Occur.Should -> _)))
    }.toList
    if (clauses.size == 1) clauses.head._2 else BoolQ(clauses)
  }

  /** Dictionary expansion for FuzzyTopQ: (term, df, boost) sorted in term
    * order, top-maxExpansions by (boost desc, term asc) — the
    * FuzzyTermsEnum boost (raw-edits: similarity with minSim=0, scale=1) +
    * TopTermsRewrite PQ selection (TopTermsRewrite.cs:72-87 bounded PQ).
    *
    * The selection runs IN THE PLAN (TakeOrderedAndProject limit before the
    * collect — the distributed analog of the reference's bounded PQ): only
    * the <= maxExpansions winners ever reach the driver, so a maxEdits=2
    * query against a web-scale dictionary cannot collect millions of
    * candidates. The boost float math stays bit-identical to the reference
    * (float division, not double-div-then-round) via the native FuzzyBoost
    * expression over the already-filtered candidates.
    */
  private def fuzzyExpand(field: String, term: String, maxEdits: Int,
                          maxExpansions: Int): Array[(String, Long, Float)] = {
    val qLen = term.codePointCount(0, term.length)
    val cap = math.min(maxExpansions, Query.MaxClauseCount)
    // length-band (Parquet-row-group-prunable via the dict's sorted `len`
    // column) + pigeonhole substring prune (the EDJoin/PassJoin filter)
    // BEFORE the levenshtein evaluation — fuzzyDictScan
    fuzzyDictScan(field, term, maxEdits)
      .withColumn("ed", levenshtein(col("term"), lit(term)))
      .filter(col("ed") <= maxEdits)
      .withColumn("boost",
        graft.functions.ScalarExpressions.fuzzyBoost(col("term"), col("ed"), qLen))
      .filter(col("boost") > 0f) // minSimilarity = 0 bound (ed==0 -> 1f)
      .orderBy(col("boost").desc, col("term").asc)
      .limit(cap)
      .select("term", "df", "boost").as[(String, Long, Float)].collect()
      .sortBy(_._1) // final clause assembly is in term order
  }

  /** Term-count budget for the dictionary-first constant-score plan — the
    * ConstantScoreAutoRewrite cutover (Search/ConstantScoreAutoRewrite.cs:
    * term-count budget; larger expansions fall back to the full predicate
    * scan over postings). */
  private val ConstantScoreTermBudget = 4096

  /** Dictionary-expanding queries (MultiTermQuery family, SURVEY.md §2.5),
    * CONSTANT_SCORE_FILTER rewrite (Search/MultiTermQuery.cs:97). Expansion
    * runs against the dictionary table first (~1000x smaller than postings);
    * the matched terms then hit postings as an in-list (Parquet min/max
    * prunable). Expansions above the budget — or a stale dictionary — fall
    * back to the predicate scan over postings metadata.
    */
  private def constantScoreOver(termPred: Column, field: String,
                                /** Pre-filtered candidate SUPERSET with a
                                  * `term` column (a fuzzyDictScan or gram-
                                  * index fetch) used instead of the full
                                  * dictionary scan; termPred still verifies
                                  * every candidate exactly. */
                                dictSource: Option[DataFrame] = None): Dataset[Hit] = {
    val expanded: Option[Array[String]] = dictSource match {
      case Some(src) =>
        val terms = src.filter(termPred)
          .select("term").limit(ConstantScoreTermBudget + 1)
          .as[String].collect()
        if (terms.length <= ConstantScoreTermBudget) Some(terms) else None
      case None => dictTable.flatMap { dict =>
        val terms = dict.filter(col("field") === field && termPred)
          .select("term").limit(ConstantScoreTermBudget + 1)
          .as[String].collect()
        if (terms.length <= ConstantScoreTermBudget) Some(terms) else None
      }
    }
    val rows = expanded match {
      case Some(terms) if terms.isEmpty => return spark.emptyDataset[Hit]
      case Some(terms) =>
        postingsSlim.filter(col("field") === field && col("term").isInCollection(terms))
      case None =>
        postingsSlim.filter(col("field") === field && termPred)
    }
    rows.flatMap { p =>
      val (docIds, _, _) = PostingsCodec.decodeDocs(p.df, p.docDeltas, p.tfs, p.lens)
      docIds.map(id => (p.segmentId, id))
    }.distinct().map { case (s, d) => Hit(s, d, 1.0d) }
  }

  /** MUST-term df under which the other clause streams are pruned map-side by
    * a broadcast semi-join on the rarest MUST clause's doc set. */
  private val SemiJoinPruneDf = 100000L

  /** Resolve a clause to (field, TermQ) through FieldQ wrappers, if it is a
    * plain (possibly field-bound) term. */
  private def asFieldTerm(q: Query, field: String): Option[(String, TermQ)] = q match {
    case t: TermQ => Some((field, t))
    case FieldQ(f, inner) => asFieldTerm(inner, f)
    case _ => None
  }

  /** Per-doc coordination factors (Coordinator.CoordFactors,
    * BooleanScorer2.cs:44-53): index = number of matching scoring clauses;
    * identity under BM25 (Similarity.Coord = 1).
    */
  private def coordFactors(maxCoord: Int): Array[Double] = (similarity, mode) match {
    case _ if perFieldSimilarity.nonEmpty =>
      Array.fill(maxCoord + 1)(1d) // wrapper never overrides Coord (base 1f)
    case (TfIdfSim | SweetSpotSim(_, _, _, _, _), LuceneFloat) =>
      Array.tabulate(maxCoord + 1)(i => (i / maxCoord.toFloat).toDouble)
    case (TfIdfSim | SweetSpotSim(_, _, _, _, _), ExactDouble) =>
      Array.tabulate(maxCoord + 1)(i => i.toDouble / maxCoord)
    case _ => Array.fill(maxCoord + 1)(1d) // BM25 / LM: Similarity.Coord = 1f
  }

  private def compileBool(clauses: List[(Occur.Value, Query)], msm: Int,
                          stats: FTStats, field: String, qn: Double): Dataset[Hit] = {
    val scoringIdx = clauses.zipWithIndex.filter(_._1._1 != Occur.MustNot)
    if (scoringIdx.isEmpty) return spark.emptyDataset[Hit] // prohibited-only matches nothing
    val coords = coordFactors(scoringIdx.size)

    // Boolean-of-terms (field-bound terms included): per-segment leapfrog
    // over compressed posting rows — no shuffle of decoded hits at all
    // (ConjunctionScorer/BS2 analog)
    val asTerms = clauses.map { case (o, q) => asFieldTerm(q, field).map(ft => (o, ft._1, ft._2)) }
    if (asTerms.forall(_.isDefined))
      return Leapfrog.boolTerms(this, spark, asTerms.map(_.get), msm, stats, qn, coords)

    // mixed tree with a rare MUST term: every other clause's decoded stream
    // is semi-joined (broadcast, map-side) against the rarest MUST clause's
    // doc set before the union — the shuffle becomes result-bounded instead
    // of max-df-bounded (the left_semi fallback of VERDICT r1 #1)
    val mustTerms = clauses.filter(_._1 == Occur.Must).flatMap(c => asFieldTerm(c._2, field))
      .filter { case (f, t) => stats.contains((f, t.term)) }
    val rarest: Option[(String, TermQ)] =
      if (mustTerms.isEmpty) None
      else {
        val r = mustTerms.minBy { case (f, t) => stats((f, t.term))._1 }
        if (stats((r._1, r._2.term))._1 <= SemiJoinPruneDf) Some(r) else None
      }
    val pruneSet = rarest.map { case (f, t) =>
      broadcast(compileNode(t, stats, f, qn).select(col("segmentId"), col("docId")))
    }

    val streams = clauses.zipWithIndex.map { case ((_, cq), i) =>
      val s0 = compileNode(cq, stats, field, qn)
      val s = pruneSet match {
        case Some(p) => s0.join(p, Seq("segmentId", "docId"), "left_semi").as[Hit]
        case _ => s0
      }
      s.withColumn("clause", lit(i))
    }
    val unioned = streams.reduce(_ unionByName _)

    val aggs = clauses.indices.flatMap { i =>
      Seq(
        sum(when(col("clause") === i, col("score"))).as(s"s$i"),
        max(when(col("clause") === i, lit(1)).otherwise(lit(0))).as(s"m$i"))
    }
    val g = unioned.groupBy(col("segmentId"), col("docId")).agg(aggs.head, aggs.tail: _*)

    val musts = clauses.zipWithIndex.filter(_._1._1 == Occur.Must).map(_._2)
    val nots = clauses.zipWithIndex.filter(_._1._1 == Occur.MustNot).map(_._2)
    val shoulds = clauses.zipWithIndex.filter(_._1._1 == Occur.Should).map(_._2)

    var cond: Column = lit(true)
    musts.foreach(i => cond = cond && col(s"m$i") === 1)
    nots.foreach(i => cond = cond && col(s"m$i") === 0)
    val needed = math.max(msm, if (musts.isEmpty && shoulds.nonEmpty) 1 else 0)
    if (needed > 0 && shoulds.nonEmpty) {
      val shouldCount = shoulds.map(i => col(s"m$i")).reduce(_ + _)
      cond = cond && shouldCount >= needed
    } else if (needed > shoulds.size) {
      cond = lit(false)
    }

    // clause-ordered accumulation: ((s0 + s1) + s2)... in the mode's
    // precision, then * coordFactors[matched] (BooleanScorer2.cs:348-353)
    val chain = scoringIdx.map { case (_, i) => coalesce(col(s"s$i"), lit(0d)).cast(scoreCast) }
      .reduce((a, b) => (a + b).cast(scoreCast))
    val scoreExpr =
      if (similarity == Bm25Sim) chain
      else {
        val matched = scoringIdx.map { case (_, i) => col(s"m$i") }.reduce(_ + _)
        (chain * element_at(lit(coords), matched + 1).cast(scoreCast)).cast(scoreCast)
      }

    g.filter(cond)
      .select(col("segmentId"), col("docId"), scoreExpr.cast("double").as("score"))
      .as[Hit]
  }

  private def compileDisMax(cs: List[Query], tie: Float,
                            stats: FTStats, field: String, qn: Double): Dataset[Hit] = {
    // disjunction-max of (field-bound) terms: per-segment cursor walk over
    // compressed rows (DisjunctionMaxScorer analog) — no groupBy shuffle
    val asTerms = cs.map(asFieldTerm(_, field))
    if (asTerms.forall(_.isDefined))
      return Leapfrog.disMaxTerms(this, spark, asTerms.map(_.get), tie, stats, qn)

    val streams = cs.zipWithIndex.map { case (cq, i) =>
      compileNode(cq, stats, field, qn).withColumn("clause", lit(i))
    }
    val unioned = streams.reduce(_ unionByName _)
    val aggs = cs.indices.map(i => sum(when(col("clause") === i, col("score"))).as(s"s$i"))
    val g = unioned.groupBy(col("segmentId"), col("docId")).agg(aggs.head, aggs.tail: _*)
    val mx = greatest(cs.indices.map(i => coalesce(col(s"s$i").cast(scoreCast), lit(Float.MinValue))): _*)
    val sumOrdered = cs.indices.map(i => coalesce(col(s"s$i"), lit(0d)).cast(scoreCast))
      .reduce((a, b) => (a + b).cast(scoreCast))
    val score = (mx + (lit(tie).cast(scoreCast) * (sumOrdered - mx)).cast(scoreCast)).cast("double")
    g.select(col("segmentId"), col("docId"), score.as("score")).as[Hit]
  }

  // ---------------------------------------------------------------- serve

  /** Top-k search returning (url, score, segmentId, docId), rank order.
    * Pure term-disjunctions in LuceneFloat mode route through Block-Max WAND
    * automatically (the reference likewise picks its specialist scorer —
    * BooleanQuery.cs:429-495); all other shapes take the DataFrame plan.
    * Identity of the two paths is pinned by WandSpec. Like every top-k
    * entry point, it runs the query when called and returns the k rows as a
    * local DataFrame (see [[topK]]).
    */
  def search(q: Query, k: Int): DataFrame = {
    (mode, wandOrTerms(q)) match {
      case (LuceneFloat, Some((f, terms))) if !largeDeletes =>
        Wand.searchOr(this, spark, indexPath, f, terms, k)
      case _ => searchPlan(q, k)
    }
  }

  /** The finisher of every top-k entry point — TopDocs.Merge, then the
    * stored fields of just the winners: rank `hits` on the driver
    * ([[Searcher.HitRank]]), keep the first k, point-read their urls from
    * their segments' `docs` files, and return them in rank order as a local
    * DataFrame of [[Searcher.TopKSchema]] — neither the read nor collecting
    * the result starts a job. `hits` are per-partition survivors (at most k
    * each), so the driver holds at most k × partitions hits. */
  private[search] def topK(hits: Seq[Hit], k: Int): DataFrame = {
    val winners = hits.sorted(Searcher.HitRank).take(k)
    val urls: Map[(Int, Int), String] =
      winners.filter(h => liveSegments(h.segmentId)).groupBy(_.segmentId).iterator.flatMap {
        case (seg, hs) =>
          val ids = hs.map(_.docId).toSet
          points.read(s"${IndexBuilder.docsPath(indexPath)}/segmentId=$seg", Seq("docId", "url"),
              _ => Some(PointReader.intIn("docId", ids)))(r => ids(r(0).asInstanceOf[Int]))
            .map(r => (seg, r(0).asInstanceOf[Int]) -> r(1).asInstanceOf[String])
      }.toMap
    val rows = winners.flatMap(h => urls.get((h.segmentId, h.docId))
      .map(url => Row(url, h.score, h.segmentId, h.docId)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Searcher.TopKSchema)
  }

  /** Top k of a hit stream: a bounded heap per partition, merged on the
    * driver (TopScoreDocCollector per segment + TopDocs.Merge). */
  private def topK(hits: Dataset[Hit], k: Int): DataFrame =
    topK(hits.rdd.takeOrdered(k)(Searcher.HitRank).toSeq, k)

  /** The DataFrame-plan top-k path (no WAND dispatch); runs the query when
    * called. */
  def searchPlan(q: Query, k: Int): DataFrame = topK(compile(q), k)

  /** Paging (TopScoreDocCollector.SearchAfter, :90-112): strictly after the
    * (score, segmentId, docId) cursor in rank order; runs the query when
    * called.
    */
  def searchAfter(q: Query, k: Int, afterScore: Double, afterSeg: Int, afterDoc: Int): DataFrame =
    topK(compile(q).filter(
      col("score") < afterScore ||
        (col("score") === afterScore &&
          (col("segmentId") > afterSeg ||
            (col("segmentId") === afterSeg && col("docId") > afterDoc)))), k)

  def count(q: Query): Long = compile(q).count()

  /** Time-limited collection (Search/TimeLimitingCollector.cs:39,165-178) —
    * the reference aborts collection when an external clock passes a budget
    * and surfaces the partial result via TimeExceededException. The
    * deterministic distributed analog meters WORK, not wall-clock: each
    * segment may score at most `tickBudget` docs (one collected doc = one
    * clock tick), truncation happens per segment in docId order exactly
    * where the reference's sequential collect() would stop, and `timedOut`
    * reports whether any segment hit its budget. A wall-clock budget would
    * make results nondeterministic under load — this keeps the greedy-
    * collector contract (collect up to the tick, report partiality)
    * reproducible and oracle-checkable. Runs the query when called.
    */
  def searchTimeLimited(q: Query, k: Int, tickBudget: Long): (DataFrame, Boolean) = {
    import org.apache.spark.sql.expressions.Window
    // ONE scoring pass: keep budget+1 rows per segment (the extra row is the
    // overflow sentinel), pin the tiny result, then derive both the partial
    // top-k and the timed-out flag from it
    val cap = if (tickBudget >= Long.MaxValue - 1) tickBudget else tickBudget + 1
    val head = compile(q).withColumn("rn",
        row_number().over(Window.partitionBy(col("segmentId")).orderBy(col("docId").asc)))
      .filter(col("rn") <= cap)
      .localCheckpoint(true)
    val timedOut = cap > tickBudget && !head.filter(col("rn") > tickBudget).isEmpty
    (topK(head.filter(col("rn") <= tickBudget).drop("rn").as[Hit], k), timedOut)
  }

  /** Caching collector (Search/CachingCollector.cs:125-143,199-201): the
    * scored hit stream is computed ONCE, pinned, and replayed to any number
    * of downstream collectors (count, top-k, facets) without re-running the
    * query. The reference bounds the cache by maxRAMMB and refuses replay
    * past it; Spark's MEMORY_AND_DISK persist spills instead of failing, so
    * the bound is implicit. Call `release()` when done (the collector is
    * single-use in the reference; here it is reusable until released).
    */
  def cacheHits(q: Query): CachedHits =
    new CachedHits(compile(q).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** Decoded postings of one term joined to doc keys: (url, tf, fieldLen);
    * deleted docs excluded (TermDocs honors liveDocs). */
  def termPostings(term: String, field: String = defaultField): DataFrame = {
    val b = deletedB
    val hasDeletes = deletedDocs.nonEmpty
    val stream0 = bloomPrune(postingsSlim.filter(col("field") === field && col("term") === term),
        field, term).flatMap { p =>
      val (docIds, tfs, lens) = PostingsCodec.decodeDocs(p.df, p.docDeltas, p.tfs, p.lens)
      val del = if (hasDeletes) b.value.getOrElse(p.segmentId, Array.empty[Int]) else Array.empty[Int]
      (0 until docIds.length)
        .filter(i => del.isEmpty || java.util.Arrays.binarySearch(del, docIds(i)) < 0)
        .map(i => (p.segmentId, docIds(i), tfs(i), lens(i)))
    }.toDF("segmentId", "docId", "tf", "fieldLen")
    val stream =
      if (!largeDeletes) stream0
      else stream0.join(graft.build.Deletes.deletedDf(spark, indexPath),
        Seq("segmentId", "docId"), "left_anti")
    stream.join(docs.select("segmentId", "docId", "url"), Seq("segmentId", "docId"))
      .select("url", "tf", "fieldLen")
  }

  /** Per-occurrence character offsets of `terms`, decoded straight from the
    * postings' OFFSET stream — the PostingsHighlighter input
    * (Lucene.Net.Highlighter/Postingshighlight/PostingsHighlighter.cs reads
    * offsets from DocsAndPositionsEnum, never term vectors, never the
    * analyzer): (segmentId, docId, term, start, end) rows, one per
    * occurrence, deleted docs excluded. Requires an index built with
    * IndexOptions ..._AND_OFFSETS (BuildConfig.indexOffsets). */
  def postingsOffsets(terms: Seq[String], field: String = defaultField): DataFrame = {
    require(cfg.indexOffsets, s"index at $indexPath was built without indexOffsets")
    val stream0 = postings
      .filter(col("field") === field && col("term").isInCollection(terms))
      .flatMap { p =>
        val d = PostingsCodec.decode(p.df, p.docDeltas, p.tfs, p.positions, p.lens)
        val (os, oe) = PostingsCodec.decodeOffsets(d.tfs, p.offsets)
        (0 until d.docIds.length).iterator.flatMap { i =>
          (d.posStart(i) until d.posStart(i + 1)).map { k =>
            (p.segmentId, d.docIds(i), p.term, os(k), oe(k))
          }
        }
      }.toDF("segmentId", "docId", "term", "start", "end")
    if (deletedCount == 0) stream0
    else stream0.join(graft.build.Deletes.deletedDf(spark, indexPath),
      Seq("segmentId", "docId"), "left_anti")
  }

  /** Term dictionary of one field with global stats: (term, df, ttf). */
  def dictionary(field: String = defaultField): DataFrame = dictTable match {
    case Some(dict) => dict.filter(col("field") === field).select("term", "df", "ttf")
    case None =>
      postingsRaw.filter(col("field") === field)
        .groupBy("term").agg(sum("df").cast("long").as("df"), sum("ttf").cast("long").as("ttf"))
  }

  /** Fuzzy candidate scan: dictionary entries surviving the length-band and
    * pigeonhole prunes for `term` within `maxEdits` (a superset of the true
    * matches — callers still verify with levenshtein). When the dictionary
    * carries the materialized `len` column (DictTable range-sorts the table
    * by (field, len, term)), the band predicate is a plain column range that
    * Parquet row-group min/max stats PRUNE — the scan reads ~2*maxEdits+1
    * length slices of the dictionary, not the whole table (the storage-level
    * stand-in for the reference's Levenshtein-automaton term walk,
    * Util/Automaton/LevenshteinAutomata.cs / Index/AutomatonTermsEnum.cs).
    * Older dictionaries without `len` (and the stale-dict postings fallback)
    * evaluate the band per row instead.
    */
  def fuzzyDictScan(field: String, term: String, maxEdits: Int,
                    useGrams: Boolean = true): DataFrame = {
    val qLen = term.codePointCount(0, term.length)
    // Sublinear path: positional-bigram count filtering (the positional
    // q-gram lemma — ed <= e implies >= max(|s|,|t|)-1-2e shared positional
    // bigrams within position distance e). Gram equality against the
    // (field, gram)-sorted dict_grams table prunes the scan to the query's
    // own gram row groups — the columnar analog of the reference's
    // Levenshtein-automaton FST walk (Index/AutomatonTermsEnum.cs), which
    // is sublinear for the same reason: it touches only viable dictionary
    // regions. Valid only when the minimum shared-gram bound is >= 1
    // (otherwise a true match could share NO gram and be missed).
    val qGrams = graft.build.DictTable.positionalBigrams(term)
    val gramPath = gramsTable
      .filter(_ => useGrams && qLen - 1 - 2 * maxEdits >= 1 && qGrams.nonEmpty)
      .map { g =>
        val qg = qGrams.toSeq.toDF("gram", "qpos")
        g.filter(col("field") === field &&
            col("gram").isInCollection(qGrams.map(_._1).distinct.toSeq) &&
            col("len") >= qLen - maxEdits && col("len") <= qLen + maxEdits)
          .join(broadcast(qg), Seq("gram"))
          .filter(abs(col("pos") - col("qpos")) <= maxEdits)
          // join pairs over-count vs the lemma's one-to-one matching: safe
          // (candidate SUPERSET); the levenshtein verify downstream is exact
          .groupBy("term", "df", "ttf", "len")
          .agg(org.apache.spark.sql.functions.count(lit(1)).as("shared"))
          .filter(col("shared") >= greatest(lit(qLen), col("len")) - 1 - 2 * maxEdits)
          .select("term", "df", "ttf")
      }
    val base = gramPath.getOrElse(dictTable match {
      case Some(dict) if dict.columns.contains("len") =>
        dict.filter(col("field") === field &&
            col("len") >= qLen - maxEdits && col("len") <= qLen + maxEdits)
          .select("term", "df", "ttf")
      case _ =>
        dictionary(field)
          .filter(abs(length(col("term")) - lit(qLen)) <= maxEdits)
    })
    base.filter(Searcher.pigeonholePred(term, maxEdits))
  }

  /** Wildcard candidate fetch from the gram index: every match must contain
    * each bigram of every LITERAL RUN of the pattern, so terms carrying all
    * required grams (gram-equality scan + count) are a candidate superset —
    * the leading-wildcard case (`*foo`) stops being a full dictionary scan.
    * None when the pattern has no 2-codepoint literal run or no gram table.
    * (The reference reaches the same queries through CompiledAutomaton's
    * common-suffix/prefix extraction — Util/Automaton/CompiledAutomaton.cs.)
    */
  /** Gram-index candidate fetch for literal runs (wildcard `*?` splits or
    * regexp mandatory literals): terms carrying EVERY bigram of every run —
    * a superset of the matches, fetched by sorted-gram equality instead of
    * scanning the whole dictionary. */
  private def gramCandidatesForRuns(field: String, runs: Seq[String]): Option[DataFrame] = {
    val required = runs.filter(r => r.codePointCount(0, r.length) >= 2)
      .flatMap(r => graft.build.DictTable.positionalBigrams(r).map(_._1)).distinct
    if (required.isEmpty) None
    else gramsTable.map { g =>
      // the distinct grams as a set: one shuffle, where countDistinct plans two
      g.filter(col("field") === field && col("gram").isInCollection(required))
        .groupBy("term", "df", "ttf")
        .agg(size(collect_set(col("gram"))).as("ng"))
        .filter(col("ng") === required.length)
        .select("term", "df", "ttf")
    }
  }

  private def wildcardGramCandidates(field: String, pattern: String): Option[DataFrame] =
    gramCandidatesForRuns(field, pattern.split("[*?]+").toSeq)

  /** RegexpQuery candidates via the mandatory-literal factoring
    * (Searcher.regexLiteralRuns) — the rlike predicate still verifies every
    * candidate exactly; None (no extractable literals) keeps the full
    * dictionary-scan path. */
  private def regexpGramCandidates(field: String, re: String): Option[DataFrame] =
    gramCandidatesForRuns(field, Searcher.regexLiteralRuns(re))

  /** Per-field analyzers from the index config (PerFieldAnalyzerWrapper
    * analog): `field:` clauses are analyzed with that field's chain. */
  @transient private lazy val fieldAnalyzers: Map[String, graft.analysis.Analyzer] =
    cfg.fieldList.map { case (f, a) => f -> Analyzers.byName(a) }.toMap

  /** Parse with the index's analyzers and search (QueryParser path,
    * SURVEY.md §3.3); field-bound clauses use their field's analyzer. */
  def searchText(queryText: String, k: Int): DataFrame =
    search(QueryParser.parse(queryText, analyzer, fieldAnalyzers), k)

  /** Block-Max WAND fast path for pure term-disjunctions (LuceneFloat mode);
    * other query shapes (and ExactDouble mode) fall back to the DataFrame
    * plan: the same dispatch as [[search]] (identical results by
    * construction — validated in WandSpec). Runs the query when called.
    */
  def searchWand(q: Query, k: Int): DataFrame = search(q, k)

  // ---------------------------------------------------------------- explain

  /** Per-doc postings view for explain: (field, term) -> (tf, len, positions)
    * of exactly one (segment, doc) — a pruned scan + block-seek per term.
    */
  private def docView(keys: Set[(String, String)], seg: Int,
                      doc: Int): Map[(String, String), (Int, Int, Array[Int])] = {
    if (keys.isEmpty) return Map.empty
    val pred = keys.groupBy(_._1).map { case (f, ks) =>
      col("field") === f && col("term").isInCollection(ks.map(_._2))
    }.reduce(_ || _)
    postings.filter(col("segmentId") === seg && pred).flatMap { p =>
      val c = new PostingCursor(p.df, p.docDeltas, p.tfs, p.lens, p.skips, p.positions)
      c.advance(doc)
      if (!c.exhausted && c.doc == doc) Some(((p.field, p.term), (c.tf, c.len, c.positions())))
      else None
    }.collect().toMap // piece rows have disjoint ranges: at most one matches
  }

  /** Payload lookup for explain over one (segment, doc) — only materialized
    * when the span tree contains payload checks; decodes the keys' payload
    * streams exactly like the serving path's PayloadIndex. */
  private def explainPayLookup(span: SpanQ, field: String, seg: Int,
                               doc: Int): SpanMatcher.PayLookup = {
    if (!SpanMatcher.needsPayloads(span)) return SpanMatcher.NoPayloads
    val keys = SpanMatcher.fieldTermsOf(span, field)
    val pred = keys.groupBy(_._1).map { case (f, ks) =>
      col("field") === f && col("term").isInCollection(ks.map(_._2))
    }.reduce(_ || _)
    val rows = postings.filter(col("segmentId") === seg && pred).flatMap { p =>
      if (p.payloads == null) None
      else {
        val d = PostingsCodec.decode(p.df, p.docDeltas, p.tfs, p.positions, p.lens)
        val di = java.util.Arrays.binarySearch(d.docIds, doc)
        if (di < 0) None
        else {
          val (starts, lens, flat) =
            PostingsCodec.decodePayloads(d.posStart(d.tfs.length), p.payloads)
          val ks = d.posStart(di) until d.posStart(di + 1)
          Some((p.field, p.term,
            ks.map(d.posFlat).toArray,
            ks.map(k => if (lens(k) == 0) null
              else java.util.Arrays.copyOfRange(flat, starts(k), starts(k) + lens(k))).toArray))
        }
      }
    }.collect()
    val byKey: Map[(String, String), Map[Int, Array[Byte]]] = rows.map {
      case (f, t, ps, pls) =>
        (f, t) -> ps.zip(pls).filter(_._2 != null).toMap
    }.toMap
    (f, t, p) => byKey.get((f, t)).flatMap(_.get(p)).orNull
  }

  /** IndexSearcher.Explain analog (Search/IndexSearcher.cs:692): decompose
    * the score of one (segment, doc) for `q`. The returned value equals the
    * compile() score exactly (same scorer closures compute both).
    */
  def explain(q0: Query, segmentId: Int, docId: Int): Explanation = {
    val q = Query.rewrite(q0)
    if (isDeleted(segmentId, docId))
      return Explanation.noMatch(s"doc ($segmentId,$docId) is deleted")
    val stats = fieldTermStats(Query.fieldTerms(q, defaultField))
    val qn = queryNorm(q, stats)
    // pre-resolve dictionary expansions so the doc view covers them
    val dv = docView(explainKeys(q, defaultField, stats), segmentId, docId)
    explainNode(q, stats, defaultField, qn, dv, segmentId, docId)
  }

  /** (field, term) keys needed by explain, including dictionary expansions. */
  private def explainKeys(q: Query, field: String, stats: FTStats): Set[(String, String)] = q match {
    case FieldQ(f, inner) => explainKeys(inner, f, stats)
    case BoolQ(cs, _) => cs.flatMap(c => explainKeys(c._2, field, stats)).toSet
    case DisMaxQ(cs, _) => cs.flatMap(explainKeys(_, field, stats)).toSet
    case ConstantScoreQ(inner, _) => explainKeys(inner, field, stats)
    case PrefixQ(p) => expandDict(field, col("term").startsWith(p))
    case RangeQ(lo, hi, il, ih) =>
      var pred: Column = lit(true)
      if (lo != null) pred = pred && (if (il) col("term") >= lo else col("term") > lo)
      if (hi != null) pred = pred && (if (ih) col("term") <= hi else col("term") < hi)
      expandDict(field, pred)
    case WildcardQ(p) =>
      val pred = col("term").rlike("^" + Query.wildcardRegex(p) + "$")
      wildcardGramCandidates(field, p) match {
        case Some(src) => src.filter(pred).select("term")
          .limit(ConstantScoreTermBudget).as[String].collect().map((field, _)).toSet
        case None => expandDict(field, pred)
      }
    case RegexpQ(re) =>
      val pred = col("term").rlike("^" + re + "$")
      regexpGramCandidates(field, re) match {
        case Some(src) => src.filter(pred).select("term")
          .limit(ConstantScoreTermBudget).as[String].collect().map((field, _)).toSet
        case None => expandDict(field, pred)
      }
    case LuceneRegexpQ(pattern) =>
      val ast = LuceneRegExp.parse(pattern)
      val relaxed = LuceneRegExp.relaxedJavaRegex(ast)
      val pred = col("term").rlike("^" + relaxed + "$")
      val sup = regexpGramCandidates(field, relaxed) match {
        case Some(src) => src.filter(pred).select("term")
          .limit(ConstantScoreTermBudget).as[String].collect().map((field, _)).toSet
        case None => expandDict(field, pred)
      }
      sup.filter { case (_, t) => LuceneRegExp.matches(ast, t) }
    case FuzzyQ(t, me) =>
      fuzzyDictScan(field, t, me)
        .filter(levenshtein(col("term"), lit(t)) <= me)
        .select("term").limit(ConstantScoreTermBudget).as[String].collect()
        .map((field, _)).toSet
    case FuzzyTopQ(t, me, mx, _) =>
      fuzzyExpand(field, t, me, mx).map(e => (field, e._1)).toSet
    case other => Query.fieldTerms(other, field)
  }

  /** Budgeted like constantScoreOver: explain only needs to know whether the
    * doc under explanation holds ANY expanded term, and the compile path's
    * own rewrite is capped at the same budget — so the collect is bounded. */
  /** Parser-level multi-term expansion (the SCORING_BOOLEAN_QUERY_REWRITE
    * analog used by ComplexPhraseQueryParser.Rewrite and the surround
    * parser's SimpleTerm visitor): the dictionary terms a multi-term query
    * matches on `field`, deterministic order, budget-capped. */
  def expandMultiTerm(field: String, q: Query, limit: Int = ConstantScoreTermBudget): Seq[String] =
    explainKeys(q, field, Map.empty).toSeq.map(_._2).sorted.take(limit)

  private def expandDict(field: String, pred: Column): Set[(String, String)] =
    dictionary(field).filter(pred).select("term")
      .limit(ConstantScoreTermBudget).as[String].collect()
      .map((field, _)).toSet

  private def explainNode(q: Query, stats: FTStats, field: String, qn: Double,
                          dv: Map[(String, String), (Int, Int, Array[Int])],
                          seg: Int, doc: Int): Explanation = q match {
    case FieldQ(f, inner) => explainNode(inner, stats, f, qn, dv, seg, doc)

    case TermQ(term, boost) =>
      (stats.get((field, term)), dv.get((field, term))) match {
        case (Some((df, ttf)), Some((tf, len, _))) =>
          val s = makeScorer(field, df, boost, qn, ttf = ttf)(tf.toDouble, len)
          Explanation(s, s"weight($field:$term) [${similarity}], product of:", Seq(
            Explanation(idfDouble(df), s"idf(df=$df, maxDoc=$maxDoc)"),
            Explanation(tf.toDouble, "termFreq"),
            Explanation(len.toDouble, "fieldLength"),
            Explanation(boost.toDouble, "boost"),
            Explanation(qn, "queryNorm")))
        case _ => Explanation.noMatch(s"no match on $field:$term")
      }

    case BoolQ(clauses, msm) =>
      val scoring = clauses.filter(_._1 != Occur.MustNot)
      val det = clauses.map { case (occ, cq) =>
        occ -> explainNode(cq, stats, field, qn, dv, seg, doc)
      }
      val notsMatched = det.exists { case (o, e) => o == Occur.MustNot && e.matched }
      val mustsMissed = det.exists { case (o, e) => o == Occur.Must && !e.matched }
      val shouldMatched = det.count { case (o, e) => o == Occur.Should && e.matched }
      val needed = math.max(msm,
        if (!clauses.exists(_._1 == Occur.Must) && clauses.exists(_._1 == Occur.Should)) 1 else 0)
      val childDetails = det.map { case (o, e) => e.copy(description = s"[$o] ${e.description}") }
      if (scoring.isEmpty) Explanation.noMatch("prohibited-only boolean", childDetails)
      else if (notsMatched) Explanation.noMatch("a MUST_NOT clause matched", childDetails)
      else if (mustsMissed) Explanation.noMatch("a MUST clause did not match", childDetails)
      else if (shouldMatched < needed)
        Explanation.noMatch(s"minShouldMatch: $shouldMatched < $needed", childDetails)
      else {
        val scoringDet = det.filter(_._1 != Occur.MustNot).map(_._2)
        val matched = scoringDet.count(_.matched)
        val coords = coordFactors(scoring.size)
        val chain: Double = mode match {
          case LuceneFloat =>
            var acc = 0f
            scoringDet.foreach(e => if (e.matched) acc += e.value.toFloat)
            (acc * coords(matched).toFloat).toDouble
          case ExactDouble =>
            var acc = 0d
            scoringDet.foreach(e => if (e.matched) acc += e.value)
            acc * coords(matched)
        }
        Explanation(chain, s"sum of clauses * coord($matched/${scoring.size})",
          childDetails :+ Explanation(coords(matched), "coord"))
      }

    case PhraseQ(terms, boost, slop) =>
      explainPhrase(terms.map { case (t, o) => (Set(t), o) }, boost, slop, stats, field, qn, dv)
    case MultiPhraseQ(slots, boost) =>
      explainPhrase(slots, boost, 0, stats, field, qn, dv)

    case SpanMatchQ(span, boost) =>
      val pos: SpanMatcher.PosLookup =
        (f, t) => dv.get((f, t)).map(_._3).getOrElse(SpanMatcher.NoPositions)
      if (SpanMatcher.matchesF(span, field, pos, explainPayLookup(span, field, seg, doc)))
        Explanation(boost.toDouble, s"span match, constant $boost")
      else Explanation.noMatch("span did not match")

    case SpanScoreQ(span, boost) =>
      val keys = SpanMatcher.fieldTermsOf(span, field).toList.sorted
      val entries = keys.flatMap(k => dv.get(k).map(k -> _))
      val pos: SpanMatcher.PosLookup =
        (f, t) => dv.get((f, t)).map(_._3).getOrElse(SpanMatcher.NoPositions)
      val spans = SpanMatcher.spansF(span, field, pos, explainPayLookup(span, field, seg, doc))
      if (spans.isEmpty) Explanation.noMatch("span did not match")
      else {
        // norm length from the top (masked) field, like the serving path
        val len = entries.find(_._1._1 == field).getOrElse(entries.head)._2._2
        def dfOf(k: (String, String)): Long = stats.get(k).map(_._1).getOrElse(0L)
        val idfSumF = keys.map(k => idfFloat(dfOf(k))).foldLeft(0.0f)(_ + _)
        val idfSumD = keys.map(k => idfDouble(dfOf(k))).sum
        val ttfs = keys.map(k => stats.get(k).map(_._2).getOrElse(0L))
        val freq: Double = mode match {
          case LuceneFloat =>
            var f = 0f; spans.foreach { case (s, e) => f += 1f / ((e - s) + 1) }; f.toDouble
          case ExactDouble =>
            var f = 0d; spans.foreach { case (s, e) => f += 1.0 / ((e - s) + 1) }; f
        }
        val sc = makeScorer(field, 0L, boost, qn, Some(idfSumF), Some(idfSumD),
          lmTtfs = Some(ttfs), lmDfs = Some(keys.map(dfOf)))(freq, len)
        Explanation(sc, "span weight, product of:", Seq(
          Explanation(idfSumD, "idf, sum over span terms"),
          Explanation(freq, "sloppyFreq, sum over spans"),
          Explanation(len.toDouble, "fieldLength"),
          Explanation(qn, "queryNorm")))
      }

    case MatchAllQ => Explanation(1d, "matchAll, constant 1")

    case ConstantScoreQ(inner, boost) =>
      val e = explainNode(inner, stats, field, qn, dv, seg, doc)
      if (e.matched) Explanation(boost.toDouble, s"constantScore $boost", Seq(e))
      else Explanation.noMatch("constantScore: inner did not match", Seq(e))

    case DisMaxQ(cs, tie) =>
      val det = cs.map(explainNode(_, stats, field, qn, dv, seg, doc))
      val ms = det.filter(_.matched)
      if (ms.isEmpty) Explanation.noMatch("no disMax clause matched", det)
      else mode match {
        case LuceneFloat =>
          val scores = det.map(e => if (e.matched) e.value.toFloat else Float.MinValue)
          val mx = scores.max
          val sum = det.foldLeft(0f)((a, e) => (a + (if (e.matched) e.value.toFloat else 0f)))
          val v = (mx + (tie * (sum - mx))).toDouble
          Explanation(v, s"max plus $tie times others", det)
        case ExactDouble =>
          val mx = ms.map(_.value).max
          val sum = det.foldLeft(0d)((a, e) => a + (if (e.matched) e.value else 0d))
          Explanation(mx + tie * (sum - mx), s"max plus $tie times others", det)
      }

    case FuzzyTopQ(t, me, mx, boost) =>
      val expanded = fuzzyExpand(field, t, me, mx)
      val expStats: FTStats = expanded.map { case (term, df, _) => (field, term) -> (df, 0L) }.toMap
      val clauses = expanded.map { case (term, _, b) =>
        Occur.Should -> (TermQ(term, boost * b): Query)
      }.toList
      if (clauses.isEmpty) Explanation.noMatch(s"fuzzy($t~$me): no expansions")
      else explainNode(BoolQ(clauses), stats ++ expStats, field, qn, dv, seg, doc)

    case pq @ PayloadScoreQ(_, fn, _) =>
      // point evaluation through the same decode path as compile()
      val hits = compileNode(pq, stats, field, qn)
        .filter(col("segmentId") === seg && col("docId") === doc).collect()
      if (hits.isEmpty) Explanation.noMatch("term absent in this doc")
      else Explanation(hits(0).score, s"payload $fn function over term positions")

    case pq @ PayloadNearQ(_, fn, _) =>
      // PayloadNearQuery, product of span weight and the payload function
      val hits = compileNode(pq, stats, field, qn)
        .filter(col("segmentId") === seg && col("docId") === doc).collect()
      if (hits.isEmpty) Explanation.noMatch("span did not match")
      else Explanation(hits(0).score,
        s"PayloadNearQuery, span weight x payload $fn function")

    case mtq @ (PrefixQ(_) | RangeQ(_, _, _, _) | WildcardQ(_) | RegexpQ(_) |
                LuceneRegexpQ(_) | FuzzyQ(_, _)) =>
      // constant-score dictionary queries: matched iff the doc holds any of
      // THIS node's expanded terms (expansions were folded into the doc view)
      val own = explainKeys(mtq, field, stats)
      own.find(dv.contains) match {
        case Some((_, t)) => Explanation(1d, s"constant-score dictionary match via $t")
        case None => Explanation.noMatch("no expanded term matched")
      }
  }

  private def explainPhrase(slots: List[(Set[String], Int)], boost: Float, slop: Int,
                            stats: FTStats, field: String, qn: Double,
                            dv: Map[(String, String), (Int, Int, Array[Int])]): Explanation = {
    if (slots.exists { case (ts, _) => ts.forall(t => !stats.contains((field, t))) })
      return Explanation.noMatch("a slot has no indexed alternative")
    val posBySlot = slots.map { case (ts, _) =>
      val arrs = ts.toList.sorted.flatMap(t => dv.get((field, t)).map(_._3))
      if (arrs.isEmpty) null
      else {
        val m = arrs.flatten.toArray
        java.util.Arrays.sort(m)
        m
      }
    }.toArray
    if (posBySlot.exists(_ == null)) return Explanation.noMatch("a slot is absent in this doc")
    val len = slots.flatMap { case (ts, _) => ts.toList.sorted.flatMap(t => dv.get((field, t)).map(_._2)) }.head
    val offsets = slots.map(_._2).toArray
    val allTerms = slots.flatMap { case (ts, _) => ts.toList.sorted }
    def dfOf(t: String): Long = stats.get((field, t)).map(_._1).getOrElse(0L)
    val idfSumF = allTerms.map(t => idfFloat(dfOf(t))).foldLeft(0.0f)(_ + _)
    val idfSumD = allTerms.map(t => idfDouble(dfOf(t))).sum
    val lmTtfs = Some(allTerms.map(t => stats.get((field, t)).map(_._2).getOrElse(0L)))
    val freq: Double =
      if (slop > 0) SloppyMatcher.phraseFreq(posBySlot, offsets, slop).toDouble
      else {
        var f = 0
        val base = posBySlot(0)
        var bi = 0
        while (bi < base.length) {
          val start = base(bi) - offsets(0)
          var ok = true
          var ti = 1
          while (ok && ti < posBySlot.length) {
            ok = java.util.Arrays.binarySearch(posBySlot(ti), start + offsets(ti)) >= 0
            ti += 1
          }
          if (ok) f += 1
          bi += 1
        }
        f.toDouble
      }
    if (freq == 0d) Explanation.noMatch("phrase positions never align")
    else {
      val s = makeScorer(field, 0L, boost, qn, Some(idfSumF), Some(idfSumD),
        lmTtfs = lmTtfs, lmDfs = Some(allTerms.map(dfOf)))(freq, len)
      Explanation(s, "phrase weight, product of:", Seq(
        Explanation(idfSumD, "idf, sum over slot terms"),
        Explanation(freq, "phraseFreq"),
        Explanation(len.toDouble, "fieldLength"),
        Explanation(boost.toDouble, "boost"),
        Explanation(qn, "queryNorm")))
    }
  }

  /** Single-field pure disjunction of unboosted terms -> WAND-eligible
    * (BM25 only: the block-max bounds are BM25 score bounds). */
  private def wandOrTerms(q0: Query): Option[(String, List[String])] = {
    // WAND's upper bounds are BM25-specific; a per-field wrapper may route
    // any field to another similarity, so take the plan path instead
    if (similarity != Bm25Sim || perFieldSimilarity.nonEmpty) return None
    def go(q: Query, f: String): Option[(String, List[String])] = q match {
      case FieldQ(f2, inner) => go(inner, f2)
      case TermQ(t, b) if b == 1f => Some((f, List(t)))
      case BoolQ(cs, msm) if msm <= 1 && cs.nonEmpty &&
          cs.forall { case (o, c) => o == Occur.Should && c.isInstanceOf[TermQ] &&
            c.asInstanceOf[TermQ].boost == 1f } =>
        val ts = cs.map(_._2.asInstanceOf[TermQ].term)
        // duplicate clauses fold into `weight * n` in WAND, which is float-
        // identical to the plan path's clause-ordered chain only when n is a
        // power of two — route duplicates through the plan path instead
        if (ts.distinct.size == ts.size) Some((f, ts)) else None
      case _ => None
    }
    go(Query.rewrite(q0), defaultField)
  }
}
