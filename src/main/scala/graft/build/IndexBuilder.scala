package graft.build

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import graft.analysis.Analyzers
import graft.model._
import graft.search.Bm25

/** Distributed segment build — the Spark re-expression of the reference's
  * indexing lifecycle (SURVEY.md §3.1):
  *
  *   IndexWriter.AddDocument -> DocumentsWriterPerThread chambers
  *     (/root/reference/src/Lucene.Net.Core/Index/DocumentsWriter.cs)
  *   becomes: one hash-range of urls = one segment = built inside one
  *   partition; the ONLY shuffle in the whole build is the initial
  *   repartition of raw pages by segmentId. Token rows never shuffle, so
  *   hot-term skew cannot skew the build (SURVEY.md §7.3).
  *
  *   FreqProxTermsWriter's in-RAM hash + sort-on-flush
  *     (Index/FreqProxTermsWriterPerField.cs:398-446)
  *   becomes: sortWithinPartitions(segmentId, term, docId, pos) —
  *   Tungsten external sort, spill-safe — then a streaming encoder pass.
  *
  *   segments_N two-phase commit (Index/IndexWriter.cs:3719-3777)
  *   becomes: per-group dynamic-partition-overwrite writes + a manifest
  *   table appended only after the group's data is fully written, so an
  *   interrupted build resumes without recomputing completed segments.
  */
object IndexBuilder {

  /** The default indexed field (the `text` input column). */
  val DefaultField = "text"

  /** Segment-id bands: batch builds allocate [0, 2^20), streaming appends
    * [2^20, 2^30) (StreamingIndexer.batchSegmentBase), merges [2^30, ...).
    * Keeping merge ids in their own band means a freshly merged segment can
    * never collide with a FUTURE streaming batch's deterministic id (which
    * dynamic-partition-overwrite would otherwise clobber).
    */
  val MergeIdOffset: Int = 1 << 30

  final case class BuildConfig(
      numSegments: Int,
      analyzerName: String = "standard",
      /** Segments committed per job round — the resume/commit granularity. */
      groupSize: Int = 64,
      boost: Float = 1f,
      /** RAM budget per in-partition segment writer, in buffered tokens —
        * the FlushByRamOrCountsPolicy analog; crossing it flushes a piece. */
      flushTokens: Int = 8 * 1024 * 1024,
      /** Additional indexed fields beyond the default `text`: (name ->
        * analyzer name); each must exist as a string column on the pages
        * input (FieldInfos analog — per-field analyzer is a build-time
        * invariant persisted in the config). */
      extraFields: Seq[(String, String)] = Nil,
      /** Write per-doc term vectors (positions + character offsets) next to
        * docs/postings — the TermVectorsConsumer analog (TermVectors.scala).
        * Opt-in: one extra tokenize pass over the build shuffle. */
      termVectors: Boolean = false,
      /** Store per-position character offsets in the postings — the
        * IndexOptions.DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS analog
        * (Codecs/Lucene41/Lucene41PostingsWriter.cs:497-566 offset branch):
        * PostingsHighlighter-style passage highlighting straight from the
        * postings, no term vectors, no re-analysis. Opt-in (a fourth codec
        * stream on every posting row). */
      indexOffsets: Boolean = false,
      /** Index sort (Lucene.Net.Misc/Index/Sorter/Sorter.cs + IndexWriterConfig.SetIndexSort
        * analog): name of a NUMERIC column on the pages input; each segment
        * assigns docIds in (column ASC, url ASC) order and stores the key in
        * the doc store, enabling early-terminating sorted collection
        * (Searcher.searchSortedEarly). Merges RE-SORT: a sorted merge is a
        * rewrite of the live docs into one segment under their (key, url)
        * permutation (MergeJob's SegmentRewrite, shared with splitIndex) —
        * the SortingMergePolicy analog. */
      indexSort: Option[String] = None,
      /** Per-segment term bloom filters (BloomFilteringPostingsFormat
        * analog, Lucene.Net.Codecs/Bloom/): opt-in, advisory rows under
        * `<index>/blooms` consulted by the Searcher to SKIP segments that
        * definitely lack a term before scheduling their postings scan.
        * Segments without a bloom row (e.g. merged after the build) are
        * always scanned, so the rows can never cause a false negative. */
      bloomFilter: Boolean = false) {
    /** Full field list, default field first. */
    def fieldList: Seq[(String, String)] = (DefaultField -> analyzerName) +: extraFields
  }

  final case class BuildReport(numDocs: Long, numSegments: Int, elapsedSec: Double, docsPerSec: Double)

  /** Back-compat read shim: indexes written before the payload / offset
    * streams lack those postings columns — surface them as null binary
    * columns so readers/mergers/CheckIndex open old indexes instead of
    * failing with UNRESOLVED_COLUMN. */
  def withPayloadsCol(df: DataFrame): DataFrame = {
    var out = df
    if (!out.columns.contains("payloads"))
      out = out.withColumn("payloads", lit(null).cast("binary"))
    if (!out.columns.contains("offsets"))
      out = out.withColumn("offsets", lit(null).cast("binary"))
    out
  }

  /** The postings table read with its known schema (no footer-inference
    * job); an index written before the payload / offset streams reads those
    * columns as null. */
  def readPostings(spark: SparkSession, base: String): DataFrame =
    spark.read.schema(Encoders.product[PostingRow].schema).parquet(postingsPath(base))

  /** The doc store read with its known schema; `sorted` adds the index-sort
    * key column (its presence is what marks a sorted index's docs). */
  def readDocs(spark: SparkSession, base: String, sorted: Boolean): DataFrame = {
    val schema = Encoders.product[DocRow].schema
    spark.read.schema(if (sorted) schema.add("sortKey", "double") else schema)
      .parquet(docsPath(base))
  }

  def docsPath(base: String) = s"$base/docs"
  def postingsPath(base: String) = s"$base/postings"
  def bloomsPath(base: String) = s"$base/blooms"
  def manifestPath(base: String) = s"$base/manifest"
  def configPath(base: String) = s"$base/config.json"

  /** Stats generations — the segments_N analog: `stats` is generation 0 and
    * a merge commits `stats_gN`. The stats table defines the LIVE segment
    * set: readers resolve the highest generation and filter docs/postings to
    * its segments, so the whole merge (docs + postings + stats) becomes
    * visible at that single commit and leftover source dirs from a crash are
    * invisible.
    *
    * Commit protocol (object-store-safe): a generation is PUBLISHED by one
    * small pointer file `commits/segments_<gen>` whose content is the
    * generation's stats directory name. A single-file create is one atomic
    * PUT on every store — unlike a directory rename, which on object stores
    * (S3A) is a non-atomic copy+delete a reader can observe half-done.
    * Readers discover the live generation by max-N over the pointer files
    * (the SegmentInfos.GetLastCommitGeneration walk —
    * /root/reference/src/Lucene.Net.Core/Index/SegmentInfos.cs:49-69);
    * indexes that predate the protocol (no commits dir) fall back to the
    * legacy stats-directory listing.
    */
  def statsDirName(gen: Long): String = if (gen == 0) "stats" else s"stats_g$gen"

  def commitsPath(base: String): String = s"$base/commits"

  def statsGen(spark: SparkSession, base: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cp = new org.apache.hadoop.fs.Path(commitsPath(base))
    val cfs = cp.getFileSystem(conf)
    if (cfs.exists(cp)) {
      val gens = cfs.listStatus(cp).map(_.getPath.getName).collect {
        case n if n.startsWith("segments_") && n.length > 9 && n.drop(9).forall(_.isDigit) =>
          n.drop(9).toLong
      }
      if (gens.nonEmpty) return gens.max
    }
    // legacy fallback (no pointer has ever been committed): directory listing
    val dir = new org.apache.hadoop.fs.Path(base)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return 0L
    val gens = fs.listStatus(dir).map(_.getPath.getName).collect {
      case "stats" => 0L
      case n if n.startsWith("stats_g") && n.drop(7).forall(_.isDigit) && n.length > 7 =>
        n.drop(7).toLong
    }
    if (gens.isEmpty) 0L else gens.max
  }

  /** Stats directory NAME of a generation: the pointer file's content when
    * one exists, the legacy conventional name otherwise. */
  def statsDirOf(spark: SparkSession, base: String, gen: Long): String = {
    val p = new org.apache.hadoop.fs.Path(s"${commitsPath(base)}/segments_$gen")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) statsDirName(gen)
    else {
      val in = fs.open(p)
      val s = scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      in.close()
      if (s.isEmpty) statsDirName(gen) else s
    }
  }

  /** Publish `dirName` as generation `gen` — ONE small-object CAS create,
    * the atomic commit point of the merge protocol (routed through
    * [[SnapshotStore]]). Idempotent (a crashed commit's retry recomputes
    * the same generation + content and re-publishes); a CONFLICTING
    * publication at the same generation (another writer won the slot with
    * different content) fails loudly instead of silently overwriting. */
  def commitPointer(spark: SparkSession, base: String, gen: Long, dirName: String): Unit = {
    val store = new HadoopSnapshotStore(spark, base)
    if (!store.commitIfAbsent(gen, dirName))
      throw new IllegalStateException(
        s"commit conflict: generation $gen already published as " +
          s"${store.resolve(gen).getOrElse("?")} (attempted $dirName) — " +
          "a concurrent writer won this slot; re-plan against the new head")
  }

  /** Opt-in per-(segment, field) term blooms (BloomFilteringPostingsFormat
    * analog) of `postings` rows: one streaming pass over the term rows; the
    * bitset folds to the FuzzySet target saturation before it is stored. */
  private[graft] def writeBlooms(postings: DataFrame, indexPath: String, mode: SaveMode): Unit = {
    val spark = postings.sparkSession
    import spark.implicits._
    postings
      .select(col("segmentId").cast("int").as("segmentId"), col("field"), col("term"))
      .as[(Int, String, String)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (Int, String), rows: Iterator[(Int, String, String)]) =>
        val (mask, bits) = graft.codec.TermBloom.build(
          rows.map(r => graft.codec.TermBloom.hash(r._3)))
        graft.codec.BloomRow(key._1, key._2, mask, bits)
      }
      .write.mode(mode).parquet(bloomsPath(indexPath))
  }

  /** Resolved path of the CURRENT stats generation. */
  def statsPath(spark: SparkSession, base: String): String =
    s"$base/${statsDirOf(spark, base, statsGen(spark, base))}"

  /** The live stats rows, one per (segmentId, field) as every reader
    * dedupes them: one scan of the tiny committed table, read with its known
    * schema (no footer-inference job) and deduped on the driver. */
  def readStats(spark: SparkSession, base: String): Array[SegmentStats] = {
    import spark.implicits._
    spark.read.schema(Encoders.product[SegmentStats].schema).parquet(statsPath(spark, base))
      .as[SegmentStats].collect()
      .groupBy(s => (s.segmentId, s.field)).values.map(_.head).toArray
      .sortBy(s => (s.segmentId, s.field))
  }

  /** Build the index from a pages DataFrame with columns (url string, text string).
    * Resume-safe: segments recorded in the manifest are skipped.
    */
  def build(spark: SparkSession, pages: DataFrame, indexPath: String, cfg: BuildConfig): BuildReport = {
    import spark.implicits._
    val t0 = System.nanoTime()

    val done: Set[Int] = completedSegments(spark, indexPath)
    val groups = (0 until cfg.numSegments).grouped(cfg.groupSize).toSeq
      .filter(g => !g.forall(done.contains))

    // persist analyzer/numSegments so the query path can't diverge from the build
    writeConfig(spark, indexPath, cfg)

    val written = groups.flatMap(g => buildGroup(spark, pages, indexPath, cfg, g.toSet, done))
    val totalDocs = written.filter(_.field == DefaultField).map(_.maxDoc).sum
    // refresh the global term dictionary (BlockTree/.tip analog) — one
    // term-shuffle over (term, df, ttf); readers fall back to postings scans
    // whenever this is stale, so the refresh is an optimization, not a gate.
    // A fresh build's live set is exactly what it just wrote; only a resumed
    // one reads the committed stats for the segments it skipped.
    DictTable.write(spark, indexPath, if (done.isEmpty) written else readStats(spark, indexPath).toSeq)
    val elapsed = (System.nanoTime() - t0) / 1e9
    val report = BuildReport(totalDocs, cfg.numSegments, elapsed, totalDocs / math.max(elapsed, 1e-9))
    report
  }

  private def buildGroup(spark: SparkSession, pages: DataFrame, indexPath: String,
                         cfg: BuildConfig, group: Set[Int], alreadyDone: Set[Int]): Seq[SegmentStats] = {
    val nSeg = cfg.numSegments
    val inGroup = pages
      .withColumn("segmentId",
        graft.functions.ScalarExpressions.segmentOf(col("url"), nSeg))
      .filter(col("segmentId").isInCollection(group -- alreadyDone))
    writeSegments(spark, inGroup, indexPath, cfg.analyzerName, cfg.boost, cfg.flushTokens,
      group -- alreadyDone, cfg.extraFields, cfg.termVectors, cfg.indexSort, cfg.indexOffsets,
      cfg.bloomFilter)
  }

  /** Write one group of segments from a pages DataFrame that already carries
    * a `segmentId` column (shared by the batch builder and the streaming
    * incremental indexer). Commits docs+postings+stats, then the manifest,
    * and returns the stats rows it committed: they are tallied from the
    * rows the two writes emit ([[WriteStats]]), not read back.
    */
  def writeSegments(spark: SparkSession, inGroup: DataFrame, indexPath: String,
                    analyzerName: String, boost: Float, flushTokens: Int,
                    group: Set[Int], extraFields: Seq[(String, String)] = Nil,
                    termVectors: Boolean = false,
                    indexSort: Option[String] = None,
                    indexOffsets: Boolean = false,
                    bloomFilter: Boolean = false): Seq[SegmentStats] = {
    import spark.implicits._
    val tg0 = System.nanoTime()
    val fieldSpecs: Seq[(String, String)] = (DefaultField -> analyzerName) +: extraFields
    val fieldNames = fieldSpecs.map(_._1)

    // One partition can hold several whole segments (hash on segmentId);
    // within a partition, (segmentId, url) order assigns deterministic docIds.
    val parts = math.min(group.size, spark.sparkContext.defaultParallelism * 2).max(1)
    // index sort (Sorter.cs analog): docIds follow (sortKey ASC, url ASC)
    // inside each segment instead of plain url order, making per-segment
    // docId order == sort order — the precondition for early termination
    val sortKeyExpr = indexSort.map(c => col(c).cast("double")).getOrElse(lit(0d))
    // PINNED shuffled pages: the postings, docs and (opt-in) vectors jobs
    // are separate actions, and separate actions do NOT share an Exchange —
    // unpinned, each pass would re-scan the input and re-shuffle the raw
    // corpus. One scan + one shuffle materialize into the block-manager
    // cache (disk-backed) and all passes read from it; released below.
    val sortedPages = inGroup
      .select(col("url"),
        array(fieldNames.map(f => col(f).cast("string")): _*).as("vals"),
        col("segmentId"), sortKeyExpr.as("sortKey"))
      .repartition(parts, col("segmentId"))
      .sortWithinPartitions(col("segmentId"), col("sortKey"), col("url"))
      .as[(String, Seq[String], Int, Double)]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stats ride the two writes: posting rows and Σ ttf per (segment,
    // field), docs and Σ fieldLen per segment, tallied in the write stages
    val postTally = WriteStats.tally(spark, "postings")
    val docTally = WriteStats.tally(spark, "docs")

    // postings: per-partition in-memory segment build (SegmentWriter - the
    // DWPT/TermsHash analog): tokens go straight into primitive buffers,
    // RAM-bounded piece flushes, no per-token Spark rows, no sort.
    val postings: Dataset[PostingRow] = sortedPages.mapPartitions { rows =>
      val fields = fieldSpecs.map { case (n, a) => n -> Analyzers.byName(a) }
      new Iterator[PostingRow] {
        private var writer = new SegmentWriter(fields, flushTokens, indexOffsets)
        private var curSeg = -1
        private var docId = -1
        private var queue: Iterator[PostingRow] = Iterator.empty
        private val input = rows

        private def refill(): Unit = {
          while (!queue.hasNext && (input.hasNext || curSeg != -2)) {
            if (input.hasNext) {
              val (url, vals, seg, _) = input.next()
              if (seg != curSeg && curSeg >= 0) {
                writer.flush(curSeg)
                queue = writer.drain().iterator
              }
              if (seg != curSeg) { curSeg = seg; docId = -1 }
              docId += 1
              writer.addDoc(seg, docId, vals)
              if (!queue.hasNext) queue = writer.drain().iterator // mid-segment RAM flush
            } else {
              if (curSeg >= 0) writer.flush(curSeg)
              queue = writer.drain().iterator
              curSeg = -2 // terminal
            }
          }
        }

        override def hasNext: Boolean = { refill(); queue.hasNext }
        override def next(): PostingRow = {
          refill()
          val r = queue.next()
          postTally.add(r.segmentId, r.field, r.ttf)
          r
        }
      }
    }
    // postings and docs jobs share the pages shuffle and are independent:
    // submit both concurrently (the scheduler interleaves their stages),
    // halving the serial per-job overhead
    def postingsJob(): Unit =
      postings.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("segmentId").parquet(postingsPath(indexPath))

    // docs (+ norms column - the DocValues/.nvd analog): a second cheap pass
    // that reuses the repartition's shuffle files; tokenization-for-length
    // costs far less than caching tokenized docs would. fieldLen/normByte
    // are the DEFAULT field's (per-field exact lens ride on the postings).
    val docsDf = sortedPages.mapPartitions { rows =>
      val analyzer = Analyzers.byName(analyzerName)
      val bm25 = Bm25.default
      var curSeg = -1
      var docId = -1
      rows.map { case (url, vals, seg, key) =>
        if (seg != curSeg) { curSeg = seg; docId = -1 }
        docId += 1
        val text = vals.head
        val len = analyzer.tokenCount(if (text == null) "" else text)
        docTally.add(seg, DefaultField, len)
        (DocRow(seg, docId, url, len, bm25.encodeNormValue(boost, len)), key)
      }
    }
    def docsJob(): Unit = {
      // sorted indexes persist the key as a docs column (the .nvd-like
      // per-doc numeric the sorted collector merges on); unsorted indexes
      // keep the legacy schema
      val out =
        if (indexSort.isDefined)
          docsDf.select(col("_1.segmentId").as("segmentId"), col("_1.docId").as("docId"),
            col("_1.url").as("url"), col("_1.fieldLen").as("fieldLen"),
            col("_1.normByte").as("normByte"), col("_2").as("sortKey"))
        else docsDf.select(col("_1.*"))
      out.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("segmentId").parquet(docsPath(indexPath))
    }

    // term vectors (opt-in): doc-major (term, tf, positions, offsets) — a
    // third concurrent pass over the same shuffle, same docId assignment
    def vectorsJob(): Unit = {
      val vecDf = sortedPages.mapPartitions { rows =>
        val fields = fieldSpecs.map { case (n, a) => n -> Analyzers.byName(a) }
        var curSeg = -1
        var docId = -1
        rows.flatMap { case (_, vals, seg, _) =>
          if (seg != curSeg) { curSeg = seg; docId = -1 }
          docId += 1
          TermVectors.vectorize(fields, vals, seg, docId)
        }
      }
      vecDf.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("segmentId").parquet(TermVectors.vectorsPath(indexPath))
    }
    try ConcurrentWrites(spark,
      Seq(postingsJob _, docsJob _) ++ (if (termVectors) Seq(vectorsJob _) else Nil))
    finally sortedPages.unpersist()

    if (bloomFilter)
      writeBlooms(spark.read.parquet(postingsPath(indexPath))
        .filter(col("segmentId").isInCollection(group)), indexPath, SaveMode.Append)

    val segDocs = docTally.value.toSeq.map { case ((seg, _), (n, sttf)) => (seg, n, sttf) }
    val stats = WriteStats.rows(segDocs, postTally.value, fieldNames)
    val numDocs = segDocs.map(_._2).sum

    // append to the CURRENT stats generation, then re-check it: if a merge
    // committed a new generation while this append was in flight, the rows
    // landed in a superseded dir and the new segments would silently drop
    // out of the live set — re-append to the fresh generation (merge's
    // commit-time re-read covers the mirror-image race; duplicate rows are
    // deduped by every reader via dropDuplicates). Single-writer per index
    // is still the supported discipline for concurrent MERGES.
    var appendedGen = statsGen(spark, indexPath)
    spark.createDataset(stats).coalesce(1).write.mode(SaveMode.Append)
      .parquet(s"$indexPath/${statsDirOf(spark, indexPath, appendedGen)}")
    var tries = 0
    var cur = statsGen(spark, indexPath)
    while (cur != appendedGen && tries < 5) {
      appendedGen = cur
      spark.createDataset(stats).coalesce(1).write.mode(SaveMode.Append)
        .parquet(s"$indexPath/${statsDirOf(spark, indexPath, appendedGen)}")
      tries += 1
      cur = statsGen(spark, indexPath)
    }

    // manifest LAST — the commit point: a segment is only "done" once its
    // docs+postings+stats are all on disk (resume reads this).
    val elapsed = (System.nanoTime() - tg0) / 1e9
    val now = System.currentTimeMillis()
    val manifest = group.toSeq.sorted.map { seg =>
      val st = stats.find(s => s.segmentId == seg && s.field == DefaultField)
      ManifestRow(seg, "done", st.map(_.maxDoc).getOrElse(0L), st.map(_.sumDocFreq).getOrElse(0L),
        numDocs / math.max(elapsed, 1e-9), 1, now - (elapsed * 1000).toLong, now)
    }
    spark.createDataset(manifest).coalesce(1).write.mode(SaveMode.Append).parquet(manifestPath(indexPath))
    stats
  }

  def completedSegments(spark: SparkSession, indexPath: String): Set[Int] = {
    import spark.implicits._
    // existence check first: a missing manifest is the normal "fresh index"
    // case and must not emit an ERROR stack into job logs. The try/catch
    // stays for the crash-resume case where the dir exists but holds no
    // readable footers yet (_temporary only) — treated as "nothing done",
    // which the dynamic-overwrite + append write path self-heals.
    val p = new org.apache.hadoop.fs.Path(manifestPath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else try {
      spark.read.parquet(manifestPath(indexPath))
        .filter(col("status") === "done")
        .select("segmentId").as[Int].collect().toSet
    } catch { case _: Exception => Set.empty }
  }

  private[graft] def writeConfig(spark: SparkSession, indexPath: String, cfg: BuildConfig): Unit = {
    // the config round-trip packs extraFields as `f:a,f2:a2` — reject names
    // that would corrupt it on readback (and brick every later readConfig)
    (cfg.fieldList :+ (cfg.analyzerName -> cfg.analyzerName)).foreach { case (f, a) =>
      Seq(f, a).foreach { n =>
        require(!n.exists(c => c == ':' || c == ',' || c == '"'),
          s"field/analyzer name '$n' must not contain ':', ',' or '\"'")
      }
    }
    val extra = cfg.extraFields.map { case (f, a) => s"$f:$a" }.mkString(",")
    cfg.indexSort.foreach(c => require(!c.exists(ch => ch == ':' || ch == ',' || ch == '"'),
      s"indexSort column '$c' must not contain ':', ',' or '\"'"))
    val json = s"""{"numSegments":${cfg.numSegments},"analyzer":"${cfg.analyzerName}",""" +
      s""""boost":${cfg.boost},"extraFields":"$extra","termVectors":${cfg.termVectors}""" +
      s""","indexOffsets":${cfg.indexOffsets},"bloomFilter":${cfg.bloomFilter}""" +
      cfg.indexSort.map(c => s""","indexSort":"$c"""").getOrElse("") + "}"
    val path = new org.apache.hadoop.fs.Path(configPath(indexPath))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    out.write(json.getBytes("UTF-8"))
    out.close()
  }

  def readConfig(spark: SparkSession, indexPath: String): BuildConfig = {
    val path = new org.apache.hadoop.fs.Path(configPath(indexPath))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val json = scala.io.Source.fromInputStream(in).mkString
    in.close()
    val num = """"numSegments":(\d+)""".r.findFirstMatchIn(json).get.group(1).toInt
    val an = """"analyzer":"([^"]+)"""".r.findFirstMatchIn(json).get.group(1)
    val boost = """"boost":([0-9.eE+-]+)""".r.findFirstMatchIn(json).get.group(1).toFloat
    val extra = """"extraFields":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1)).getOrElse("")
    val extraFields = extra.split(',').filter(_.nonEmpty).toSeq.map { kv =>
      val Array(f, a) = kv.split(':')
      (f, a)
    }
    val vecs = json.contains(""""termVectors":true""")
    val offs = json.contains(""""indexOffsets":true""")
    val blooms = json.contains(""""bloomFilter":true""")
    val isort = """"indexSort":"([^"]+)"""".r.findFirstMatchIn(json).map(_.group(1))
    BuildConfig(num, an, boost = boost, extraFields = extraFields, termVectors = vecs,
      indexOffsets = offs, indexSort = isort, bloomFilter = blooms)
  }
}
