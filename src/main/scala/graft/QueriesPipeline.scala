package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Ann, BlockJoin, Dedup, Multimodal, Spatial, TextStats}

/** Pipeline/relational/streaming-analog query battery + DuckDB oracles —
  * mixed into [[Queries.all]]. Covers the training-data operators (dedup,
  * similarity search, text analysis, multimodal plumbing), the reference's
  * beyond-core modules re-expressed relationally (grouping, facets, join,
  * MoreLikeThis — SURVEY.md §2.7), and event-time window/session analytics.
  */
object QueriesPipeline {

  private def documents(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** Deterministic synthetic points: lat/lon derived from doc_id with pure
    * integer/double ops the DuckDB twin repeats verbatim. */
  private def spatialPoints(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).select(col("doc_id"),
      (expr("(doc_id * 7919) % 17000") / 100.0 - 85.0).as("lat"),
      (expr("(doc_id * 104729) % 36000") / 100.0 - 180.0).as("lon"))

  /** Deterministic synthetic rectangles (BBoxStrategy rows), doc_id-derived
    * with the exact expression text the DuckDB twin repeats. */
  private def spatialRects(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).selectExpr("doc_id",
      "((doc_id * 7919) % 16000) / 100.0 - 85.0 AS minLat",
      "(((doc_id * 7919) % 16000) / 100.0 - 85.0) + (((doc_id * 17) % 800) / 100.0 + 0.5) AS maxLat",
      "((doc_id * 104729) % 34000) / 100.0 - 180.0 AS minLon",
      "(((doc_id * 104729) % 34000) / 100.0 - 180.0) + (((doc_id * 31) % 1000) / 100.0 + 0.5) AS maxLon")

  def pipeAll: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- dedup family
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(documents(s, dir), "doc_id", "text")
        .select(col("h"), col("cnt"), col("min_id")).orderBy("h")),

    // streaming twin of exact dedup: first doc per digest survives in the
    // drained stream; the surviving SET (count + id-set hash) is
    // order-independent because ties share a digest -> order by min doc_id
    // inside the oracle is avoided by outputting per-digest survivors'
    // existence only
    "q_streamed_dedup" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val inDir = s"${System.getProperty("java.io.tmpdir")}/graft_sdedup_${math.abs(dir.hashCode)}"
      docs.coalesce(1).write.mode("overwrite").parquet(inDir)
      val q = graft.streaming.StreamingAnalytics.dedupExact(
          s.readStream.schema(docs.schema).parquet(inDir), "text")
        .writeStream.format("memory").queryName("graft_sdedup_out")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_sdedup_out")
        .groupBy(col("digest").as("h")).agg(count(lit(1)).as("survivors"))
        .orderBy("h")
    }),

    "q_dedup_jaccard" -> ((s, dir) => {
      val sh = Dedup.shingles(documents(s, dir), "doc_id", "text", 3)
      Dedup.jaccardPairs(sh, 1, 2).orderBy("ida", "idb")
    }),

    "q_dedup_minhash" -> ((s, dir) => {
      val sh = Dedup.shingles(documents(s, dir), "doc_id", "text", 3)
      Dedup.lshCandidates(Dedup.minhashSignature(sh, 16), 4).orderBy("ida", "idb")
    }),

    "q_simhash" -> ((s, dir) =>
      Dedup.simhash48(documents(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id").orderBy("doc_id")),

    // SimHash near-dup pairs: 16-bit-band candidates (pigeonhole: any pair
    // within hamming 2 shares a band; wider radii are best-effort within the
    // banded candidate set) verified by exact popcount hamming
    // maxBand uncapped: the DuckDB twin enumerates all bands (production
    // callers keep the default boilerplate cap)
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(documents(s, dir), "doc_id", "text", maxHamming = 16,
        maxBand = Int.MaxValue).orderBy("ida", "idb")),

    // THE scale-path dedup API: LSH candidates (band-bucket capped) verified
    // by pair-scoped Jaccard — all-pairs never runs
    // maxBucket uncapped here because the DuckDB twin enumerates ALL band
    // buckets; production callers keep the default boilerplate cap
    "q_dedup_pairs" -> ((s, dir) =>
      Dedup.nearDupPairs(documents(s, dir), "doc_id", "text",
        k = 3, numHashes = 16, rowsPerBand = 4, tNum = 1, tDen = 2,
        maxBucket = Int.MaxValue).orderBy("ida", "idb")),

    // duplicate CLUSTERS: connected components over the Jaccard pair graph
    // (driver union-find under the broadcast budget, large-star/small-star
    // rounds above it) — chains collapse to one representative,
    // where per-pair dedup would keep two of three
    "q_dedup_clusters" -> ((s, dir) => {
      val sh = Dedup.shingles(documents(s, dir), "doc_id", "text", 3)
      Dedup.dupClusters(Dedup.jaccardPairs(sh, 1, 2)).orderBy("doc_id")
    }),

    // ---- similarity search family
    "q_ann_topk" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .collect()(0).getAs[scala.collection.Seq[Float]](0).toArray
      Ann.cosineTopK(emb, "vec_id", "embedding", q, 10, excludeId = Some(0L))
    }),

    "q_ann_lsh" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.lshBuckets(emb, "vec_id", "embedding", nBits = 8, dim = 64).orderBy("vec_id")
    }),

    // embedding-cosine near-dup: LSH-bucket candidates verified by exact
    // cosine (maxBucket uncapped to match the oracle; production callers
    // keep the default cap)
    "q_dedup_embed" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.embedDupPairs(emb, "vec_id", "embedding", nBits = 8, dim = 64, minCos = 0.1,
        maxBucket = Int.MaxValue).orderBy("ida", "idb")
    }),

    // IVF pruned top-k: probe the 3 nearest of ~25 deterministic cells, brute
    // cosine only inside them — the scale path that turns a full scan into a
    // cell-pruned one
    "q_ann_ivf" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .collect()(0).getAs[scala.collection.Seq[Float]](0).toArray
      Ann.ivfTopK(emb, "vec_id", "embedding", q, 10, every = 20, nprobe = 3, excludeId = Some(0L))
    }),

    // TRAINED coarse quantizer: one deterministic Lloyd iteration over the
    // integer-quantized view (exact arithmetic — sums commute, so training
    // is bit-stable under any partitioning and the oracle replays it);
    // output = every vector's trained-cell assignment
    "q_ann_kmeans" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Ann.kmeansAssign(emb, "vec_id", "embedding", every = 20, iters = 1)
        .orderBy("vec_id")
    }),

    // product quantization (the IVFPQ compression layer): 4 subspaces of 16
    // dims, codebooks = seed subvectors (iters=0, the SQL-replayable
    // configuration; Lloyd-refined training is spec-pinned), ADC top-10 for
    // vec 0's query — approximate distances are exact integer arithmetic,
    // so the oracle reproduces the ranking bit-for-bit
    "q_ann_pq" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .collect()(0).getAs[scala.collection.Seq[Float]](0).toArray
      val books = Ann.pqTrain(emb, "vec_id", "embedding", dim = 64, m = 4,
        every = 20, iters = 0)
      Ann.pqTopK(emb, "vec_id", "embedding", q, 10, 64, books, excludeId = Some(0L))
    }),

    // the PERSISTED bucket layout (vectors partitioned by cell id): the
    // probe reads only its nprobe cells' partitions and must reproduce the
    // in-memory IVF result exactly (same oracle as q_ann_ivf)
    "q_ann_ivf_indexed" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .collect()(0).getAs[scala.collection.Seq[Float]](0).toArray
      val path = java.nio.file.Files.createTempDirectory("graftivfgate").toString
      Ann.writeIvfIndex(emb, "vec_id", "embedding", every = 20, path)
      Ann.ivfTopKIndexed(s, path, "vec_id", "embedding", q, 10, nprobe = 3,
        excludeId = Some(0L))
    }),

    // ---- text analysis family
    "q_quality" -> ((s, dir) =>
      TextStats.quality(documents(s, dir), "doc_id", "text").orderBy("doc_id")),

    "q_langid" -> ((s, dir) =>
      TextStats.langId(documents(s, dir), "doc_id", "text").orderBy("doc_id")),

    "q_tokcount" -> ((s, dir) =>
      TextStats.tokenCounts(documents(s, dir), "doc_id", "text").orderBy("doc_id")),

    "q_fingerprint" -> ((s, dir) =>
      TextStats.fingerprint(documents(s, dir), "doc_id", "text").orderBy("doc_id")),

    "q_mlt" -> ((s, dir) =>
      TextStats.topTfIdfTerms(documents(s, dir), "doc_id", "text", 0L, 5)),

    // MLT from the stored term vector (no re-analysis of the doc)
    "q_mlt_vector" -> ((s, dir) => {
      val se = IndexCache.searcher(s, dir)
      val Array(seg, doc) = se.docs
        .filter(col("url") === "doc000000000")
        .select("segmentId", "docId").collect().head
        .toSeq.map(_.asInstanceOf[Int]).toArray
      TextStats.mltFromVector(se, seg, doc, 5)
    }),

    // ---- multimodal columns: REAL JDK-codec decode over real encoded
    // fixtures whose dims/colors are pure formulas of doc_id (so the DuckDB
    // oracle recomputes every decoded value without an image library)

    // real header decode across the full JDK codec rotation incl. JPEG
    // (lossy, so meta checks dims/format only; raster proofs ride on the
    // lossless gates below) — dims/format come from ImageIO's matched
    // reader, not the id
    "q_media_meta" -> ((s, dir) => {
      import s.implicits._
      val media = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticImage4(id))))
        .toDF("id", "media")
      Multimodal.extractMeta(s, media).toDF()
        .select(col("id").as("doc_id"), col("width"), col("height"), col("format"))
        .orderBy("doc_id")
    }),

    // real Graphics2D downscale: decode solid fixture -> clamp (exact
    // integer arithmetic) -> draw -> PNG-encode thumb -> RE-decode the thumb
    // and report its dims + corner pixel (solid in == solid out)
    "q_media_resize" -> ((s, dir) => {
      import s.implicits._
      val media = Multimodal.imageFixtures(
        documents(s, dir).select("doc_id"), "doc_id", checker = false)
      Multimodal.resize(s, media, maxW = 32, maxH = 24)
        .select(col("id"), col("out_w"), col("out_h"), col("thumb"))
        .as[(Long, Int, Int, Array[Byte])]
        .mapPartitions(_.map { case (id, ow, oh, thumb) =>
          val Some((timg, _)) = Multimodal.decodeImage(thumb)
          val p = timg.getRGB(0, 0)
          (id, ow, oh, timg.getWidth, timg.getHeight,
            (p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
        })
        .toDF("doc_id", "out_w", "out_h", "thumb_w", "thumb_h",
          "thumb_r", "thumb_g", "thumb_b")
        .orderBy("doc_id")
    }),

    // real pixel-statistics embedding (dim 5: w, h, sumR, sumG, sumB —
    // exact ints, float-lossless) from a full raster walk of the
    // checkerboard fixtures; feeds Ann.cosineTopK downstream
    "q_media_embed" -> ((s, dir) => {
      val media = Multimodal.imageFixtures(
        documents(s, dir).select("doc_id"), "doc_id", checker = true)
      Multimodal.embed(s, media, dim = 5)
        .select(col("id").as("doc_id"),
          expr("cast(embedding[0] as double)").as("f0"),
          expr("cast(embedding[1] as double)").as("f1"),
          expr("cast(embedding[2] as double)").as("f2"),
          expr("cast(embedding[3] as double)").as("f3"),
          expr("cast(embedding[4] as double)").as("f4"))
        .orderBy("doc_id")
    }),

    // real animated-GIF multi-frame decode (2 + doc_id%3 frames per doc,
    // frame f solid ((r+40f)%256, ...)): one row per decoded frame
    "q_media_frames" -> ((s, dir) => {
      import s.implicits._
      val media = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id =>
          (id, Multimodal.syntheticAnimatedGif(id, 2 + (id % 3).toInt))))
        .toDF("id", "media")
      Multimodal.gifFrames(s, media)
        .select(col("id").as("doc_id"), col("frame_idx"), col("w"), col("h"),
          col("r"), col("g"), col("b"))
        .orderBy("doc_id", "frame_idx")
    }),

    // real WAV (RIFF/PCM) parse via javax.sound: header fields + unsigned
    // payload byte sum (proves the PCM stream, not just the header, decoded)
    "q_media_audio" -> ((s, dir) => {
      import s.implicits._
      val media = documents(s, dir).select(col("doc_id")).as[Long]
        .mapPartitions(_.map(id => (id, Multimodal.syntheticWav(id))))
        .toDF("id", "media")
      Multimodal.audioMeta(s, media)
        .select(col("id").as("doc_id"), col("sample_rate"), col("channels"),
          col("bits"), col("frames"), col("byte_sum"))
        .orderBy("doc_id")
    }),

    // ---- north-rule per-row invariant: byte-identical extracted text per
    // url — html BINARY wraps the text (the Common-Crawl input shape);
    // HTMLStripCharFilter must recover the text exactly (modulo the
    // block-tag newlines it inserts at the wrapper boundary, trimmed)
    "q_webtext_extract" -> ((s, dir) => {
      import s.implicits._
      documents(s, dir)
        .select(col("doc_id"), col("text"),
          concat(lit("<html><body><p>"), col("text"),
            lit("</p><script>var x=1;</script></body></html>"))
            .cast("binary").as("html"))
        .as[(Long, String, Array[Byte])]
        .mapPartitions { rows =>
          val strip = new graft.analysis.HtmlStripCharFilter()
          rows.map { case (id, text, html) =>
            val extracted = strip(new String(html, "UTF-8")).text
            (id, if (extracted.trim == text.trim) 1 else 0)
          }
        }
        .toDF("doc_id", "ok")
        .orderBy("doc_id")
    }),

    // ---- grouping / facet analogs (SURVEY.md §2.7) on documents metadata
    "q_group_top" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      documents(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("rn") <= 2)
        .select(col("lang"), col("doc_id"), col("rn"))
        .orderBy("lang", "rn")
    }),

    "q_facet" -> ((s, dir) => {
      val matching = documents(s, dir)
        .filter(expr("array_contains(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 'vector')"))
      matching.groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .orderBy("source")
    }),

    // ---- drill-down (DrillDownQuery): facet counts within a facet filter
    "q_drilldown" -> ((s, dir) =>
      documents(s, dir)
        .filter(col("lang") === "en")
        .filter(expr("array_contains(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 'vector')"))
        .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
        .orderBy("source")),

    // ---- taxonomy facets (Facet/Taxonomy): hierarchical path counts at both
    // levels of the source/lang taxonomy for docs matching 'vector'
    "q_facet_tax" -> ((s, dir) => {
      val matching = documents(s, dir)
        .filter(expr("array_contains(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 'vector')"))
      val l1 = matching.groupBy(col("source").as("path")).agg(count(lit(1)).as("cnt"))
      val l2 = matching.groupBy(concat(col("source"), lit("/"), col("lang")).as("path"))
        .agg(count(lit(1)).as("cnt"))
      l1.unionByName(l2).orderBy("path")
    }),

    // ---- drill-sideways (DrillSideways.cs): drill into source=src3 while
    // keeping the drilled dimension's SIBLING counts computed without the
    // drill constraint (the other dimension counts within it)
    "q_drill_sideways" -> ((s, dir) => {
      val matching = documents(s, dir)
        .filter(expr("array_contains(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 'vector')"))
      val langInDrill = matching.filter(col("source") === "src3")
        .groupBy(col("lang").as("value")).agg(count(lit(1)).as("cnt"))
        .withColumn("dim", lit("lang"))
      val sourceSideways = matching
        .groupBy(col("source").as("value")).agg(count(lit(1)).as("cnt"))
        .withColumn("dim", lit("source"))
      langInDrill.unionByName(sourceSideways)
        .select("dim", "value", "cnt").orderBy("dim", "value")
    }),

    // ---- SortedSet-DV facets (Facet/SortedSet/SortedSetDocValuesFacetCounts
    // .cs): per-doc "dim/label" SETS counted without a taxonomy index
    "q_facet_ssdv" -> ((s, dir) => {
      val withFacets = documents(s, dir)
        .withColumn("facets", array(
          concat(lit("source/"), col("source")),
          concat(lit("lang/"), col("lang"))))
        .filter(expr("array_contains(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 'vector')"))
      graft.pipeline.Facets.sortedSetCounts(withFacets, "facets")
        .orderBy("dim", "label")
    }),

    // ---- association facets (Facet/Taxonomy/TaxonomyFacetSumIntAssociations
    // .cs / ...SumFloatAssociations.cs): each doc carries (category, value)
    // associations; the facet aggregates the SUM per category over matching
    // docs (IntAssociationFacetField / FloatAssociationFacetField). The
    // int association here is n_chars; the float one n_chars * 0.25
    // (exactly representable, so the sum is order-insensitive).
    "q_facet_assoc_int" -> ((s, dir) =>
      documents(s, dir)
        .filter(expr("array_contains(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 'vector')"))
        .groupBy(col("source")).agg(sum(col("n_chars")).as("assoc_sum"))
        .orderBy("source")),

    "q_facet_assoc_float" -> ((s, dir) =>
      documents(s, dir)
        .filter(expr("array_contains(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 'vector')"))
        .groupBy(col("lang"))
        .agg(sum(col("n_chars").cast("double") * 0.25d).as("assoc_sum"))
        .orderBy("lang")),

    // ---- grouped facets (AbstractGroupFacetCollector.cs): facet counts
    // where all docs of one GROUP count once per facet value — count of
    // distinct groups per facet value
    "q_group_facet" -> ((s, dir) =>
      documents(s, dir)
        .filter(expr("array_contains(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 'vector')"))
        .groupBy(col("lang")).agg(countDistinct(col("source")).as("groups"))
        .orderBy("lang")),

    // ---- group heads (AbstractAllGroupHeadsCollector.cs): the single head
    // doc per group under the collector's sort — row_number 1 per group
    "q_group_heads" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      documents(s, dir)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id").asc)))
        .filter(col("rn") === 1).select(col("lang"), col("doc_id"))
        .orderBy("lang")
    }),

    // ---- sampled facets (RandomSamplingFacetsCollector.cs): seeded
    // deterministic doc sampler + amortized original-count estimate
    "q_facet_sampled" -> ((s, dir) =>
      graft.pipeline.Facets.sampledCounts(
          documents(s, dir)
            .filter(expr("array_contains(regexp_extract_all(lower(text), '[a-z0-9]+', 0), 'vector')")),
          "doc_id", "source", rateNum = 1, rateDen = 4, seed = 7L)
        .orderBy("source")),

    // ---- block join (Lucene.Net.Join ToParent/ToChildBlockJoinQuery):
    // parents by matching children with a child-score aggregate, and the
    // reverse
    "q_blockjoin_parent" -> ((s, dir) =>
      BlockJoin.toParent(s.read.parquet(s"$dir/lineitem.parquet"), "l_orderkey",
          col("l_quantity") >= 48, expr("cast(floor(l_extendedprice * 100) as bigint)"), "Max")
        .select(col("l_orderkey").as("o_orderkey"), col("child_matches"),
          col("score").cast("long").as("max_price100"))
        .orderBy("o_orderkey")),

    // ---- ToParentBlockJoinSortField (Join/ToParentBlockJoinSortField.cs):
    // parents ORDERED by an aggregate of a child field — top-10 orders by
    // max child extendedprice
    "q_blockjoin_sort" -> ((s, dir) => {
      val agg = BlockJoin.toParent(s.read.parquet(s"$dir/lineitem.parquet"), "l_orderkey",
        lit(true), expr("cast(floor(l_extendedprice * 100) as bigint)"), "Max")
        .select(col("l_orderkey").as("o_orderkey"),
          col("score").cast("long").as("max_price100"))
      graft.Ranks.rankTopK(agg, 10,
          Seq(col("max_price100").desc, col("o_orderkey").asc))
        .select("o_orderkey", "max_price100", "rank").orderBy("rank")
    }),

    "q_blockjoin_child" -> ((s, dir) => {
      val par = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_linenumber")
      BlockJoin.toChild(par, li, "l_orderkey", col("o_totalprice") > 400000)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- relational core (TPC-H-ish; grouping/join modules as Catalyst one-liners)
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"),
          sum(expr("cast(floor(l_quantity * 100) as bigint)")).cast("long").as("qty100"),
          sum(expr("cast(floor(l_extendedprice * 100) as bigint)")).cast("long").as("price100"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q_join_agg" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("cnt"),
          sum(expr("cast(floor(o_totalprice * 100) as bigint)")).cast("long").as("total100"))
        .orderBy("c_mktsegment")
    }),

    // ---- range facets (Facet/Range module): numeric bucketing of a measure
    "q_facet_range" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .withColumn("bucket", (floor(col("l_quantity") / 10) * 10).cast("int"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")),

    // ---- JoinUtil.CreateJoinQuery analog: from-side values -> to-side filter
    // ("sources that contain a 'hash join' doc" gate a 'vector' search)
    "q_semijoin" -> ((s, dir) => {
      val docs = documents(s, dir)
      val tokPos = docs.select(col("doc_id"), col("source"),
        posexplode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as(Seq("pos", "term")))
      val phraseSources = tokPos.as("a")
        .join(tokPos.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("b.pos") === col("a.pos") + 1 &&
            col("a.term") === "hash" && col("b.term") === "join")
        .select(col("a.source").as("source")).distinct()
      docs.join(phraseSources, Seq("source"), "left_semi")
        .join(tokPos.filter(col("term") === "vector").select("doc_id").distinct(), Seq("doc_id"), "left_semi")
        .select("doc_id").orderBy("doc_id")
    }),

    // ---- unigram-LM quality score: mean corpus log-probability per token,
    // scaled to an integer (micro-nats) for exact cross-engine comparison
    "q_lm_score" -> ((s, dir) => {
      val docs = documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")).as("term"))
      val ttf = toks.groupBy("term").agg(count(lit(1)).as("ttf"))
      val total = toks.count()
      toks.join(ttf, "term")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"), sum(log(col("ttf").cast("double") / total)).as("lp"))
        // milli-nat integer scale: coarse enough that sum-order ulp noise
        // cannot flip the floor on either engine
        .select(col("doc_id"),
          expr("cast(floor(lp / n * 1000) as bigint)").as("score_milli"))
        .orderBy("doc_id")
    }),

    // ---- event-time analytics (streaming-analog window + sessionization)
    "q_events_window" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(unix_timestamp(date_trunc("hour", col("ts"))).cast("long").as("h"),
          col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).cast("long").as("nusers"))
        .orderBy("h", "event_type")),

    // --- contrib/Spatial (pipeline/Spatial.scala): deterministic points
    //     derived from doc_id so the DuckDB twin recomputes them exactly
    "q_spatial_bbox" -> ((s, dir) => {
      val pts = spatialPoints(s, dir)
      Spatial.bboxFilter(pts, "lat", "lon", 10.0, 45.0, -30.0, 60.0)
        .select("doc_id").orderBy("doc_id")
    }),

    // prefix-tree path: covering-cell prune at level 6 + exact refine must
    // equal the plain bbox answer (RecursivePrefixTreeFilter semantics)
    "q_spatial_cells" -> ((s, dir) => {
      val pts = Spatial.withCells(spatialPoints(s, dir), "lat", "lon", 6)
      Spatial.cellBboxFilter(pts, "lat", "lon", 10.0, 45.0, -30.0, 60.0, 6)
        .select("doc_id").orderBy("doc_id")
    }),

    "q_spatial_distance" -> ((s, dir) => {
      val pts = spatialPoints(s, dir)
      Spatial.distanceFilter(pts, "lat", "lon", 48.85, 2.35, 1500.0)
        .select(col("doc_id"), round(col("distKm"), 4).as("dist_km"))
        .orderBy("doc_id")
    }),

    "q_spatial_nearest" -> ((s, dir) => {
      val pts = spatialPoints(s, dir)
      Spatial.nearestK(pts, "lat", "lon", "doc_id", 48.85, 2.35, 10)
        .select("doc_id", "rank")
    }),

    // --- BBoxStrategy (contrib/Spatial/BBox): rectangle relations + the
    //     AreaSimilarity overlap score over stored rect rows
    "q_bbox_intersects" -> ((s, dir) =>
      spatialRects(s, dir)
        .filter(Spatial.BBox.intersects(Spatial.Rect(0.0, 20.0, 0.0, 30.0)))
        .select("doc_id").orderBy("doc_id")),

    "q_bbox_within" -> ((s, dir) =>
      spatialRects(s, dir)
        .filter(Spatial.BBox.within(Spatial.Rect(-20.0, 40.0, -60.0, 60.0)))
        .select("doc_id").orderBy("doc_id")),

    "q_bbox_area" -> ((s, dir) => {
      val q = Spatial.Rect(0.0, 20.0, 0.0, 30.0)
      val scored = spatialRects(s, dir)
        .withColumn("s", Spatial.BBox.areaScore(q))
      Ranks.rankTopK(scored, 10, Seq(col("s").desc, col("doc_id").asc))
        .select("doc_id", "rank")
    }),

    // ---- STREAMING twins (streaming/StreamingAnalytics.scala): the same
    // analytics as q_events_window/_sessions computed by a DRAINED
    // Structured-Streaming query — watermarked Append-mode windows and
    // flatMapGroupsWithState sessionization. A sentinel event 2h past the
    // end pushes the watermark beyond every real window/session so Append
    // mode emits them all before AvailableNow stops; sentinel rows are
    // filtered back out. One input file -> one deterministic micro-batch.
    "q_streamed_window" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = s.read.parquet(s"$dir/events.parquet").select("ts", "event_type")
      val sentinel = ev.agg(max(col("ts")).as("m"))
        .select((col("m") + expr("INTERVAL 2 HOURS")).as("ts"),
          lit("___wm___").as("event_type"))
      val inDir = s"${System.getProperty("java.io.tmpdir")}/graft_swin_${math.abs(dir.hashCode)}"
      ev.unionByName(sentinel).coalesce(1).write.mode("overwrite").parquet(inDir)
      val q = graft.streaming.StreamingAnalytics.windowedCounts(
          s.readStream.schema(ev.schema).parquet(inDir),
          "ts", "event_type", "30 minutes", "1 hour")
        .writeStream.format("memory").queryName("graft_swin_out")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_swin_out").filter(col("event_type") =!= "___wm___")
        .select(col("win_start").as("h"), col("event_type"), col("cnt"))
        .orderBy("h", "event_type")
    }),

    "q_streamed_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = s.read.parquet(s"$dir/events.parquet").select("user_id", "ts")
      val sentinelEpoch = ev
        .agg((unix_timestamp(max(col("ts"))) + 7200L).as("e")).collect()(0).getLong(0)
      val sentinels = ev.select("user_id").distinct()
        .crossJoin(ev.agg(max(col("ts")).as("m")))
        .select(col("user_id"), (col("m") + expr("INTERVAL 2 HOURS")).as("ts"))
      val inDir = s"${System.getProperty("java.io.tmpdir")}/graft_ssess_${math.abs(dir.hashCode)}"
      ev.unionByName(sentinels).coalesce(1).write.mode("overwrite").parquet(inDir)
      val q = graft.streaming.StreamingAnalytics.sessionize(
          s.readStream.schema(ev.schema).parquet(inDir), gapSec = 1800)
        .writeStream.format("memory").queryName("graft_ssess_out")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table("graft_ssess_out")
        .filter(col("session_start") < sentinelEpoch)
        .groupBy("user_id").agg(count(lit(1)).cast("long").as("n_sessions"))
        .orderBy("user_id")
    }),

    "q_events_sessions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("newSess",
          when(col("prev").isNull ||
            (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))) > 1800, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("newSess")).cast("long").as("n_sessions"))
        .orderBy("user_id")
    }),

    // ---- webtext curation family: repeated-span mining, line-level dedup,
    // benchmark decontamination, URL canonicalization + URL dedup

    // boilerplate span mining: 3-token shingles shared by >= 2 docs, with
    // doc frequency — one partial-aggregated shuffle, no pair join
    "q_dedup_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(documents(s, dir), "doc_id", "text", k = 3, minDocs = 2)
        .orderBy("span")),

    // line-level dedup over a deterministic 6-line fixture (line text is a
    // pure formula of (doc_id, pos) the DuckDB twin recomputes): first
    // occurrence of each exact line survives; per-doc counts + content digest
    "q_dedup_lines" -> ((s, dir) => {
      val fix = documents(s, dir)
        .select(col("doc_id"), concat_ws("\n", LineFixtureExprs: _*).as("text"))
      Dedup.lineDedup(fix, "doc_id", "text")
        .select(col("id").as("doc_id"), col("kept"), col("total"), col("dedup_digest"))
        .orderBy("doc_id")
    }),

    // decontamination: probes = doc 0's own 3-gram shingles (the "benchmark"
    // side, collected driver-side and broadcast); hits = distinct probes
    // contained per doc
    "q_decontaminate" -> ((s, dir) => {
      val probes = Dedup.shingles(
          documents(s, dir).filter(col("doc_id") === 0), "doc_id", "text", 3)
        .select("shingle").collect().map(_.getString(0)).toSeq
      Dedup.contamination(documents(s, dir), "doc_id", "text", probes, 3)
        .orderBy("doc_id")
    }),

    // URL canonicalization over deterministic raw-URL fixtures (mixed-case
    // scheme/host, default ports, trailing slashes, utm params, fragments —
    // all pure formulas of doc_id)
    "q_url_canon" -> ((s, dir) =>
      TextStats.canonicalUrl(
          documents(s, dir).selectExpr("doc_id", UrlFixture("STRING") + " AS url"),
          "doc_id", "url")
        .orderBy("doc_id")),

    // per-host crawl stats: docs per host vs distinct canonical pages per
    // host — the dup-rate view a crawl-health dashboard reads
    "q_url_hosts" -> ((s, dir) =>
      TextStats.hostStats(
          documents(s, dir).selectExpr("doc_id", UrlFixture("STRING") + " AS url"),
          "doc_id", "url")
        .orderBy("host")),

    // URL dedup: group by the canonical form — raw variants that differ only
    // in case/port/trailing-slash/tracking-params collapse to one group
    "q_url_dedup" -> ((s, dir) =>
      TextStats.canonicalUrl(
          documents(s, dir).selectExpr("doc_id", UrlFixture("STRING") + " AS url"),
          "doc_id", "url")
        .groupBy("canon")
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("min_id"))
        .filter(col("cnt") > 1)
        .orderBy("canon"))
  )

  /** Raw-URL fixture: a pure formula of doc_id shared verbatim with the
    * DuckDB oracle (`t` = the dialect's string type name) AND with Bench
    * (one definition — the benched rules cannot drift from the gated ones).
    * Exercises every canonicalization rule: mixed-case scheme+host, default
    * ports on both schemes, trailing slash, utm_ tracking param, unsorted
    * params, fragment.
    */
  /** The q_dedup_lines 6-line fixture columns — one definition shared with
    * Bench (line i of doc d = 'w((d*7+i*13)%9) content ((d+i)%23)'). */
  private[graft] def LineFixtureExprs: Seq[org.apache.spark.sql.Column] =
    (0 until 6).map(i =>
      expr(s"concat('w', CAST((doc_id * 7 + $i * 13) % 9 AS STRING), " +
        s"' content ', CAST((doc_id + $i) % 23 AS STRING))"))

  private[graft] def UrlFixture(t: String): String =
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'httpS://' END) || " +
      s"'ExAmple' || CAST(doc_id % 5 AS $t) || '.COM' || " +
      "(CASE WHEN doc_id % 3 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) ELSE '' END) || " +
      s"'/Path' || CAST(doc_id % 3 AS $t) || " +
      "(CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END) || " +
      s"'?utm_source=x&b=' || CAST(doc_id % 5 AS $t) || '&a=' || CAST(doc_id % 2 AS $t) || " +
      "(CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END)"

  // ------------------------------------------------------------------ SQL

  /** Shared shingle CTE (k=3) matching Dedup.shingles. */
  private val SH =
    """WITH arrs AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS arr FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id AS id, array_to_string(arr[i + 1:i + 3], ' ') AS shingle
      |  FROM arrs, unnest(generate_series(0, len(arr) - 3)) AS t(i)
      |  WHERE len(arr) >= 3)""".stripMargin

  private def coefValues: String =
    Dedup.coeffs(16).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}, ${b})" }.mkString(", ")

  /** DuckDB twin of [[spatialPoints]]. */
  private val SpatialPts =
    """WITH pts AS (
      |  SELECT doc_id,
      |    ((doc_id * 7919) % 17000) / 100.0 - 85.0 AS lat,
      |    ((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon
      |  FROM documents)""".stripMargin

  /** Haversine to (48.85, 2.35), op-for-op the engine's column order
    * (Spatial.haversineKm with lat1=lat, lon1=lon, lat2/lon2 = the point). */
  private val HaversineSql =
    """2 * 6371.0087714 * asin(sqrt(
      |    pow(sin(radians(48.85 - lat) / 2), 2)
      |    + cos(radians(lat)) * cos(radians(48.85))
      |      * pow(sin(radians(2.35 - lon) / 2), 2)))""".stripMargin

  /** DuckDB twin of [[spatialRects]]. */
  private val SpatialRects =
    """WITH rects AS (
      |  SELECT doc_id,
      |    ((doc_id * 7919) % 16000) / 100.0 - 85.0 AS minLat,
      |    (((doc_id * 7919) % 16000) / 100.0 - 85.0) + (((doc_id * 17) % 800) / 100.0 + 0.5) AS maxLat,
      |    ((doc_id * 104729) % 34000) / 100.0 - 180.0 AS minLon,
      |    (((doc_id * 104729) % 34000) / 100.0 - 180.0) + (((doc_id * 31) % 1000) / 100.0 + 0.5) AS maxLon
      |  FROM documents)""".stripMargin

  def pipeOracle: Map[String, String] = Map(
    "q_bbox_intersects" ->
      s"""$SpatialRects SELECT doc_id FROM rects
         |WHERE minLon <= 30.0 AND maxLon >= 0.0 AND minLat <= 20.0 AND maxLat >= 0.0
         |ORDER BY doc_id""".stripMargin,

    "q_bbox_within" ->
      s"""$SpatialRects SELECT doc_id FROM rects
         |WHERE minLon >= -60.0 AND maxLon <= 60.0 AND minLat >= -20.0 AND maxLat <= 40.0
         |ORDER BY doc_id""".stripMargin,

    // AreaSimilarity.cs:168-176 with queryPower=2, targetPower=0.5:
    // pow(iArea/qArea, 2) * pow(iArea/tArea, 0.5) * 10000 when the
    // intersection is non-degenerate, else 0
    "q_bbox_area" ->
      s"""$SpatialRects, scored AS (
         |  SELECT doc_id,
         |    CASE WHEN (least(30.0, maxLon) - greatest(0.0, minLon)) > 0
         |          AND (least(20.0, maxLat) - greatest(0.0, minLat)) > 0
         |          AND ((maxLon - minLon) * (maxLat - minLat)) > 0
         |    THEN pow(((least(30.0, maxLon) - greatest(0.0, minLon))
         |              * (least(20.0, maxLat) - greatest(0.0, minLat)))
         |             / (abs(30.0 - 0.0) * abs(20.0 - 0.0)), 2.0)
         |       * pow(((least(30.0, maxLon) - greatest(0.0, minLon))
         |              * (least(20.0, maxLat) - greatest(0.0, minLat)))
         |             / ((maxLon - minLon) * (maxLat - minLat)), 0.5)
         |       * 10000.0
         |    ELSE 0.0 END AS s
         |  FROM rects)
         |SELECT doc_id, CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rank
         |FROM scored ORDER BY s DESC, doc_id LIMIT 10""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS min_id
        |FROM documents GROUP BY md5(text) HAVING count(*) > 1 ORDER BY h""".stripMargin,

    "q_streamed_dedup" ->
      """SELECT md5(text) AS h, CAST(1 AS BIGINT) AS survivors
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,

    "q_dedup_jaccard" ->
      s"""$SH, sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS ida, b.id AS idb, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY a.id, b.id)
         |SELECT ida, idb FROM inter
         |JOIN sizes sa ON sa.id = ida JOIN sizes sb ON sb.id = idb
         |WHERE i * 2 >= (sa.n + sb.n - i) * 1
         |ORDER BY ida, idb""".stripMargin,

    "q_dedup_minhash" ->
      s"""$SH, coef(i, a, b) AS (VALUES $coefValues),
         |hashed AS (
         |  SELECT id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % 2147483647 AS h
         |  FROM sh),
         |minh AS (
         |  SELECT id, c.i, min((h * c.a + c.b) % 2147483647) AS minh
         |  FROM hashed CROSS JOIN coef c GROUP BY id, c.i),
         |banded AS (
         |  SELECT id, i // 4 AS band, string_agg(CAST(minh AS VARCHAR), '_' ORDER BY i) AS sig
         |  FROM minh GROUP BY id, i // 4)
         |SELECT DISTINCT a.id AS ida, b.id AS idb
         |FROM banded a JOIN banded b
         |  ON a.band = b.band AND a.sig = b.sig AND a.id < b.id
         |ORDER BY ida, idb""".stripMargin,

    // transitive closure via recursive CTE: cluster = min reachable id
    "q_dedup_clusters" ->
      s"""${SH.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS ida, b.id AS idb, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
         |  GROUP BY a.id, b.id),
         |pairs AS (
         |  SELECT ida, idb FROM inter
         |  JOIN sizes sa ON sa.id = ida JOIN sizes sb ON sb.id = idb
         |  WHERE i * 2 >= (sa.n + sb.n - i) * 1),
         |edges AS (
         |  SELECT ida AS a, idb AS b FROM pairs
         |  UNION SELECT idb, ida FROM pairs),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS doc_id, least(a, min(b)) AS cluster
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tfq AS (SELECT doc_id AS id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |tb AS (
        |  SELECT term,
        |    CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS h1,
        |    CAST(('0x' || substr(md5(term), 9, 8)) AS BIGINT) AS h2
        |  FROM (SELECT DISTINCT term FROM tfq)),
        |bits AS (
        |  SELECT term, j,
        |    CASE WHEN j < 24 THEN (h1 // CAST(pow(2, j) AS BIGINT)) % 2
        |         ELSE (h2 // CAST(pow(2, j - 24) AS BIGINT)) % 2 END AS bit
        |  FROM tb, unnest(generate_series(0, 47)) AS g(j)),
        |w AS (
        |  SELECT id, j, sum(tf * (bit * 2 - 1)) AS w
        |  FROM tfq JOIN bits USING (term) GROUP BY id, j),
        |fp AS (
        |  SELECT id,
        |    CAST(sum((CASE WHEN w > 0 THEN 1 ELSE 0 END) * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS simhash
        |  FROM w GROUP BY id),
        |banded AS (
        |  SELECT id, simhash, 0 AS band, simhash % 65536 AS v FROM fp
        |  UNION ALL
        |  SELECT id, simhash, 1, (simhash // 65536) % 65536 FROM fp
        |  UNION ALL
        |  SELECT id, simhash, 2, simhash // 4294967296 FROM fp),
        |cand AS (
        |  SELECT DISTINCT a.id AS ida, b.id AS idb, a.simhash AS ha, b.simhash AS hb
        |  FROM banded a JOIN banded b
        |    ON a.band = b.band AND a.v = b.v AND a.id < b.id)
        |SELECT ida, idb, CAST(bit_count(CAST(xor(ha, hb) AS BIGINT)) AS INT) AS hamming
        |FROM cand WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= 16
        |ORDER BY ida, idb""".stripMargin,

    "q_dedup_pairs" ->
      s"""$SH, coef(i, a, b) AS (VALUES $coefValues),
         |hashed AS (
         |  SELECT id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) % 2147483647 AS h
         |  FROM sh),
         |minh AS (
         |  SELECT id, c.i, min((h * c.a + c.b) % 2147483647) AS minh
         |  FROM hashed CROSS JOIN coef c GROUP BY id, c.i),
         |banded AS (
         |  SELECT id, i // 4 AS band, string_agg(CAST(minh AS VARCHAR), '_' ORDER BY i) AS sig
         |  FROM minh GROUP BY id, i // 4),
         |cand AS (
         |  SELECT DISTINCT a.id AS ida, b.id AS idb
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.sig = b.sig AND a.id < b.id),
         |sizes AS (SELECT id, count(*) AS n FROM sh GROUP BY id),
         |inter AS (
         |  SELECT c.ida, c.idb, count(*) AS i
         |  FROM cand c JOIN sh a ON a.id = c.ida
         |  JOIN sh b ON b.id = c.idb AND a.shingle = b.shingle
         |  GROUP BY c.ida, c.idb)
         |SELECT ida, idb FROM inter
         |JOIN sizes sa ON sa.id = ida JOIN sizes sb ON sb.id = idb
         |WHERE i * 2 >= (sa.n + sb.n - i) * 1
         |ORDER BY ida, idb""".stripMargin,

    "q_facet_tax" ->
      """WITH matching AS (
        |  SELECT * FROM documents
        |  WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector'))
        |SELECT path, cnt FROM (
        |  SELECT source AS path, count(*) AS cnt FROM matching GROUP BY source
        |  UNION ALL
        |  SELECT source || '/' || lang AS path, count(*) AS cnt FROM matching GROUP BY source, lang)
        |ORDER BY path""".stripMargin,

    "q_drill_sideways" ->
      """WITH matching AS (
        |  SELECT * FROM documents
        |  WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector'))
        |SELECT dim, value, cnt FROM (
        |  SELECT 'lang' AS dim, lang AS value, count(*) AS cnt
        |  FROM matching WHERE source = 'src3' GROUP BY lang
        |  UNION ALL
        |  SELECT 'source' AS dim, source AS value, count(*) AS cnt
        |  FROM matching GROUP BY source)
        |ORDER BY dim, value""".stripMargin,

    "q_blockjoin_parent" ->
      """SELECT l_orderkey AS o_orderkey, count(*) AS child_matches,
        |  CAST(max(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS max_price100
        |FROM lineitem WHERE l_quantity >= 48
        |GROUP BY l_orderkey ORDER BY o_orderkey""".stripMargin,

    "q_blockjoin_child" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tfq AS (SELECT doc_id AS id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |tb AS (
        |  SELECT term,
        |    CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT) AS h1,
        |    CAST(('0x' || substr(md5(term), 9, 8)) AS BIGINT) AS h2
        |  FROM (SELECT DISTINCT term FROM tfq)),
        |bits AS (
        |  SELECT term, j,
        |    CASE WHEN j < 24 THEN (h1 // CAST(pow(2, j) AS BIGINT)) % 2
        |         ELSE (h2 // CAST(pow(2, j - 24) AS BIGINT)) % 2 END AS bit
        |  FROM tb, unnest(generate_series(0, 47)) AS g(j)),
        |w AS (
        |  SELECT id, j, sum(tf * (bit * 2 - 1)) AS w
        |  FROM tfq JOIN bits USING (term) GROUP BY id, j)
        |SELECT id AS doc_id,
        |  CAST(sum((CASE WHEN w > 0 THEN 1 ELSE 0 END) * CAST(pow(2, j) AS BIGINT)) AS BIGINT) AS simhash
        |FROM w GROUP BY id ORDER BY doc_id""".stripMargin,

    "q_ann_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(list_zip(e.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(q.qe,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cos
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0)
        |SELECT vec_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
        |FROM scored ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "q_dedup_embed" ->
      """WITH planes AS (
        |  SELECT a.i, b.j,
        |    (CAST(('0x' || substr(md5(a.i || '_' || b.j), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS c
        |  FROM unnest(generate_series(0, 63)) AS a(i), unnest(generate_series(0, 7)) AS b(j)),
        |dots AS (
        |  SELECT e.vec_id, p.j, sum(CAST(e.embedding[p.i + 1] AS DOUBLE) * p.c) AS dot
        |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id, p.j),
        |buckets AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN dot > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM dots GROUP BY vec_id),
        |cand AS (
        |  SELECT a.vec_id AS ida, b.vec_id AS idb
        |  FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
        |scored AS (
        |  SELECT c.ida, c.idb,
        |    list_reduce(list_transform(list_zip(ea.embedding, eb.embedding),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_transform(ea.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(eb.embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cos
        |  FROM cand c JOIN embeddings ea ON ea.vec_id = c.ida
        |  JOIN embeddings eb ON eb.vec_id = c.idb)
        |SELECT ida, idb FROM scored WHERE cos >= 0.1 ORDER BY ida, idb""".stripMargin,

    "q_ann_ivf" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 20 = 0),
        |probed AS (
        |  SELECT cid FROM cents CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(list_zip(ce, q.qe),
        |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |    (a, b) -> a + b) ASC, cid ASC
        |  LIMIT 3),
        |dists AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(list_zip(e.embedding, c.ce),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS d2
        |  FROM embeddings e CROSS JOIN cents c),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |    FROM dists) WHERE rn = 1),
        |cand AS (
        |  SELECT e.* FROM embeddings e JOIN assign a USING (vec_id)
        |  WHERE a.cid IN (SELECT cid FROM probed) AND e.vec_id <> 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(list_zip(e.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(q.qe,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cos
        |  FROM cand e CROSS JOIN q)
        |SELECT vec_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
        |FROM scored ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    // one Lloyd update in exact integer arithmetic, then the final argmin:
    // quantize -> assign to seeds -> per-(cell, dim) integer-floor means ->
    // re-assign; row_number (d2 asc, cid asc) is the ArgMinCentroid tie rule
    "q_ann_kmeans" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, qe AS ce FROM q WHERE vec_id % 20 = 0),
        |d1 AS (
        |  SELECT v.vec_id, c.cid,
        |    list_reduce(list_transform(list_zip(v.qe, c.ce),
        |      x -> CAST(x[1] - x[2] AS DOUBLE) * CAST(x[1] - x[2] AS DOUBLE)),
        |      (a, b) -> a + b) AS d2
        |  FROM q v CROSS JOIN c0 c),
        |a1 AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM d1) WHERE rn = 1),
        |x1 AS (
        |  SELECT a1.cid, g.i, q.qe[g.i] AS qv
        |  FROM a1 JOIN q USING (vec_id), unnest(generate_series(1, len(q.qe))) AS g(i)),
        |c1 AS (
        |  SELECT cid, list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT) ORDER BY i) AS ce
        |  FROM (SELECT cid, i, sum(qv) AS s, count(*) AS n FROM x1 GROUP BY cid, i)
        |  GROUP BY cid),
        |dt AS (
        |  SELECT v.vec_id, c.cid,
        |    list_reduce(list_transform(list_zip(v.qe, c.ce),
        |      x -> CAST(x[1] - x[2] AS DOUBLE) * CAST(x[1] - x[2] AS DOUBLE)),
        |      (a, b) -> a + b) AS d2
        |  FROM q v CROSS JOIN c1 c)
        |SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM dt) WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    // PQ/ADC replay: quantize -> slice into 4 subspaces -> assign each
    // subvector to its nearest seed codeword ((d2, cid) rule) -> approximate
    // d2 = sum over subspaces of the QUERY-to-ASSIGNED-CODEWORD distance
    "q_ann_pq" ->
      """WITH q AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qe
        |  FROM embeddings),
        |subv AS (
        |  SELECT vec_id, g.m, qe[g.m * 16 + 1 : g.m * 16 + 16] AS sv
        |  FROM q, unnest(generate_series(0, 3)) AS g(m)),
        |seeds AS (SELECT vec_id AS cid, m, sv AS ce FROM subv WHERE vec_id % 20 = 0),
        |d AS (
        |  SELECT s.vec_id, s.m, c.cid,
        |    list_reduce(list_transform(list_zip(s.sv, c.ce),
        |      x -> CAST(x[1] - x[2] AS DOUBLE) * CAST(x[1] - x[2] AS DOUBLE)),
        |      (a, b) -> a + b) AS d2
        |  FROM subv s JOIN seeds c USING (m)),
        |assign AS (SELECT vec_id, m, cid FROM (
        |  SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
        |  FROM d) WHERE rn = 1),
        |qsub AS (SELECT m, sv FROM subv WHERE vec_id = 0),
        |adc AS (
        |  SELECT a.vec_id, sum(
        |    list_reduce(list_transform(list_zip(qs.sv, c.ce),
        |      x -> CAST(x[1] - x[2] AS DOUBLE) * CAST(x[1] - x[2] AS DOUBLE)),
        |      (a2, b2) -> a2 + b2)) AS ad2
        |  FROM assign a
        |  JOIN seeds c ON a.m = c.m AND a.cid = c.cid
        |  JOIN qsub qs ON qs.m = a.m
        |  GROUP BY a.vec_id)
        |SELECT vec_id, CAST(row_number() OVER (ORDER BY ad2, vec_id) AS INT) AS rank
        |FROM adc WHERE vec_id <> 0 ORDER BY ad2, vec_id LIMIT 10""".stripMargin,

    "q_ann_ivf_indexed" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 20 = 0),
        |probed AS (
        |  SELECT cid FROM cents CROSS JOIN q
        |  ORDER BY list_reduce(list_transform(list_zip(ce, q.qe),
        |    x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |    (a, b) -> a + b) ASC, cid ASC
        |  LIMIT 3),
        |dists AS (
        |  SELECT e.vec_id, c.cid,
        |    list_reduce(list_transform(list_zip(e.embedding, c.ce),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)) * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))),
        |      (a, b) -> a + b) AS d2
        |  FROM embeddings e CROSS JOIN cents c),
        |assign AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn
        |    FROM dists) WHERE rn = 1),
        |cand AS (
        |  SELECT e.* FROM embeddings e JOIN assign a USING (vec_id)
        |  WHERE a.cid IN (SELECT cid FROM probed) AND e.vec_id <> 0),
        |scored AS (
        |  SELECT e.vec_id,
        |    list_reduce(list_transform(list_zip(e.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), (a, b) -> a + b)
        |    / (sqrt(list_reduce(list_transform(e.embedding,
        |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
        |       * sqrt(list_reduce(list_transform(q.qe,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))) AS cos
        |  FROM cand e CROSS JOIN q)
        |SELECT vec_id, CAST(row_number() OVER (ORDER BY cos DESC, vec_id) AS INT) AS rank
        |FROM scored ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin,

    "q_ann_lsh" ->
      """WITH planes AS (
        |  SELECT a.i, b.j,
        |    (CAST(('0x' || substr(md5(a.i || '_' || b.j), 1, 8)) AS BIGINT) % 2001 - 1000) / 1000.0 AS c
        |  FROM unnest(generate_series(0, 63)) AS a(i), unnest(generate_series(0, 7)) AS b(j)),
        |dots AS (
        |  SELECT e.vec_id, p.j, sum(CAST(e.embedding[p.i + 1] AS DOUBLE) * p.c) AS dot
        |  FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id, p.j)
        |SELECT vec_id,
        |  CAST(sum(CASE WHEN dot > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |FROM dots GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q_quality" -> {
      val stopList = TextStats.StopWords33.map(w => s"'$w'").mkString(", ")
      s"""WITH arrs AS (
         |  SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS arr FROM documents)
         |SELECT doc_id, CAST(len(arr) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(arr, x -> list_contains([$stopList], x))) AS BIGINT) AS n_stop,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(list_filter(arr, x -> regexp_matches(x, '^[0-9]+$$'))) AS BIGINT) AS n_numeric
         |FROM arrs ORDER BY doc_id""".stripMargin
    },

    "q_langid" -> {
      // fold a CASE chain identical to TextStats.langId (count desc, first-in-order wins ties)
      val counts = TextStats.Markers.map { case (lang, words) =>
        val arr = words.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(arr, x -> list_contains([$arr], x))) AS c_$lang"
      }.mkString(",\n  ")
      val langs = TextStats.Markers.map(_._1)
      val (predExpr, _) = langs.foldLeft(("'und'", "0")) { case ((bl, bc), lang) =>
        (s"CASE WHEN c_$lang > $bc THEN '$lang' ELSE $bl END",
          s"CASE WHEN c_$lang > $bc THEN c_$lang ELSE $bc END")
      }
      s"""WITH arrs AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS arr FROM documents),
         |cs AS (SELECT doc_id, $counts FROM arrs)
         |SELECT doc_id, $predExpr AS pred_lang FROM cs ORDER BY doc_id""".stripMargin
    },

    "q_tokcount" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_mlt_vector" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tfq AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfs AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT term, CAST(row_number() OVER (ORDER BY s DESC, term) AS INT) AS rank FROM (
        |  SELECT t.term, t.tf * ln(1 + ((n.n - d.df) + 0.5) / (d.df + 0.5)) AS s
        |  FROM tfq t JOIN dfs d ON d.term = t.term CROSS JOIN n
        |  WHERE t.doc_id = 0)
        |ORDER BY s DESC, term LIMIT 5""".stripMargin,

    "q_mlt" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |tfq AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfs AS (SELECT term, count(*) AS df FROM tfq GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT term, CAST(row_number() OVER (ORDER BY s DESC, term) AS INT) AS rank FROM (
        |  SELECT t.term, t.tf * ln(1 + ((n.n - d.df) + 0.5) / (d.df + 0.5)) AS s
        |  FROM tfq t JOIN dfs d ON d.term = t.term CROSS JOIN n
        |  WHERE t.doc_id = 0)
        |ORDER BY s DESC, term LIMIT 5""".stripMargin,

    "q_webtext_extract" ->
      """SELECT doc_id, 1 AS ok FROM documents ORDER BY doc_id""",

    // oracle recomputes the decoded dims/format from the fixture formulas
    // (w = 8 + id%57, h = 8 + 13id%41, format rotates png/bmp/gif/jpeg)
    "q_media_meta" ->
      """SELECT doc_id,
        |  CAST(8 + doc_id % 57 AS INT) AS width,
        |  CAST(8 + (doc_id * 13) % 41 AS INT) AS height,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'bmp'
        |       WHEN 2 THEN 'gif' ELSE 'jpeg' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,

    // exact-integer aspect clamp to (32, 24) + solid-color round trip:
    // thumb re-decode must yield the clamped dims and the fixture color
    "q_media_resize" ->
      """WITH m AS (SELECT doc_id,
        |    8 + doc_id % 57 AS w, 8 + (doc_id * 13) % 41 AS h,
        |    doc_id % 256 AS r, (doc_id * 31) % 256 AS g, (doc_id * 77) % 256 AS b
        |  FROM documents),
        |d AS (SELECT doc_id, r, g, b,
        |    CASE WHEN w <= 32 AND h <= 24 THEN w
        |         WHEN w * 24 >= h * 32 THEN 32
        |         ELSE greatest(1, (w * 24) // h) END AS out_w,
        |    CASE WHEN w <= 32 AND h <= 24 THEN h
        |         WHEN w * 24 >= h * 32 THEN greatest(1, (h * 32) // w)
        |         ELSE 24 END AS out_h
        |  FROM m)
        |SELECT doc_id, CAST(out_w AS INT) AS out_w, CAST(out_h AS INT) AS out_h,
        |  CAST(out_w AS INT) AS thumb_w, CAST(out_h AS INT) AS thumb_h,
        |  CAST(r AS INT) AS thumb_r, CAST(g AS INT) AS thumb_g, CAST(b AS INT) AS thumb_b
        |FROM d ORDER BY doc_id""".stripMargin,

    // checkerboard pixel sums: nEven = ceil(w*h/2) cells carry the base
    // color, the rest its inverse — exact ints, float-lossless
    "q_media_embed" ->
      """WITH m AS (SELECT doc_id,
        |    8 + doc_id % 57 AS w, 8 + (doc_id * 13) % 41 AS h,
        |    doc_id % 256 AS r, (doc_id * 31) % 256 AS g, (doc_id * 77) % 256 AS b
        |  FROM documents),
        |c AS (SELECT doc_id, w, h, r, g, b,
        |    (w * h + 1) // 2 AS ne, (w * h) // 2 AS no FROM m)
        |SELECT doc_id,
        |  CAST(w AS DOUBLE) AS f0, CAST(h AS DOUBLE) AS f1,
        |  CAST(ne * r + no * (255 - r) AS DOUBLE) AS f2,
        |  CAST(ne * g + no * (255 - g) AS DOUBLE) AS f3,
        |  CAST(ne * b + no * (255 - b) AS DOUBLE) AS f4
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_media_frames" ->
      """WITH f AS (SELECT doc_id,
        |    unnest(range(2 + doc_id % 3)) AS fi FROM documents)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(8 + doc_id % 57 AS INT) AS w,
        |  CAST(8 + (doc_id * 13) % 41 AS INT) AS h,
        |  CAST((doc_id % 256 + 40 * fi) % 256 AS INT) AS r,
        |  CAST(((doc_id * 31) % 256 + 40 * fi) % 256 AS INT) AS g,
        |  CAST(((doc_id * 77) % 256 + 40 * fi) % 256 AS INT) AS b
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q_media_audio" ->
      """WITH m AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS sample_rate,
        |    CAST(1 + doc_id % 2 AS INT) AS channels,
        |    100 + (doc_id * 17) % 400 AS frames
        |  FROM documents),
        |b AS (SELECT doc_id, unnest(range(frames * channels * 2)) AS i FROM m),
        |s AS (SELECT doc_id, sum((i * 7 + doc_id) % 256) AS byte_sum FROM b GROUP BY doc_id)
        |SELECT m.doc_id, CAST(m.sample_rate AS INT) AS sample_rate, m.channels,
        |  16 AS bits, CAST(m.frames AS BIGINT) AS frames,
        |  CAST(s.byte_sum AS BIGINT) AS byte_sum
        |FROM m JOIN s ON m.doc_id = s.doc_id ORDER BY m.doc_id""".stripMargin,

    "q_group_top" ->
      """SELECT lang, doc_id, rn FROM (
        |  SELECT lang, doc_id, CAST(row_number() OVER (
        |    PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS INT) AS rn
        |  FROM documents)
        |WHERE rn <= 2 ORDER BY lang, rn""".stripMargin,

    "q_facet" ->
      """SELECT source, count(*) AS cnt FROM documents
        |WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector')
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_facet_assoc_int" ->
      """SELECT source, CAST(sum(n_chars) AS BIGINT) AS assoc_sum FROM documents
        |WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector')
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_facet_assoc_float" ->
      """SELECT lang, sum(CAST(n_chars AS DOUBLE) * 0.25) AS assoc_sum FROM documents
        |WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_group_facet" ->
      """SELECT lang, CAST(count(DISTINCT source) AS BIGINT) AS groups FROM documents
        |WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector')
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_group_heads" ->
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id, row_number() OVER (
        |    PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn = 1 ORDER BY lang""".stripMargin,

    "q_blockjoin_sort" ->
      """SELECT o_orderkey, max_price100,
        |  CAST(row_number() OVER (ORDER BY max_price100 DESC, o_orderkey) AS INT) AS rank
        |FROM (SELECT l_orderkey AS o_orderkey,
        |        CAST(max(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS max_price100
        |      FROM lineitem GROUP BY l_orderkey)
        |ORDER BY rank LIMIT 10""".stripMargin,

    "q_facet_ssdv" ->
      """WITH m AS (SELECT source, lang FROM documents
        |  WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector'))
        |SELECT dim, label, cnt FROM (
        |  SELECT 'source' AS dim, source AS label, count(*) AS cnt FROM m GROUP BY source
        |  UNION ALL
        |  SELECT 'lang' AS dim, lang AS label, count(*) AS cnt FROM m GROUP BY lang)
        |ORDER BY dim, label""".stripMargin,

    "q_facet_sampled" ->
      """WITH m AS (SELECT doc_id, source FROM documents
        |  WHERE list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector')),
        |s AS (SELECT * FROM m
        |  WHERE (doc_id * 2654435761 + 7) % 4294967296 < 1073741824)
        |SELECT source, count(*) AS cnt, CAST(count(*) * 4 AS BIGINT) AS est
        |FROM s GROUP BY source ORDER BY source""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty100,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price100
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_join_agg" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total100
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_drilldown" ->
      """SELECT source, count(*) AS cnt FROM documents
        |WHERE lang = 'en'
        |  AND list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector')
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_drilldown" ->
      """SELECT source, count(*) AS cnt FROM documents
        |WHERE lang = 'en'
        |  AND list_contains(regexp_extract_all(lower(text), '[a-z0-9]+'), 'vector')
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_facet_range" ->
      """SELECT CAST(floor(l_quantity / 10) * 10 AS INT) AS bucket, count(*) AS cnt
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_semijoin" ->
      """WITH arrs AS (
        |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS arr FROM documents),
        |tok_pos AS (
        |  SELECT doc_id, source, arr[i] AS term, i - 1 AS pos
        |  FROM arrs, unnest(generate_series(1, len(arr))) AS t(i)),
        |phrase_sources AS (
        |  SELECT DISTINCT a.source FROM tok_pos a JOIN tok_pos b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  WHERE a.term = 'hash' AND b.term = 'join')
        |SELECT DISTINCT d.doc_id FROM documents d
        |JOIN phrase_sources ps ON d.source = ps.source
        |WHERE EXISTS (SELECT 1 FROM tok_pos t WHERE t.doc_id = d.doc_id AND t.term = 'vector')
        |ORDER BY doc_id""".stripMargin,

    "q_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
        |ttf AS (SELECT term, count(*) AS ttf FROM toks GROUP BY term),
        |total AS (SELECT count(*) AS total FROM toks)
        |SELECT doc_id, CAST(floor(lp / n * 1000) AS BIGINT) AS score_milli FROM (
        |  SELECT t.doc_id, count(*) AS n,
        |    sum(ln(CAST(f.ttf AS DOUBLE) / tt.total)) AS lp
        |  FROM toks t JOIN ttf f ON f.term = t.term CROSS JOIN total tt
        |  GROUP BY t.doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_events_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, event_type,
        |  count(*) AS cnt, CAST(count(DISTINCT user_id) AS BIGINT) AS nusers
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin,

    "q_spatial_bbox" ->
      s"""$SpatialPts SELECT doc_id FROM pts
         |WHERE lat >= 10.0 AND lat <= 45.0 AND lon >= -30.0 AND lon <= 60.0
         |ORDER BY doc_id""".stripMargin,

    // the covering-cell prune + refine must equal the exact bbox answer
    "q_spatial_cells" ->
      s"""$SpatialPts SELECT doc_id FROM pts
         |WHERE lat >= 10.0 AND lat <= 45.0 AND lon >= -30.0 AND lon <= 60.0
         |ORDER BY doc_id""".stripMargin,

    "q_spatial_distance" ->
      s"""$SpatialPts, d AS (
         |  SELECT doc_id, $HaversineSql AS dist FROM pts)
         |SELECT doc_id, round(dist, 4) AS dist_km FROM d
         |WHERE dist < 1500.0 ORDER BY doc_id""".stripMargin,

    "q_spatial_nearest" ->
      s"""$SpatialPts, d AS (
         |  SELECT doc_id, $HaversineSql AS dist FROM pts)
         |SELECT doc_id, CAST(row_number() OVER (ORDER BY dist, doc_id) AS INT) AS rank
         |FROM d ORDER BY dist, doc_id LIMIT 10""".stripMargin,

    "q_streamed_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h, event_type,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY h, event_type""".stripMargin,

    "q_streamed_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM events)
        |SELECT user_id, CAST(sum(CASE WHEN prev IS NULL
        |  OR (epoch(ts) - epoch(prev)) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_events_sessions" ->
      """WITH x AS (
        |  SELECT user_id, ts,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events)
        |SELECT user_id, CAST(sum(CASE WHEN prev IS NULL
        |  OR (epoch(ts) - epoch(prev)) > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        |FROM x GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_dedup_spans" ->
      s"""$SH
         |SELECT shingle AS span, count(*) AS n_docs, min(id) AS min_id
         |FROM sh GROUP BY shingle HAVING count(*) >= 2 ORDER BY span""".stripMargin,

    "q_dedup_lines" ->
      """WITH lines AS (
        |  SELECT doc_id AS id, i AS pos,
        |    'w' || CAST((doc_id * 7 + i * 13) % 9 AS VARCHAR)
        |      || ' content ' || CAST((doc_id + i) % 23 AS VARCHAR) AS line
        |  FROM documents, unnest(generate_series(0, 5)) AS g(i)),
        |firsts AS (
        |  SELECT line, id, pos FROM (
        |    SELECT line, id, pos,
        |      row_number() OVER (PARTITION BY line ORDER BY id, pos) AS rn
        |    FROM lines) WHERE rn = 1),
        |marked AS (
        |  SELECT l.id, l.pos, l.line, (f.id = l.id AND f.pos = l.pos) AS keep
        |  FROM lines l JOIN firsts f USING (line))
        |SELECT id AS doc_id,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        |  count(*) AS total,
        |  md5(coalesce(string_agg(line, chr(10) ORDER BY pos) FILTER (WHERE keep), ''))
        |    AS dedup_digest
        |FROM marked GROUP BY id ORDER BY doc_id""".stripMargin,

    "q_decontaminate" ->
      s"""$SH, probes AS (SELECT DISTINCT shingle FROM sh WHERE id = 0)
         |SELECT id AS doc_id, count(*) AS hits
         |FROM sh JOIN probes USING (shingle)
         |GROUP BY id ORDER BY doc_id""".stripMargin,

    "q_url_canon" ->
      s"""$UrlCanonSql
         |SELECT doc_id, canon FROM canon ORDER BY doc_id""".stripMargin,

    "q_url_dedup" ->
      s"""$UrlCanonSql
         |SELECT canon, count(*) AS cnt, min(doc_id) AS min_id
         |FROM canon GROUP BY canon HAVING count(*) > 1 ORDER BY canon""".stripMargin,

    "q_url_hosts" ->
      s"""$UrlCanonSql
         |SELECT regexp_extract(canon, '^[a-z][a-z0-9+.-]*://([^/]+)', 1) AS host,
         |  count(*) AS n_docs, count(DISTINCT canon) AS n_pages
         |FROM canon GROUP BY 1 ORDER BY host""".stripMargin
  )

  /** DuckDB twin of [[TextStats.canonicalUrl]] over the [[UrlFixture]] raw
    * URLs — same regexes (char-class `[?]` keeps the pattern text identical
    * across both dialects' string escaping), same default-port / utm_ /
    * trailing-slash / param-sort rules.
    */
  private def UrlCanonSql: String =
    s"""WITH raw AS (SELECT doc_id, ${UrlFixture("VARCHAR")} AS url FROM documents),
       |p1 AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS base FROM raw),
       |p2 AS (SELECT doc_id,
       |  lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
       |  lower(regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
       |  regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
       |  regexp_extract(base, '[?](.*)$$', 1) AS query FROM p1),
       |p3 AS (SELECT doc_id, scheme, hostport, query,
       |  CASE WHEN regexp_replace(rawpath, '/+$$', '') = '' THEN '/'
       |       ELSE regexp_replace(rawpath, '/+$$', '') END AS path,
       |  array_to_string(list_sort(list_filter(string_split(query, '&'),
       |    x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&') AS params
       |  FROM p2),
       |canon AS (SELECT doc_id,
       |  scheme || '://' ||
       |  (CASE WHEN scheme = 'http' AND hostport LIKE '%:80'
       |        THEN substr(hostport, 1, length(hostport) - 3)
       |        WHEN scheme = 'https' AND hostport LIKE '%:443'
       |        THEN substr(hostport, 1, length(hostport) - 4)
       |        ELSE hostport END) ||
       |  path ||
       |  (CASE WHEN params = '' THEN '' ELSE '?' || params END) AS canon
       |  FROM p3)""".stripMargin
}
