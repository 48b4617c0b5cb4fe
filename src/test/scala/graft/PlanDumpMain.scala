package graft.drive

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** r6 optimization evidence tool: dumps `explain("formatted")` for every
  * bench/declared query path touched this round into plans/r06/<name>_<tag>.txt
  * and prints Spark JOB COUNTS for the eager multi-job operators (index
  * build, split, sorted distributed merge, clustering) whose cost is job
  * structure rather than a single plan. Run with tag=before on the pre-round
  * code and tag=after on the optimized code:
  *
  *   sbt "Test/runMain graft.drive.PlanDump before|after"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("after")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get("plans/r06")
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.SparkTestSession.spark
    import spark.implicits._

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
        plan.getBytes("UTF-8"))
      val exchanges = "Exchange".r.findAllIn(plan).length -
        "ReusedExchange".r.findAllIn(plan).length
      println(f"PLAN $name%-28s exchanges=$exchanges reused=" +
        "ReusedExchange".r.findAllIn(plan).length)
    }

    // job counter for eager multi-job operators
    @volatile var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    def countJobs[A](name: String)(f: => A): A = {
      Thread.sleep(300) // drain listener bus
      jobs = 0
      val r = f
      Thread.sleep(300)
      println(s"JOBS $name = $jobs")
      java.nio.file.Files.write(outDir.resolve(s"${name}_jobs_$tag.txt"),
        s"$jobs\n".getBytes("UTF-8"))
      r
    }

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // ---- lazy plans (single-action queries)
    val boiler = spark.range(0, 3000).select(
      (col("id") + 10000000L).as("doc_id"),
      lit("terms of service apply to all pages on this site").as("text"))
    val skewed = docs.select("doc_id", "text").unionByName(boiler)
    dump("dedup_skew_pairs", graft.pipeline.Dedup.nearDupPairs(
      skewed, "doc_id", "text", k = 3, numHashes = 12, rowsPerBand = 3,
      tNum = 7, tDen = 10, maxBucket = 1000))
    dump("dedup_pairs", graft.pipeline.Dedup.nearDupPairs(
      docs, "doc_id", "text", k = 3, numHashes = 12, rowsPerBand = 3,
      tNum = 7, tDen = 10))
    dump("dedup_minhash", graft.pipeline.Dedup.lshCandidates(
      graft.pipeline.Dedup.minhashSignature(
        graft.pipeline.Dedup.shingles(docs, "doc_id", "text", 3), 16), 4))
    dump("dedup_minhash_direct", graft.pipeline.Dedup.lshCandidates(
      graft.pipeline.Dedup.minhashSignatureDirect(docs, "doc_id", "text", 3, 16), 4))
    val probes = graft.pipeline.Dedup.shingles(
        docs.filter(col("doc_id") === 0), "doc_id", "text", 3)
      .select("shingle").collect().map(_.getString(0)).toSeq
    dump("decontaminate", graft.pipeline.Dedup.contamination(
      docs, "doc_id", "text", probes, 3))
    dump("simhash", graft.pipeline.Dedup.simhash48(docs, "doc_id", "text"))
    dump("simhash_direct", graft.pipeline.Dedup.simhash48Direct(docs, "doc_id", "text"))

    // ---- index build + serving paths
    val pages = graft.IndexCache.pagesFromDocuments(spark, sfDir)
    val idxPath = java.nio.file.Files.createTempDirectory("plandump").toString
    countJobs("index_build") {
      graft.build.IndexBuilder.build(spark, pages, idxPath,
        graft.build.IndexBuilder.BuildConfig(numSegments = 8,
          analyzerName = "simple", groupSize = 8))
    }
    val splitPath = java.nio.file.Files.createTempDirectory("plandumpsplit").toString
    countJobs("index_split") {
      graft.merge.MergeJob.splitIndex(spark, idxPath, splitPath, 16)
    }
    val lucene = new graft.search.Searcher(spark, idxPath)
    lucene.maxDoc
    val orQ = graft.search.BoolQ(List(
      graft.search.Occur.Should -> graft.search.TermQ("vector"),
      graft.search.Occur.Should -> graft.search.TermQ("stream"),
      graft.search.Occur.Should -> graft.search.TermQ("data")))
    dump("q_or_top10_plan", lucene.searchPlan(orQ, 10))
    countJobs("q_or_top10_plan_run") { lucene.searchPlan(orQ, 10).collect() }
    countJobs("q_or_top10_plan_rerun") { lucene.searchPlan(orQ, 10).collect() }
    countJobs("q_term_top10_run") {
      lucene.search(graft.search.TermQ("data"), 10).collect()
    }
    countJobs("q_fuzzy_run") {
      lucene.search(graft.search.FuzzyTopQ("datq", 2), 10).collect()
    }

    // ---- eager multi-job pipeline operators
    countJobs("dedup_skew_run") {
      graft.pipeline.Dedup.nearDupPairs(skewed, "doc_id", "text", k = 3,
        numHashes = 12, rowsPerBand = 3, tNum = 7, tDen = 10, maxBucket = 1000).count()
    }
    countJobs("dedup_clusters_run") {
      val pairs = graft.pipeline.Dedup.nearDupPairs(docs, "doc_id", "text",
        k = 3, numHashes = 12, rowsPerBand = 3, tNum = 7, tDen = 10)
      graft.pipeline.Dedup.dupClusters(pairs).count()
    }
    countJobs("decontaminate_run") {
      graft.pipeline.Dedup.contamination(docs, "doc_id", "text", probes, 3).count()
    }

    // ---- sorted build + distributed sorted merge
    val sortedPages = docs.select(
      format_string("doc%09d", col("doc_id")).as("url"), col("text"), col("n_chars"))
    val sortedPath = java.nio.file.Files.createTempDirectory("plandumpsorted").toString
    countJobs("sorted_build") {
      graft.build.IndexBuilder.build(spark, sortedPages, sortedPath,
        graft.build.IndexBuilder.BuildConfig(numSegments = 8, analyzerName = "simple",
          groupSize = 8, indexSort = Some("n_chars")))
    }
    countJobs("sorted_merge_dist") {
      graft.merge.MergeJob.mergeToPolicy(spark, sortedPath,
        new graft.merge.TieredMergePolicy(segsPerTier = 1.0, maxMergeAtOnce = 8,
          floorSegmentDocs = 1000))
    }
    println("PLANDUMP DONE tag=" + tag)
  }
}
