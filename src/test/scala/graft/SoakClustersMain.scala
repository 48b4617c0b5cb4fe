package graft.drive

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Duplicate-clustering soak (manual drive): connected components via
  * Dedup.dupClusters over a synthetic pair graph of 1.25 n nodes with the
  * shapes real dedup produces —
  *  (a) STARS (hub-spoke) of 1000: what LSH bucket pair-emission looks like
  *      (diameter 2);
  *  (b) CHAINS of 10 versions (a~b, b~c, ...: the transitive case);
  *  (c) CHAINS of 1000 versions in scrambled id order (a page-version
  *      history of diameter 999, minimum id mid-chain).
  * Proves exact labels on the known structure and reports the path taken
  * (at n = 1M the ~1.25M edges exceed the default 10 MB broadcast budget,
  * so large-star/small-star rounds run), the rounds and the wall-clock.
  *
  * Run: sbt "Test/runMain graft.drive.SoakClusters 1000000"
  */
object SoakClusters {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(1000000L)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.pipeline.Dedup

    // ids in [0, n/2) form chains of 10 consecutive ids; ids in [n/2, n)
    // form stars of 1000 around each hub (id % 1000 == 0); ids in
    // [n, n + n/4) form chains of 1000 whose position p holds id
    // base + (367 p mod 1000) — 367 is coprime to 1000, so every id of the
    // block appears once and the minimum (p = 0) is the chain's first id.
    val half = n / 2
    val quarter = n / 4 - n / 4 % 1000
    val chainEdges = spark.range(0, half, 1, 64)
      .filter(col("id") % 10 =!= 9) // no edge across chain boundaries
      .select(col("id").as("ida"), (col("id") + 1).as("idb"))
    val starEdges = spark.range(half, n, 1, 64)
      .filter(col("id") % 1000 =!= 0)
      .select((col("id") - (col("id") % 1000)).as("ida"), col("id").as("idb"))
    def scrambled(p: org.apache.spark.sql.Column) = p * 367 % 1000
    val longEdges = spark.range(0, quarter, 1, 64)
      .filter(col("id") % 1000 =!= 999)
      .select((lit(n) + col("id") - col("id") % 1000 + scrambled(col("id") % 1000)).as("ida"),
        (lit(n) + col("id") - col("id") % 1000 + scrambled(col("id") % 1000 + 1)).as("idb"))
    val pairs = chainEdges.unionByName(starEdges).unionByName(longEdges).persist()
    val nEdges = pairs.count()
    println(s"SOAKCLUSTERS n=$n edges=$nEdges (chains of 10 + stars of 1000 + chains of 1000)")

    val t0 = System.nanoTime()
    val labeled = Dedup.dupClusters(pairs).persist()
    val total = labeled.count()
    val wall = (System.nanoTime() - t0) / 1e9
    val stats = graft.pipeline.PipelineMetrics.lastClusters
    println(f"SOAKCLUSTERS clustered nodes=$total wall=$wall%.1f s rounds=${stats.rounds} " +
      s"finish=${if (stats.inMemory) "driver union-find" else "star-forest fixpoint"}")

    // chains: every id in [0, half) must be labeled by its chain base
    val badChain = labeled.filter(col("doc_id") < half)
      .filter(col("cluster") =!= col("doc_id") - (col("doc_id") % 10)).count()
    // stars: every id in [half, n) must be labeled by its hub
    val badStar = labeled.filter(col("doc_id") >= half && col("doc_id") < n)
      .filter(col("cluster") =!= col("doc_id") - (col("doc_id") % 1000)).count()
    // long chains: every id is labeled by its block's first id, which is
    // the id minus its scrambled position (id - n) % 1000
    val badLong = labeled.filter(col("doc_id") >= n)
      .filter(col("cluster") =!= col("doc_id") - (col("doc_id") - lit(n)) % 1000).count()
    val nClusters = labeled.select("cluster").distinct().count()
    val expected = (half / 10) + (n - half) / 1000 + quarter / 1000
    println(s"SOAKCLUSTERS badChain=$badChain badStar=$badStar badLong=$badLong " +
      s"clusters=$nClusters expected=$expected")
    assert(badChain == 0, s"$badChain chain nodes mislabeled")
    assert(badStar == 0, s"$badStar star nodes mislabeled")
    assert(badLong == 0, s"$badLong long-chain nodes mislabeled")
    assert(nClusters == expected, s"cluster count $nClusters != $expected")
    assert(total == n + quarter, s"clustered $total of ${n + quarter} paired nodes")
    println("SOAKCLUSTERS OK")
    spark.stop()
  }
}
