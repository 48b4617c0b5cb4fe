package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators. All are pure
  * DataFrame-API (Catalyst-planned, codegen'd, shuffle-aware):
  *
  *  - exact: hash-groupBy on content digest — one shuffle.
  *  - n-gram shingles + Jaccard: pair-join on shared shingle with integer
  *    cross-multiplied threshold (no float compare).
  *  - MinHash + LSH: signature -> banded bucket-join, turning the quadratic
  *    pair problem into per-bucket joins; coefficients are deterministic and
  *    md5-derived so an external SQL oracle can replicate them bit-for-bit.
  *  - SimHash: 48-bit sign-of-weighted-sum fingerprint via relational ops
  *    (term-hash bits joined against per-doc tfs — no UDF in the hot path).
  *
  * At 100 TB the shingle pair-join is the scale hazard: MinHash-LSH is the
  * scale path (bounded by bucket sizes); Jaccard verification then runs only
  * on LSH candidate pairs. Hot buckets (boilerplate docs) are bounded by
  * banding; skew beyond that is AQE-handled.
  */
/** Bucket-cap drop accounting — the "no silent caps" rule: every place a
  * capped bucket is DROPPED rather than joined quadratically must surface
  * how much was dropped (warn log + this queryable registry), so a capped
  * run can never read as "covered everything".
  */
object PipelineMetrics {
  final case class DropStats(buckets: Long, rows: Long)
  private val drops = new java.util.concurrent.ConcurrentHashMap[String, DropStats]()

  private[pipeline] def record(site: String, cap: Int, buckets: Long, rows: Long): Unit = {
    drops.put(site, DropStats(buckets, rows))
    if (buckets > 0)
      org.slf4j.LoggerFactory.getLogger("graft.pipeline")
        .warn(s"$site: DROPPED $buckets over-cap buckets ($rows member rows) " +
          s"above maxBucket=$cap — results exclude those groups; raise the cap " +
          "or pre-dedup boilerplate to cover them")
  }

  /** Drop stats of the most recent run of `site` in this JVM (e.g.
    * "lshCandidates", "simhashPairs", "embedDupPairs"). */
  def lastDrops(site: String): DropStats =
    drops.getOrDefault(site, DropStats(0L, 0L))

  /** How a [[Dedup.dupClusters]] run went: `rounds` large-star + small-star
    * rounds ran as Spark jobs, then the labels came either from the
    * star-forest fixpoint or — `inMemory` — from a union-find on the driver
    * once the edges fit the broadcast budget (0 rounds + inMemory: the pair
    * graph fit from the start). */
  final case class ClusterStats(rounds: Int, inMemory: Boolean)
  @volatile private var clusters = ClusterStats(0, inMemory = false)

  private[pipeline] def recordClusters(stats: ClusterStats): Unit = clusters = stats

  /** Stats of the most recent `dupClusters` run in this JVM. */
  def lastClusters: ClusterStats = clusters
}

object Dedup {

  /** Fast-path bound on over-cap bucket keys collected to the driver by
    * [[dropOverCap]]; above it the over-cap keys stay distributed. */
  private[graft] val MaxDriverOverKeys = 10000

  /** Drop rows of `banded` whose bucket (keyed by `keyCols`) exceeds `cap`
    * members, SURFACING what was dropped via [[PipelineMetrics]]. A row
    * with a null key is in no bucket — the bucket join never matches it —
    * so it is never dropped and never counted.
    *
    * Over-cap buckets are RARE by construction (each holds > cap rows, so
    * there are at most |rows|/cap of them): the common path collects the
    * over-cap keys (bounded by [[MaxDriverOverKeys]]) in ONE aggregate job
    * and removes them with a broadcast anti-join — no persist pinned for the
    * session, no second corpus-wide shuffle against the bucket-size
    * aggregate. Only when the key list would exceed the driver bound is it
    * tallied by a second aggregate and anti-joined shuffled instead. */
  private[graft] def dropOverCap(banded: DataFrame, keyCols: Seq[String],
                                 cap: Int, site: String): DataFrame = {
    val over = banded.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)
    val head = over.limit(MaxDriverOverKeys + 1).collect()
    if (head.length <= MaxDriverOverKeys) {
      PipelineMetrics.record(site, cap, head.length.toLong,
        head.iterator.map(_.getLong(keyCols.length)).sum)
      if (head.isEmpty) banded
      else {
        val spark = banded.sparkSession
        val keySchema = org.apache.spark.sql.types.StructType(
          over.schema.fields.take(keyCols.length))
        val bad = spark.createDataFrame(
          spark.sparkContext.parallelize(
            head.toIndexedSeq.map(r =>
              org.apache.spark.sql.Row.fromSeq(r.toSeq.take(keyCols.length))), 1),
          keySchema)
        banded.join(broadcast(bad), keyCols, "left_anti")
      }
    } else {
      // many over-cap buckets: exact tally, then the same anti-join with
      // the key list left distributed (this path is the exception)
      val tally = over.agg(count(lit(1)), coalesce(sum(col("bsz")), lit(0L))).collect()(0)
      PipelineMetrics.record(site, cap, tally.getLong(0), tally.getLong(1))
      banded.join(over.select(keyCols.map(col): _*), keyCols, "left_anti")
    }
  }

  /** Tokens expression shared with the SQL oracle: [a-z0-9]+ runs of lower(text). */
  def tokensCol(textCol: String): Column =
    expr(s"regexp_extract_all(lower($textCol), '[a-z0-9]+', 0)")

  /** Exact duplicate groups by md5 digest: (h, cnt, min_id) for cnt > 1. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("min_id"))
      .filter(col("cnt") > 1)

  /** Distinct k-token shingles per doc: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol).as("id"), tokensCol(textCol).as("arr"))
      .filter(size(col("arr")) >= k)
      .select(col("id"), explode(
        expr(s"transform(sequence(0, size(arr) - $k), i -> array_join(slice(arr, i + 1, $k), ' '))")
      ).as("shingle"))
      .distinct()

  /** Pairs (a < b) with shingle-set Jaccard >= tNum/tDen, computed with
    * integer arithmetic only: inter * tDen >= (|A| + |B| - inter) * tNum.
    */
  def jaccardPairs(sh: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val a = sh.as("a")
    val b = sh.as("b")
    val inter = a.join(b, col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("ida"), col("b.id").as("idb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "ida").withColumnRenamed("n", "na"), "ida")
      .join(sizes.withColumnRenamed("id", "idb").withColumnRenamed("n", "nb"), "idb")
      .filter(col("inter") * tDen >= (col("na") + col("nb") - col("inter")) * tNum)
      .select(col("ida"), col("idb"))
  }

  /** Shingle content hash, SQL-replicable: first 8 md5 hex chars as a bigint,
    * reduced mod p so a*h+b stays in 63 bits.
    */
  val P: Long = 2147483647L
  def shingleHash: Column = expr(s"conv(substr(md5(cast(shingle AS BINARY)), 1, 8), 16, 10) % $P")

  /** Deterministic MinHash coefficients (odd multipliers, spread offsets). */
  def coeffs(numHashes: Int): Seq[(Long, Long)] =
    (0 until numHashes).map(i => ((2 * i + 1) * 40503L % P, (i * 1299721L + 7) % P))

  /** MinHash signature: (id, i, minh) for i in [0, numHashes) — a single
    * groupBy computing all hash minima at once (one shuffle, map-side
    * partial min), then unpivoted.
    */
  def minhashSignature(sh: DataFrame, numHashes: Int): DataFrame = {
    val hashed = sh.select(col("id"), shingleHash.cast("long").as("h"))
    val aggs = coeffs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((col("h") * a + b) % P).as(s"m$i")
    }
    val g = hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    g.select(col("id"), explode(array((0 until numHashes).map(i =>
        struct(lit(i).as("i"), col(s"m$i").as("minh"))): _*)).as("s"))
      .select(col("id"), col("s.i").as("i"), col("s.minh").as("minh"))
  }

  /** MinHash signature computed in ONE NARROW PASS per doc — no shingle
    * explode, no distinct, no groupBy (min over the window multiset equals
    * min over the distinct-shingle set): the 100 TB signature shape. Same
    * (id, i, minh) rows, value-identical to [[minhashSignature]]
    * (MinHashSigDirectSpec + the unchanged q_dedup_* gate hashes); the tiny
    * numHashes-wide posexplode replaces the shingle-cardinality shuffle. */
  def minhashSignatureDirect(df: DataFrame, idCol: String, textCol: String,
                             k: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"), tokensCol(textCol).as("arr"))
      .filter(size(col("arr")) >= k)
      .select(col("id"), posexplode(
        graft.functions.VectorExpressions.minHashSig(col("arr"), k, coeffs(numHashes), P)))
      .toDF("id", "i", "minh")

  /** LSH candidate pairs: docs sharing any band of `rowsPerBand` consecutive
    * minhashes. Returns distinct (ida < idb). `maxBucket` caps band-bucket
    * size: a bucket larger than the cap (boilerplate-heavy near-identical
    * docs) would pair quadratically — such buckets are dropped rather than
    * exploded (the VERDICT r1 bucket-cap guard); the default keeps all.
    */
  def lshCandidates(sig: DataFrame, rowsPerBand: Int,
                    maxBucket: Int = Int.MaxValue): DataFrame = {
    // positional concat inside the band, i-ordered. The signature rows carry
    // exactly one (id, i) each, so slot j of a band is a DECLARATIVE
    // conditional max (codegen'd HashAggregate) instead of the old
    // collect_list + array_sort (ObjectHashAggregate, interpreted);
    // concat_ws skips the NULL slots of a short trailing band, preserving
    // the exact i-ordered '_' rendering.
    val slots = (0 until rowsPerBand).map(j =>
      max(when(col("i") % rowsPerBand === j, col("minh"))).as(s"m$j"))
    val banded0 = sig
      .withColumn("band", (col("i") / rowsPerBand).cast("int"))
      .groupBy(col("id"), col("band"))
      .agg(slots.head, slots.tail: _*)
      .select(col("id"), col("band"),
        concat_ws("_", (0 until rowsPerBand).map(j => col(s"m$j").cast("string")): _*).as("sig"))
    bandPairs(banded0, maxBucket)
  }

  /** Shared tail of the LSH candidate paths: cap hot band-buckets (drop with
    * accounting), then self-join equal (band, sig) buckets into (ida < idb)
    * pairs. Both self-join sides are the same subtree, so the (band, sig)
    * exchange is planned once and reused. */
  private def bandPairs(banded0: DataFrame, maxBucket: Int): DataFrame = {
    val banded =
      if (maxBucket == Int.MaxValue) banded0
      else {
        // pin the banded rows once on the capped path: the cap aggregate
        // (an extra eager consumer) and both pair self-join sides read the
        // SAME materialized rows — unpinned, each consumer re-scans and
        // re-minhashes the corpus. Banded rows are ~bands x tens of bytes
        // per doc (far smaller than the corpus); blocks release with the
        // result via the ContextCleaner.
        dropOverCap(banded0.localCheckpoint(false),
          Seq("band", "sig"), maxBucket, "lshCandidates")
      }
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"))
      .distinct()
  }

  /** Banded LSH rows (id, band, sig) computed in ONE NARROW PASS per doc —
    * the minhash array never explodes to (id, i, minh) rows and never
    * re-groups: band b's signature string is sliced straight out of the
    * [[graft.functions.VectorExpressions.minHashSig]] array (same i-ordered
    * '_'-joined rendering as [[lshCandidates]]'s collect_list aggregate), so
    * the per-doc banding costs zero Exchange. */
  private def bandedDirect(df: DataFrame, idCol: String, textCol: String,
                           k: Int, numHashes: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol).as("id"), tokensCol(textCol).as("arr"))
      .filter(size(col("arr")) >= k)
      .select(col("id"),
        graft.functions.VectorExpressions.minHashSig(col("arr"), k, coeffs(numHashes), P).as("mh"))
      .select(col("id"), posexplode(
        expr(s"transform(sequence(0, (size(mh) - 1) div $rowsPerBand), " +
          s"b -> array_join(transform(slice(mh, b * $rowsPerBand + 1, $rowsPerBand), " +
          "x -> cast(x as string)), '_'))")).as(Seq("band", "sig")))

  /** Jaccard verification restricted to CANDIDATE pairs: intersection sizes
    * come from a pair-scoped join, never an all-pairs shingle self-join.
    */
  def jaccardVerify(sh: DataFrame, pairs: DataFrame, tNum: Int, tDen: Int): DataFrame = {
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.as("a"), col("ida") === col("a.id"))
      .join(sh.as("b"), col("idb") === col("b.id") && col("a.shingle") === col("b.shingle"))
      .groupBy(col("ida"), col("idb"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "ida").withColumnRenamed("n", "na"), "ida")
      .join(sizes.withColumnRenamed("id", "idb").withColumnRenamed("n", "nb"), "idb")
      .filter(col("inter") * tDen >= (col("na") + col("nb") - col("inter")) * tNum)
      .select(col("ida"), col("idb"))
  }

  /** THE near-duplicate-pairs API for scale: MinHash-LSH candidates (band-
    * bucket capped) verified by exact shingle Jaccard. The all-pairs
    * [[jaccardPairs]] never runs — it remains only as a small-data verifier.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String, k: Int,
                   numHashes: Int, rowsPerBand: Int, tNum: Int, tDen: Int,
                   maxBucket: Int = 10000): DataFrame = {
    // signatures + banding in one narrow pass (no shingle materialization,
    // no (id, i, minh) explode/regroup); shingles are then materialized ONLY
    // for docs that appear in a candidate pair — at web scale that is the
    // near-dup tail, not the corpus. localCheckpoint (not persist): the
    // candidate set is computed once, shared by the id side and the verify
    // side, and its blocks are RELEASED by the ContextCleaner when the
    // result is dropped — no session-lifetime cache pin per call.
    val cands = bandPairs(
      bandedDirect(df, idCol, textCol, k, numHashes, rowsPerBand), maxBucket)
      .localCheckpoint(false)
    val candIds = cands.select(col("ida").as(idCol))
      .union(cands.select(col("idb").as(idCol))).distinct()
    // pin the candidate docs' shingle set: jaccardVerify reads it three
    // times (per-doc sizes, pair a-side, pair b-side) and would otherwise
    // re-run the explode + distinct per consumer
    val sh = shingles(df.join(candIds, Seq(idCol), "left_semi"), idCol, textCol, k)
      .localCheckpoint(false)
    jaccardVerify(sh, cands, tNum, tDen)
  }

  /** Connected-component clustering of duplicate pairs — the step after
    * pair generation in a training-data pipeline: near-dup pairs are
    * transitive in intent ("these are all the same page"), so keeping one
    * representative per PAIR under-deduplicates chains (a~b, b~c keeps two
    * of three). Labels every doc that appears in a pair with its
    * component's minimum id (the canonical representative): (doc_id,
    * cluster). Docs with no duplicate pair are their own cluster and are
    * not emitted; a pair with a null id says nothing and is ignored.
    *
    * Algorithm: one loop with a size exit, no round cap.
    *  - An edge set that fits Spark's broadcast budget
    *    ([[graft.BroadcastBudget]]) is sized by a count, then collected and
    *    solved on the driver by union-find (two jobs); the labels come back
    *    as a local DataFrame, so collecting them starts no job. A larger
    *    one ships only its count to the driver.
    *  - A larger one runs large-star + small-star rounds (Kiveris et al.,
    *    "Connected Components in MapReduce and Beyond", SoCC 2014): each
    *    round links every node's larger neighbours, then its smaller ones,
    *    to its neighbourhood minimum. Components never change, the edge
    *    count never grows, and the graph becomes a forest of stars centred
    *    on the component minima in O(log² n) rounds (≈ log n in practice:
    *    a 1001-node path in shuffled id order takes 8). One aggregate per
    *    round checks for that fixpoint — whose labels are then each node's
    *    neighbourhood minimum — and re-checks the size exit, since the edge
    *    set shrinks as stars form. Rounds truncate lineage with
    *    localCheckpoint.
    * [[PipelineMetrics.lastClusters]] reports the path and the rounds.
    */
  def dupClusters(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.select(col("ida").cast("long").as("a"), col("idb").cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
    val budget = graft.BroadcastBudget.rows(edges.schema)
    def solved(rounds: Int, inMemory: Boolean, labels: DataFrame): DataFrame = {
      PipelineMetrics.recordClusters(PipelineMetrics.ClusterStats(rounds, inMemory))
      labels
    }
    def onDriver(rounds: Int, es: Array[(Long, Long)]): DataFrame =
      solved(rounds, inMemory = true, componentMinima(es).toDF("doc_id", "cluster"))

    // undirected, deduplicated, oriented a < b; self-pairs ride along
    // unchanged so a doc paired only with itself keeps its label
    lazy val all = edges.select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .distinct().localCheckpoint()
    lazy val loops = all.filter(col("a") === col("b"))

    @annotation.tailrec
    def round(ee: DataFrame, rounds: Int): DataFrame = {
      // every edge from each end, with its node's neighbourhood minimum
      // (self included) and whether the node breaks the star-forest
      // fixpoint: more than one smaller neighbour, or a smaller AND a
      // larger one
      val byId = Window.partitionBy("id")
      val nbrs = ee.select(col("a").as("id"), col("b").as("nbr"))
        .unionByName(ee.select(col("b").as("id"), col("a").as("nbr")))
        .select(col("id"), col("nbr"),
          least(col("id"), min(col("nbr")).over(byId)).as("m"),
          (sum(when(col("nbr") < col("id"), 1L).otherwise(0L)).over(byId) > 1 ||
            (min(col("nbr")).over(byId) < col("id") && max(col("nbr")).over(byId) > col("id")))
            .as("bad"))
      // nbrs holds every edge row twice, once from each end
      val check = nbrs.agg(count(lit(1)), coalesce(max(col("bad")), lit(false))).collect()(0)
      if (!check.getBoolean(1))
        solved(rounds, inMemory = false,
          nbrs.select(col("id").as("doc_id"), col("m").as("cluster")).distinct())
      else if (check.getLong(0) / 2 <= budget) onDriver(rounds, ee.as[(Long, Long)].collect())
      else {
        // large-star: each edge (u > v) becomes (u, m(v)); small-star: each
        // node u, now above all its neighbours, links them and itself to
        // its smallest neighbour mu
        val large = nbrs.filter(col("nbr") > col("id")).select(col("nbr").as("u"), col("m").as("v"))
          .withColumn("mu", min(col("v")).over(Window.partitionBy("u")))
        val small = large.select(explode(array(
            struct(col("mu").as("a"), col("v").as("b")),
            struct(col("mu").as("a"), col("u").as("b")))).as("e"))
          .select("e.*").filter(col("a") =!= col("b"))
        round(small.unionByName(loops).distinct().localCheckpoint(), rounds + 1)
      }
    }

    // size first, shipping counts only; the collect reuses the same RDD, so
    // any shuffle under `pairs` runs once
    val rows = edges.queryExecution.toRdd
    if (budget >= 0 && rows.count() <= budget)
      onDriver(0, rows.map(r => (r.getLong(0), r.getLong(1))).collect())
    else round(all, 0)
  }

  /** Union-find over `edges`, the larger root always linked under the
    * smaller, so every root is its component's minimum: (node, minimum) for
    * every node that appears in an edge. */
  private def componentMinima(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x // path compression
      while (y != r) { val up = parent(y); parent(y) = r; y = up }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      parent(math.min(ra, rb)) = math.min(ra, rb)
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x))
  }

  /** 48-bit SimHash per doc from term tfs: bit j of the fingerprint is
    * sign(sum_t tf(t) * (2*bit_j(H(t)) - 1)). Term-hash bits come from two
    * 32-bit md5-derived ints (j<24 from H1, else H2) — SQL-replicable.
    */
  def simhash48(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df.select(col(idCol).as("id"), explode(tokensCol(textCol)).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
    // pow-based bit extraction (no shift builtins) so the SQL oracle matches:
    // 2^j is exact in double for j < 53, cast back to bigint loses nothing.
    // The 48 per-bit weights are 48 conditional aggregates of ONE
    // groupBy(id) — the term-hash bits come straight off each (id, term)
    // row's md5 (recomputing md5 per row is nanoseconds; the old
    // distinct-terms crossJoin x48 + join shape paid two extra corpus-wide
    // shuffles and a 48x row blowup to save it). Values are bit-identical:
    // same md5 bit rule, same integer weights, same sign rule.
    val withH = tf
      .withColumn("h1", expr("cast(conv(substr(md5(cast(term AS BINARY)), 1, 8), 16, 10) as bigint)"))
      .withColumn("h2", expr("cast(conv(substr(md5(cast(term AS BINARY)), 9, 8), 16, 10) as bigint)"))
    val aggs = (0 until 48).map { j =>
      val bit =
        if (j < 24) expr(s"(h1 div cast(pow(2, $j) as bigint)) % 2")
        else expr(s"(h2 div cast(pow(2, ${j - 24}) as bigint)) % 2")
      sum(col("tf") * (bit * 2 - 1)).as(s"w$j")
    }
    withH.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (0 until 48).map(j =>
            when(col(s"w$j") > 0, expr(s"cast(pow(2, $j) as bigint)")).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("simhash"))
  }

  /** SimHash fingerprint in ONE NARROW PASS per doc (SimHash48 expression:
    * local tf map + md5 bit weights) — value-identical to [[simhash48]]
    * (pure integer arithmetic, same md5 bit extraction; MinHashDirectSpec
    * pins equality) with no token-cardinality shuffles and no x48 bit-row
    * blowup: the 100 TB fingerprint shape. */
  def simhash48Direct(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), tokensCol(textCol).as("arr"))
      .filter(size(col("arr")) >= 1) // token-less docs have no fingerprint, like the exploded form
      .select(col("id"),
        graft.functions.VectorExpressions.simHash48(col("arr")).as("simhash"))

  /** SimHash near-duplicate pairs: candidates share at least one of three
    * 16-bit bands (pigeonhole-COMPLETE only for hamming <= 2: a pair with
    * 3+ differing bits spread across all three bands is never a candidate —
    * larger maxHamming values are best-effort recall within the banded
    * candidate set), verified by exact popcount hamming <= maxHamming.
    * `maxBand` caps band-bucket sizes exactly like lshCandidates' maxBucket:
    * a boilerplate-heavy band value beyond the cap is dropped rather than
    * joined quadratically.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int, maxBand: Int = 10000): DataFrame = {
    val fp = simhash48Direct(df, idCol, textCol) // (id, simhash), narrow pass
    val banded0 = fp.select(col("id"), col("simhash"),
        explode(array(
          struct(lit(0).as("band"), expr("simhash % 65536").as("v")),
          struct(lit(1).as("band"), expr("(simhash div 65536) % 65536").as("v")),
          struct(lit(2).as("band"), expr("simhash div 4294967296").as("v"))
        )).as("b"))
      .select(col("id"), col("simhash"), col("b.band"), col("b.v"))
    val banded =
      if (maxBand == Int.MaxValue) banded0
      else dropOverCap(banded0, Seq("band", "v"), maxBand, "simhashPairs")
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("ida"), col("b.id").as("idb"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .distinct()
      .withColumn("ham", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("ham") <= maxHamming)
      .select(col("ida"), col("idb"), col("ham").cast("int").as("hamming"))
  }

  /** Repeated k-gram span mining — the token-level analog of repeated-
    * substring detection (boilerplate navigation text, licence blocks,
    * memorization-risk spans): k-token shingles appearing in at least
    * `minDocs` DISTINCT documents, with their document frequency and first
    * containing doc. Output: (span, n_docs, min_id).
    *
    * One hash shuffle with map-side partial aggregation: a span repeated a
    * billion times combines to one row per map partition before the
    * exchange, so frequency mining stays linear in corpus size no matter
    * how hot a span is — no pair join ever runs.
    */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String, k: Int,
                    minDocs: Int): DataFrame =
    shingles(df, idCol, textCol, k)
      .groupBy("shingle")
      .agg(count(lit(1)).as("n_docs"), min(col("id")).as("min_id"))
      .filter(col("n_docs") >= minDocs)
      .select(col("shingle").as("span"), col("n_docs"), col("min_id"))

  /** Line-level exact deduplication across the corpus (the web-pipeline
    * "remove repeated lines" pass that strips boilerplate headers/footers
    * shared across pages of a site): a line INSTANCE survives iff it is the
    * first occurrence of that exact line in (doc, position) order. Returns
    * per doc the surviving-line count, total line count, and the md5 digest
    * of the deduplicated text (kept lines re-joined in order) so callers
    * verify content, not just counts: (id, kept, total, dedup_digest).
    *
    * Shape: posexplode → groupBy(line).min(struct(id, pos)) with map-side
    * partial aggregation (a boilerplate line repeated 10^9 times combines
    * to ONE candidate per map partition before the shuffle) → join back on
    * line (AQE splits the hot-line skew) → groupBy(id). No window over an
    * unbounded partition; no all-pairs; nothing scales with line frequency.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val firsts = lines.groupBy("line")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
    val agg = lines.join(firsts, "line")
      .withColumn("keep",
        col("id") === col("first.id") && col("pos") === col("first.pos"))
      .groupBy(col("id"))
      .agg(
        sum(when(col("keep"), lit(1L)).otherwise(lit(0L))).as("kept"),
        count(lit(1)).as("total"),
        md5(concat_ws("\n", expr(
          "transform(array_sort(collect_list(CASE WHEN keep THEN struct(pos, line) END)), x -> x.line)"
        )).cast("binary")).as("dedup_digest"))
    // every input doc gets a row — a null-text doc (fetch failure) surfaces
    // as (0, 0, md5('')) instead of silently vanishing from the accounting
    df.select(col(idCol).cast("long").as("id")).join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("kept"), lit(0L)).as("kept"),
        coalesce(col("total"), lit(0L)).as("total"),
        coalesce(col("dedup_digest"),
          lit("d41d8cd98f00b204e9800998ecf8427e")).as("dedup_digest"))
  }

  /** Benchmark decontamination probe — the test-set-overlap check a
    * training-data pipeline runs before training: which documents contain
    * any of the probe k-gram phrases, and how many distinct probes each
    * hits. Output: (doc_id, hits), contaminated docs only.
    *
    * The probe side (the benchmark) is small by construction, so it ships
    * as a broadcast list; corpus shingles stream through the broadcast hash
    * join without a corpus-wide shuffle — only MATCHING rows reach the
    * id-keyed count.
    */
  /** Probe-count bound for the fully narrow contamination path: up to this
    * many normalized probes ship inside one ProbeHits expression (a hash set
    * in the task closure — zero Exchange, zero joins); larger probe sets
    * take the broadcast-join path, filtering BEFORE the distinct so only
    * matching shingles ever reach a shuffle. */
  val ContaminationLiteralMax = 4096

  def contamination(df: DataFrame, idCol: String, textCol: String,
                    probes: Seq[String], k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // normalize probes with the SAME rule shingles use ([a-z0-9]+ runs of
    // the lowercased text, space-joined) — raw benchmark phrases with
    // punctuation/case would otherwise silently never match any shingle
    val norm = probes.iterator
      .map(p => "[a-z0-9]+".r.findAllIn(p.toLowerCase).mkString(" "))
      .filter(_.nonEmpty).distinct.toSeq
    if (norm.size <= ContaminationLiteralMax) {
      // ONE NARROW PASS: hits = |distinct probes among the doc's k-shingles|
      // via the ProbeHits expression — tokenization runs once per row, the
      // probe hash set rides in the task closure, and the plan has no
      // shingle explode, no distinct shuffle, no groupBy, no join. (A
      // composed-expression formulation is a trap here: the pushed-down
      // hits>0 filter inlines the alias tree and re-derives the token array
      // once per probe.)
      df.select(col(idCol).as("doc_id"), tokensCol(textCol).as("arr"))
        .filter(size(col("arr")) >= k)
        .select(col("doc_id"),
          graft.functions.ScalarExpressions.probeHits(col("arr"), k, norm.toArray)
            .as("hits"))
        .filter(col("hits") > 0)
    } else {
      val shingleArr =
        expr(s"transform(sequence(0, size(arr) - $k), i -> array_join(slice(arr, i + 1, $k), ' '))")
      val p = broadcast(norm.toDF("shingle"))
      // broadcast-filter BEFORE the distinct: only probe-matching (id,
      // shingle) rows reach the dedup shuffle, instead of the whole corpus'
      // shingle set
      df.select(col(idCol).as("id"), tokensCol(textCol).as("arr"))
        .filter(size(col("arr")) >= k)
        .select(col("id"), explode(shingleArr).as("shingle"))
        .join(p, "shingle")
        .distinct()
        .groupBy("id")
        .agg(count(lit(1)).as("hits"))
        .select(col("id").as("doc_id"), col("hits"))
    }
  }
}
