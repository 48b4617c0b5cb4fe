package graftbench

import java.util.SplittableRandom

import graft.search._

/** The seeded input generator shared by all four workloads. Every stream is
  * a pure function of (seed, stream name), so the same seed gives
  * byte-identical inputs whatever order the streams are drawn in. */
final class Gen(val seed: Long) {
  import Gen._

  def rng(stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ scala.util.hashing.MurmurHash3.stringHash(stream).toLong)

  /** A stream that is the same for every seed: it fixes the shape of an
    * input (frequency ranks, positions) while the seeded vocabulary and
    * pages fill it, so runs with different seeds do comparable work. */
  def shapeRng(stream: String): SplittableRandom =
    new SplittableRandom(scala.util.hashing.MurmurHash3.stringHash("shape/" + stream).toLong)

  /** Distinct lowercase pseudo-words; index = Zipf rank. None is a stopword,
    * so every word is its own token under the standard analyzer. The length
    * of the word at each rank is the same for every seed (it sets how many
    * neighbours a fuzzy, prefix or wildcard query expands to); the letters
    * are seeded. */
  val vocab: Array[String] = {
    val r = rng("vocab")
    val lengths = shapeRng("vocab")
    val seen = new java.util.HashSet[String]()
    val out = Array.newBuilder[String]
    while (seen.size < VocabSize) {
      val len = 3 + lengths.nextInt(4) + lengths.nextInt(5)
      var w = ""
      while (w.isEmpty || Stop.contains(w) || seen.contains(w))
        w = new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
      seen.add(w)
      out += w
    }
    out.result()
  }
  private val vocabSet: Set[String] = vocab.toSet

  /** Zipf(s) sampler over ranks [0, n). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
  private val words = new Zipf(VocabSize, 1.05)

  /** Tokens of one generated document body (vocabulary words only). */
  private def bodyTokens(r: SplittableRandom, minLen: Int): Array[String] = {
    val len = math.max(minLen, math.min(600, math.exp(4.1 + 0.6 * gaussian(r)).toInt))
    Array.fill(len)(vocab(words.sample(r)))
  }

  /** Text of a document: sentences of body tokens, the doc's unique id
    * token, and on every eighth doc one of the FIXTURES.md section 2
    * strings, so every Classic-grammar token class is analyzed. */
  private def render(r: SplittableRandom, toks: Array[String], idToken: String, tag: String,
                     special: Boolean): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < toks.length) {
      val w = toks(i)
      val startSentence = i == 0 || sb.endsWith(". ")
      sb.append(if (startSentence) w.capitalize else w)
      sb.append(if (r.nextInt(12) == 0) ". " else " ")
      i += 1
    }
    sb.append(idToken).append(' ').append(corpusToken(tag))
    if (special) sb.append(' ').append(Specials(r.nextInt(Specials.length)))
    sb.toString
  }

  def url(tag: String, i: Long): String = s"https://site-${i % 97}.example/$tag/$i"
  /** A token unique to one version of one page. The leading "x0" keeps it
    * out of every letters-only prefix, wildcard and fuzzy expansion. */
  def idToken(tag: String, i: Long, version: Int): String = s"x0$tag${i}v$version"
  /** A token every page of corpus `tag` carries: its hit count is the
    * corpus's live doc count. */
  def corpusToken(tag: String): String = s"k0$tag"

  /** `n` documents (url, text) of corpus `tag`. */
  def corpus(tag: String, n: Int): Vector[(String, String)] = {
    val r = rng(s"corpus/$tag")
    Vector.tabulate(n) { i =>
      val toks = bodyTokens(r, 8)
      (url(tag, i), render(r, toks, idToken(tag, i, 0), tag, r.nextInt(8) == 0))
    }
  }

  // ---------------------------------------------------------------- queries

  /** A distinct query of the serve log; `keys` are the terms a warm session
    * has to pin to answer it (prefix, fuzzy and wildcard expand through the
    * pinned dictionary). */
  final case class LogQuery(rank: Int, family: String, query: Query, terms: List[String])

  /** `universe` distinct queries in Zipf rank order. Families take turns
    * by rank, and which vocabulary ranks (so which term frequencies) a query
    * asks for comes from a stream that does not depend on the seed: every
    * seed asks the same query shapes at every popularity, and only the words
    * (and the pages they hit) differ. Phrase queries are bigrams taken from
    * `docs`. */
  def queryUniverse(docs: Seq[(String, String)], universe: Int): Vector[LogQuery] = {
    val r = shapeRng("queries")
    // query terms skip the head of the vocabulary: stopword-scale lists
    // are what the session's per-term cap keeps on the cluster path
    val qterms = new Zipf(VocabSize - 50, 0.9)
    def term(): String = vocab(50 + qterms.sample(r))
    Vector.tabulate(universe) { rank =>
      Families(rank % Families.length) match {
        case "term" => val t = term(); LogQuery(rank, "term", TermQ(t), List(t))
        case f @ ("or_plan" | "or_wand") =>
          val ts = List.fill(2 + r.nextInt(2))(term()).distinct
          LogQuery(rank, f, BoolQ(ts.map(t => Occur.Should -> TermQ(t))), ts)
        case "and" =>
          // conjunctions of two head terms, so they match something
          val ts = List.fill(2)(vocab(50 + r.nextInt(150))).distinct
          LogQuery(rank, "and", BoolQ(ts.map(t => Occur.Must -> TermQ(t))), ts)
        case "phrase" =>
          val toks = docs(r.nextInt(docs.length))._2.split(' ').map(_.stripSuffix(".").toLowerCase)
            .filter(vocabSet.contains)
          val i = r.nextInt(math.max(1, toks.length - 1))
          val ts = List(toks(i), toks(math.min(i + 1, toks.length - 1)))
          LogQuery(rank, "phrase", PhraseQ(List(ts(0) -> 0, ts(1) -> 1)), ts.distinct)
        case "prefix" =>
          val p = vocab(50 + r.nextInt(2000)).take(3)
          LogQuery(rank, "prefix", ConstantScoreQ(PrefixQ(p), 1f), List(p))
        case "fuzzy" =>
          val t = term()
          val j = r.nextInt(t.length)
          val typo = t.updated(j, ('a' + r.nextInt(26)).toChar)
          LogQuery(rank, "fuzzy", FuzzyTopQ(typo, 2), List(typo))
        case "wildcard" =>
          val t = vocab(50 + r.nextInt(2000))
          val pat = "*" + t.takeRight(3)
          LogQuery(rank, "wildcard", ConstantScoreQ(WildcardQ(pat), 1f), List(pat))
      }
    }
  }

  /** A Zipf(1.0) log of `n` draws over the universe ranks; like the query
    * shapes, the rank sequence is the same for every seed. */
  def queryLog(universe: Int, n: Int): Vector[Int] = {
    val r = shapeRng("log")
    val z = new Zipf(universe, 1.0)
    Vector.fill(n)(z.sample(r))
  }

  // ---------------------------------------------------------- update stream

  /** One write round over corpus ids: ids of the base corpus to update
    * (delete the old version, append version `round + 1`) and to delete
    * outright, plus new pages. Texts are keyed by id. */
  final case class Round(round: Int, updates: Vector[(Int, String)], deletes: Vector[Int],
                         added: Vector[(Int, String)])

  /** `rounds` write rounds over a base corpus of `base` docs of corpus
    * `tag`; each url is touched at most once, so a check after any round
    * knows exactly which version of each url is live. */
  def updateStream(tag: String, base: Int, rounds: Int, perRound: Int): Vector[Round] = {
    val r = rng(s"updates/$tag")
    val order = shuffled(r, (0 until base).toArray)
    val touch = perRound * 2 / 3
    require(touch * rounds <= base, "update stream would touch a url twice")
    Vector.tabulate(rounds) { k =>
      val ids = order.slice(k * touch, (k + 1) * touch)
      val (upd, del) = ids.splitAt(touch / 2)
      val updates = upd.toVector.map { i =>
        i -> render(r, bodyTokens(r, 8), idToken(tag, i, k + 1), tag, special = false)
      }
      val added = Vector.tabulate(perRound - touch) { j =>
        val i = base + k * (perRound - touch) + j
        i -> render(r, bodyTokens(r, 8), idToken(tag, i, 0), tag, special = false)
      }
      Round(k, updates, del.toVector, added)
    }
  }

  // ------------------------------------------------------ near-dup shards

  /** Planted page-version chains for the curation stage. Consecutive
    * versions differ by 4 % token replacements, so they are near
    * duplicates while versions further apart drift below the threshold: a
    * chain is a path in the duplicate graph. Ids rise along a chain from
    * `firstId` (the oldest version has the smallest id), so clustering a
    * chain takes as many label-propagation rounds as it is long. `truth`
    * holds every planted pair whose exact 3-token shingle Jaccard clears
    * `tNum/tDen`. */
  final case class Planted(docs: Vector[(Long, String)], chains: Vector[Vector[Long]],
                           truth: Set[(Long, Long)])

  def plantedChains(firstId: Long, chainCount: Int, tNum: Int, tDen: Int): Planted = {
    val r = rng("chains")
    var next = firstId
    val chainDocs = chainLengths(chainCount).map { len =>
      var toks = bodyTokens(r, 60)
      val m = math.max(1, math.round(toks.length * 0.04).toInt)
      Vector.fill(len) {
        val v = next -> toks.mkString(" ")
        next += 1
        toks = toks.clone()
        (0 until m).foreach(_ => toks(r.nextInt(toks.length)) = vocab(words.sample(r)))
        v
      }
    }
    val truth = chainDocs.flatMap { c =>
      c.sliding(2).collect { case Seq((a, ta), (b, tb)) if jaccardAtLeast(ta, tb, 3, tNum, tDen) =>
        (math.min(a, b), math.max(a, b))
      }
    }.toSet
    Planted(chainDocs.flatten, chainDocs.map(_.map(_._1)), truth)
  }

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def shuffled[A](r: SplittableRandom, a: Array[A]): Array[A] = {
    var i = a.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
}

object Gen {
  val VocabSize = 30000

  /** Planted chain lengths: 2 + Pareto(1.3) with no upper cut, one draw
    * from each of `chainCount` equal-probability strata, so the longest
    * chain always comes from the top 1/chainCount of the tail (with 96
    * strata it has 63 versions, a diameter of 62). The
    * draws come from a stream that does not depend on the seed: every run
    * meets the same diameters and only the pages differ. */
  def chainLengths(chainCount: Int): Vector[Int] = {
    val r = new SplittableRandom(0x6A09E667F3BCC908L)
    Vector.tabulate(chainCount) { j =>
      val u = (j + r.nextDouble()) / chainCount
      2 + math.floor(1.0 / math.pow(1 - u, 1 / 1.3)).toInt
    }
  }

  /** Query families in the order they take turns by popularity rank. The
    * two OR families (one warm family, WAND) come first, so under the Zipf
    * log the median warm query falls well inside one family's latencies
    * rather than on the edge between two. */
  val Families: Vector[String] =
    Vector("or_plan", "or_wand", "term", "and", "prefix", "phrase", "fuzzy", "wildcard")

  /** FIXTURES.md section 2: one input per Classic-grammar token class. */
  val Specials: Vector[String] = Vector(
    "The Quick brown FOX", "O'Reilly's book", "U.S.A. rocks", "AT&T and Excite@Home",
    "visit wiki.apache.org now", "mail bob_1@mail-host.org", "version 1.2.3 and 3,14",
    "semi-final", "x-15b flies", "日本語 text", "a" * 257, "don't stop believing")

  private val Stop = graft.analysis.StandardAnalyzer.EnglishStopWords

  /** Shingles of `k` consecutive [a-z0-9]+ tokens of lower(text) — the
    * definition Dedup.nearDupPairs verifies with. */
  def shingles(text: String, k: Int): Set[String] = {
    val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toVector
    if (toks.length < k) Set.empty else toks.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccardAtLeast(a: String, b: String, k: Int, tNum: Int, tDen: Int): Boolean = {
    val sa = shingles(a, k)
    val sb = shingles(b, k)
    val inter = sa.count(sb.contains).toLong
    val union = (sa.size + sb.size).toLong - inter
    union > 0 && inter * tDen >= union * tNum
  }

  /** Digest of a sequence of strings (determinism checks). */
  def digest(xs: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    xs.foreach { s => md.update(s.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
