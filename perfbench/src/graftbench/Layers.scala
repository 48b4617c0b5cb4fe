package graftbench

import graft.analysis.Analyzers
import graft.codec.{EncodedPostings, PostingsCodec}

/** Spark-free timings of the analysis and codec layers over a workload's
  * corpus sample. Each layer runs `Warmups` untimed passes first so the JIT
  * has compiled it; a timed figure is the median of `Passes` timed passes. */
object Layers {
  val Warmups = 2
  val Passes = 5
  /** Raw size of a skip entry: seven Int fields. */
  val SkipEntryBytes = 7 * 4

  final case class Result(tokens: Long, tokensPerS: Double, postings: Long,
                          encodePerS: Double, decodePerS: Double, bytesPerPosting: Double)

  def run(texts: Seq[String], analyzerName: String): Result = {
    val analyzer = Analyzers.byName(analyzerName)
    def tokenizeAll(): Long = {
      var n = 0L
      texts.foreach(t => n += analyzer.tokenCount(t))
      n
    }
    (1 to Warmups).foreach(_ => tokenizeAll())
    var tokens = 0L
    val tokS = Stats.median((1 to Passes).map(_ => seconds { tokens = tokenizeAll() }))

    // term -> (docId, positions) in docId order: the input a segment writer
    // hands the postings encoder
    val inverted = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[(Int, Array[Int])]]
    val lens = new Array[Int](texts.length)
    texts.iterator.zipWithIndex.foreach { case (t, doc) =>
      val toks = analyzer.tokenize(t).toVector
      lens(doc) = toks.length
      toks.groupBy(_.term).foreach { case (term, ts) =>
        inverted.getOrElseUpdate(term, scala.collection.mutable.ArrayBuffer.empty) +=
          doc -> ts.map(_.position).toArray
      }
    }
    val lists = inverted.values.map(_.toArray).toArray
    val postings = lists.map(_.length.toLong).sum
    def encodeAll(): Array[EncodedPostings] = lists.map { l =>
      val e = new PostingsCodec.Encoder
      l.foreach { case (doc, pos) => e.add(doc, pos.length, pos, lens(doc)) }
      e.finish()
    }
    (1 to Warmups).foreach(_ => encodeAll())
    var encoded: Array[EncodedPostings] = null
    val encS = Stats.median((1 to Passes).map(_ => seconds { encoded = encodeAll() }))
    def decodeAll(): Long = {
      var n = 0L
      encoded.foreach { p =>
        n += PostingsCodec.decode(p.df, p.docDeltas, p.tfs, p.positions, p.lens).docIds.length
      }
      n
    }
    (1 to Warmups).foreach(_ => decodeAll())
    var decoded = 0L
    val decS = Stats.median((1 to Passes).map(_ => seconds { decoded = decodeAll() }))
    require(decoded == postings, s"codec round trip lost postings: $decoded != $postings")
    val bytes = encoded.map(p => p.docDeltas.length.toLong + p.tfs.length + p.positions.length +
      p.lens.length + SkipEntryBytes.toLong * p.skips.length).sum
    Result(tokens, tokens / tokS, postings, postings / encS, postings / decS,
      bytes.toDouble / postings)
  }

  def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }
}
