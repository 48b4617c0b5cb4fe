package graftbench

/** Sample statistics used for every reported timing. Percentiles are
  * nearest-rank over the sorted samples, so a reported value is always one
  * that was measured. */
object Stats {

  /** Nearest-rank median of `xs`. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    s(math.ceil(0.5 * s.length).toInt - 1)
  }

  /** Samples the tail percentile must leave above it. */
  val TailBeyond = 10

  /** The tail rule: the highest nearest-rank percentile that still has at
    * least `TailBeyond` samples above it. Returns (percentile, value). With
    * fewer than 2 * `TailBeyond` samples no percentile above the median
    * qualifies, and the median (p = 0.5) is reported as the tail. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    val rank = n - TailBeyond // 1-based rank of the tail sample
    val medRank = math.ceil(0.5 * n).toInt
    if (rank <= medRank) (0.5, s(medRank - 1))
    else (rank.toDouble / n, s(rank - 1))
  }
}

/** Outcome bookkeeping for one run: every attempted operation is either ok,
  * failed (threw) or wrong (completed with an output that did not pass its
  * check). Output checks made after the measured window count as operations
  * too, so a wrong answer always shows in `failed`. */
final class Outcomes {
  private var ok = 0L
  private val threw = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  private val wrong = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  def attempted: Long = ok + threw.size + wrong.size
  def failed: Long = (threw.size + wrong.size).toLong
  def wrongCount: Long = wrong.size.toLong
  def failedFrac: Double = if (attempted == 0) 0.0 else failed.toDouble / attempted
  /** (operation, cause) of every failed or wrong operation. */
  def causes: Seq[(String, String)] = threw.toSeq ++ wrong.toSeq

  /** Run `f` as one operation named `what`; a throw counts as failed and is
    * recorded with its cause, never rethrown. */
  def attempt[A](what: String)(f: => A): Option[A] =
    try { val a = f; ok += 1; Some(a) }
    catch {
      case e: Exception =>
        threw += what -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(160)}"
        None
    }

  /** Record one output check; a false check counts as a wrong answer. */
  def check(what: String, passed: Boolean, detail: => String = ""): Boolean = {
    if (passed) ok += 1 else wrong += what -> s"wrong output: ${detail.take(200)}"
    passed
  }
}
