package perfbench

import scala.collection.mutable.ArrayBuffer

/** Order statistics used by every reported timing. */
object Stats {

  /** The percentiles a timing may be reported at, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 90.0, 95.0, 99.0, 99.9)

  /** Samples that must lie strictly beyond a reported percentile. */
  val MinBeyond = 10

  /** 1-based nearest-rank index of the p-th percentile of n samples. */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Nearest-rank p-th percentile: an observed sample, never an
    * interpolation, so a percentile is always a time some file really saw.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.size, p) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly beyond the nearest-rank p-th percentile of n. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  /** The highest ladder percentile that leaves at least [[MinBeyond]]
    * samples beyond it, or None when even the median does not.
    */
  def highestSupported(n: Int, ladder: Seq[Double] = Ladder): Option[Double] =
    ladder.filter(p => n > 0 && beyond(n, p) >= MinBeyond).lastOption
}

/** Attempted and failed operations of one run. An operation is one landed
  * file, one read-phase query, one maintenance call, one reconciliation
  * against ground truth or one restart check; it fails when it throws or
  * its answer disagrees with the ground truth.
  */
final class Accounting {
  private var attemptedOps = 0L
  private val failures = ArrayBuffer.empty[String]

  def attempted: Long = synchronized(attemptedOps)
  def failed: Long = synchronized(failures.size.toLong)
  def failureLog: Seq[String] = synchronized(failures.toList)

  /** failed / attempted; 0 when nothing was attempted. */
  def errorRate: Double = synchronized {
    if (attemptedOps == 0) 0.0 else failures.size.toDouble / attemptedOps
  }

  /** Count `n` operations of which the ones named in `problems` failed. */
  def record(n: Long, problems: Seq[String]): Unit = synchronized {
    require(problems.size <= n, s"${problems.size} failures out of $n attempts")
    attemptedOps += n
    failures ++= problems
  }

  /** One operation that fails when `ok` is false. */
  def check(op: String, ok: Boolean, detail: => String): Unit =
    record(1, if (ok) Nil else Seq(s"$op: $detail"))

  /** One operation whose answer is checked; a throw fails it too. */
  def attempt[T](op: String)(body: => T)(ok: T => Option[String]): Option[T] =
    try {
      val v = body
      val problem = ok(v)
      check(op, problem.isEmpty, problem.getOrElse(""))
      Some(v)
    } catch {
      case e: Exception =>
        check(op, ok = false, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
}
