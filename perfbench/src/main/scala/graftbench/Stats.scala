package graftbench

/** Summary statistics over latency samples. */
object Stats {

  /** Median by linear interpolation between the two middle samples. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency together with the percentile it sits at and the sample
    * count it was taken from.
    */
  final case class Tail(value: Double, percentile: Double, n: Int)

  /** Samples that must lie strictly beyond a reported tail. */
  val TailMargin = 10

  /** The highest percentile that still has at least [[TailMargin]] samples
    * beyond it: with the samples sorted ascending, the value at rank
    * n - margin (1-based), which leaves exactly `margin` samples above it.
    * Its percentile is (n - margin) / n. Below margin + 1 samples no
    * percentile qualifies and the tail is undefined.
    */
  def tail(xs: Seq[Double], margin: Int = TailMargin): Option[Tail] = {
    val n = xs.size
    if (n <= margin) None
    else {
      val s = xs.sorted
      val rank = n - margin
      Some(Tail(s(rank - 1), 100.0 * rank / n, n))
    }
  }
}
