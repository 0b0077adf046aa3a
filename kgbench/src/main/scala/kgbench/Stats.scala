package kgbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile: `p` is whole, `value` the nearest-rank sample, `n`
    * the sample count. */
  final case class Tail(p: Int, value: Double, n: Int)

  /**
   * The highest whole percentile that still has at least `minBeyond` samples
   * above it, by nearest rank: percentile p sits at 1-based rank
   * ceil(p·n/100) and leaves n − rank samples beyond it. Only percentiles
   * from the median up count as a tail, so fewer than 2·minBeyond samples
   * give none.
   */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] = {
    val n = xs.length
    if (n < 2 * minBeyond) None
    else {
      val s = xs.sorted
      val p = (100L * (n - minBeyond) / n).toInt
      val rank = math.ceil(p * n / 100.0).toInt
      Some(Tail(p, s(rank - 1), n))
    }
  }
}
