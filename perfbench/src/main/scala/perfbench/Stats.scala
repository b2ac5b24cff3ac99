package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail latency: the highest percentile with at least ten samples
    * beyond it. For n samples that is the (n-10)-th smallest, reported as
    * percentile floor(100 (n-10) / n); fewer than 20 samples have no tail
    * (the percentile would fall below the median).
    *
    * @return (percentile, value)
    */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      val k = s.size - 11
      Some((100 * (k + 1) / s.size, s(k)))
    }
}
