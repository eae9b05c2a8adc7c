package servebench

/** Latency summaries. A percentile is reported only when at least ten
  * samples lie beyond it; with fewer, the tail is not supported by the
  * sample and is flagged instead of printed as if it were. */
object Stats {

  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(sorted: IndexedSeq[Double], q: Double): Double = {
    require(sorted.nonEmpty, "quantile of no samples")
    val pos = q * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.length - 1)
    val frac = pos - lo
    if (frac == 0 || sorted(lo) == sorted(hi)) sorted(lo)
    else if (sorted(hi).isInfinite) sorted(hi) // a failed sample is never interpolated away
    else sorted(lo) + (sorted(hi) - sorted(lo)) * frac
  }

  def median(xs: Iterable[Double]): Double = quantile(xs.toIndexedSeq.sorted, 0.5)

  /** Samples strictly beyond the q-quantile's rank. */
  def beyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  final case class Summary(n: Int, p50: Double, p90: Option[Double]) {
    /** Why p90 is missing, for the report line. */
    def p90Flag: String =
      if (p90.isDefined) "" else s"p90 unsupported: ${beyond(n, 0.9)} of $n samples beyond it"
  }

  /** Failed operations enter as `Double.PositiveInfinity` so they can
    * never pass as fast samples; callers clamp infinities before printing. */
  def summarize(samples: Seq[Double]): Summary = {
    val s = samples.toIndexedSeq.sorted
    if (s.isEmpty) Summary(0, Double.NaN, None)
    else Summary(s.length, quantile(s, 0.5),
      Option.when(beyond(s.length, 0.9) >= 10)(quantile(s, 0.9)))
  }
}
