package graftbench

/** Order statistics for the benchmark's timings.
  *
  * A percentile is only worth reporting when enough samples lie beyond it
  * to tell a tail from one unlucky run: the rule used throughout is that at
  * least [[MinBeyond]] samples must rank above it. Percentiles use the
  * nearest-rank definition, so the value reported is always one that was
  * actually measured.
  */
object Stats {

  val MinBeyond = 10

  /** Samples ranked strictly above the nearest-rank `p`-th percentile of `n`. */
  def beyond(n: Long, p: Double): Long =
    n - math.ceil(p / 100.0 * n).toLong

  /** Whether the `p`-th percentile of `n` samples has [[MinBeyond]] beyond it. */
  def supports(n: Long, p: Double): Boolean = n > 0 && beyond(n, p) >= MinBeyond

  /** The highest whole percentile that `n` samples support, if any. */
  def highestSupported(n: Long): Option[Int] =
    (99 to 1 by -1).find(p => supports(n, p.toDouble))

  /** Nearest-rank percentile of unweighted samples. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Geometric mean of positive samples: each sample weighs the same in
    * relative terms, however large it is.
    */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
