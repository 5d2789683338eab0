package loadbench

/** Order statistics used for every reported latency. Quantiles are
  * nearest-rank: the q-quantile of n samples is the ceil(q*n)-th smallest,
  * so it is always an observed value and the count of samples strictly
  * above its rank is `n - ceil(q*n)`.
  */
object Stats {

  /** 1-based nearest rank of quantile `q` among `n` samples. The epsilon
    * keeps e.g. 0.95 * 200 (189.99999999999997 in binary) at rank 190.
    */
  def rank(n: Int, q: Double): Int = {
    require(n > 0, "quantile of an empty sample")
    require(q > 0.0 && q <= 1.0, s"quantile out of range: $q")
    math.min(n, math.max(1, math.ceil(q * n - 1e-9).toInt))
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val sorted = xs.sorted
    sorted(rank(sorted.size, q) - 1)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Samples ranked above the q-quantile. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  /** True when the q-quantile of `n` samples leaves at least `min` samples
    * above it — the condition for reporting that percentile at all.
    */
  def supports(n: Int, q: Double, min: Int = 10): Boolean = n > 0 && beyond(n, q) >= min

  /** Smallest sample count for which `supports(n, q, min)` holds. */
  def samplesNeeded(q: Double, min: Int = 10): Int =
    Iterator.from(1).find(n => supports(n, q, min)).get

  /** The highest of a few standard percentiles that leaves ≥ 10 samples
    * above it, with its value: (quantile, value, sample count).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val q = Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(supports(xs.size, _)).getOrElse(0.5)
    (q, quantile(xs, q), xs.size)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
