package graftbench

/** Percentiles that refuse to report a tail the sample cannot support.
  *
  * Nearest-rank definition: the p-th percentile of n sorted samples is the
  * sample at rank ceil(p·n), and a percentile is only reported when at
  * least [[minBeyond]] samples lie beyond that rank — a p90 over 30
  * batches is three samples deep and mostly noise.
  */
object Percentiles {

  val minBeyond = 10

  /** Candidate tail percentiles, highest first. */
  val tails: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75)

  def beyond(n: Int, p: Double): Int = n - math.ceil(p * n - 1e-9).toInt

  def supports(n: Int, p: Double): Boolean = beyond(n, p) >= minBeyond

  /** Median (mean of the two middle samples for even n). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile; throws when fewer than [[minBeyond]]
    * samples lie beyond it.
    */
  def tail(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    require(supports(xs.size, p),
      s"p${p * 100} needs $minBeyond samples beyond it; " +
        s"${xs.size} samples leave ${math.max(0, beyond(xs.size, p))}")
    xs.sorted.apply(math.ceil(p * xs.size - 1e-9).toInt - 1)
  }

  /** The highest tail percentile the sample supports, if any. */
  def highestTail(xs: Seq[Double]): Option[(Double, Double)] =
    tails.find(supports(xs.size, _)).map(p => p -> tail(xs, p))

  /** "median, highest supported tail and sample count" summary. */
  def summary(xs: Seq[Double]): Map[String, Double] =
    if (xs.isEmpty) Map("n" -> 0.0)
    else Map("median" -> median(xs), "n" -> xs.size.toDouble) ++
      highestTail(xs).map { case (p, v) => s"p${fmtP(p)}" -> v }

  /** Label of a percentile: 0.9 → "90", 0.999 → "99_9". */
  def fmtP(p: Double): String =
    BigDecimal(p * 100).setScale(1, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.stripTrailingZeros.toPlainString.replace(".", "_")
}
