package tgbench

/** Order statistics over timing samples. */
object Stats {

  /** A percentile with the number of samples it rests on and how many
    * lie strictly above it (the "ten samples beyond the p90" rule). */
  final case class Pct(value: Double, n: Int, beyond: Int)

  /** Percentile `q` (0..100) by linear interpolation between closest
    * ranks — the same definition as numpy's default and Python's
    * `statistics.quantiles(method="inclusive")`. NaN on no samples. */
  def percentile(xs: Seq[Double], q: Double): Pct = {
    require(q >= 0 && q <= 100, s"percentile out of range: $q")
    if (xs.isEmpty) Pct(Double.NaN, 0, 0)
    else {
      val s = xs.toArray.sorted
      val pos = q / 100.0 * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      val v = s(lo) + (s(hi) - s(lo)) * (pos - lo)
      Pct(v, s.length, s.count(_ > v))
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50).value

  /** Least-squares slope of `ys` over `xs` (0 with fewer than 2 points). */
  def slope(xs: Seq[Double], ys: Seq[Double]): Double = {
    val n = xs.size
    if (n < 2) 0.0
    else {
      val mx = xs.sum / n
      val my = ys.sum / n
      val sxx = xs.map(x => (x - mx) * (x - mx)).sum
      if (sxx == 0) 0.0
      else xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    }
  }
}
