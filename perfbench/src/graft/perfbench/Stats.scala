package graft.perfbench

/** Summary helpers for per-call samples. */
object Stats {

  /** Median; the mean of the middle two for an even count (as Python's
    * `statistics.median`). NaN for no samples.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val m = s.length / 2
      if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** Percentile `p` in [0, 1] with linear interpolation between closest
    * ranks (numpy's default). NaN for no samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** `num / den`, or 0 when there is nothing to divide by. */
  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den
}

/** Order-independent multiset fingerprint over 64-bit element hashes:
  * equal for two multisets exactly when (with overwhelming probability)
  * they hold the same elements with the same multiplicities.
  */
final case class Multiset(count: Long, sumA: Long, sumB: Long) {
  def add(h: Long): Multiset =
    Multiset(count + 1, sumA + Gen.mix64(h), sumB + Gen.mix64(h ^ 0x5bd1e995L))
  def ++(o: Multiset): Multiset =
    Multiset(count + o.count, sumA + o.sumA, sumB + o.sumB)
}

object Multiset {
  val Empty: Multiset = Multiset(0, 0, 0)
}
