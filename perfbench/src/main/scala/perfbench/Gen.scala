package perfbench

import scala.util.Random

/** Seeded input generators shared by the workloads. Everything the
  * benchmark feeds the program is derived from one `Random(seed)`, so
  * the same seed gives byte-identical inputs.
  */
final class Gen(seed: Long) {
  val rnd = new Random(seed)

  /** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  def zipf(n: Int, s: Double): Zipf = new Zipf(n, s)

  /** Pareto(xm, alpha) capped at `cap` — heavy-tailed sizes. */
  def pareto(xm: Double, alpha: Double, cap: Int): Int =
    math.min(cap, (xm / math.pow(1.0 - rnd.nextDouble(), 1.0 / alpha)).toInt)

  /** `n` Pareto(xm, alpha) sizes capped at `cap`, taken at the evenly
    * spaced quantiles (i + 0.5) / n and shuffled: the same skew as `n`
    * draws, but the same total for every seed, so a seed changes which
    * item gets which size and not how much work there is. */
  def paretoLadder(n: Int, xm: Double, alpha: Double, cap: Int): Array[Int] =
    rnd.shuffle(Seq.tabulate(n) { i =>
      math.min(cap, (xm / math.pow(1.0 - (i + 0.5) / n, 1.0 / alpha)).toInt)
    }).toArray

  def bytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    rnd.nextBytes(b)
    b
  }

  def word(len: Int): String =
    new String(Array.fill(len)(('a' + rnd.nextInt(26)).toChar))
}
