package perfbench

/** Counter-based random numbers: every value is a pure function of the
  * seed and its coordinates, so Spark tasks can generate rows in
  * parallel and the checks can regenerate the same rows without Spark. */
object Gen {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Long =
    mix(mix(mix(seed ^ mix(a)) ^ b) ^ c)

  /** Uniform in [0, 1). */
  def unif(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Double =
    (hash(seed, a, b, c) >>> 11) * (1.0 / (1L << 53))

  /** Uniform integer in [0, n). */
  def below(n: Int, seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Int =
    java.lang.Long.remainderUnsigned(hash(seed, a, b, c), n.toLong).toInt

  /** Standard normal (Box-Muller). */
  def gauss(seed: Long, a: Long, b: Long = 0L, c: Long = 0L): Double = {
    val u1 = math.max(unif(seed, a, b, 2 * c), 1e-300)
    val u2 = unif(seed, a, b, 2 * c + 1)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}
