package graftbench

/** Seeded, stateless generation. Every generated value is a pure function
  * of (seed, stream, index), so Spark tasks writing the staged parquet
  * and the driver building its model of the same rows agree row for row
  * without either reading the other, and the same seed always gives the
  * same inputs. */
object Gen {
  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A small sequential generator over one (seed, stream, index) cell. */
  final class Rng(private var s: Long) {
    def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def nextInt(n: Int): Int = java.lang.Math.floorMod(nextLong(), n.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def between(lo: Int, hiIncl: Int): Int = lo + nextInt(hiIncl - lo + 1)
    /** Box-Muller standard normal. */
    def gaussian(): Double = {
      val u = math.max(nextDouble(), 1e-300)
      math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * nextDouble())
    }
  }

  def rng(seed: Long, stream: String, i: Long): Rng =
    new Rng(mix(mix(seed) ^ mix(stream.hashCode.toLong * 31 + i)))

  /** Pseudo-words: "w" + base-26 letters of a word id. */
  def word(id: Int): String = {
    val b = new StringBuilder("w")
    var x = id
    do { b += ('a' + x % 26).toChar; x /= 26 } while (x > 0)
    b.toString
  }

  /** Skewed word id in [0, vocab): squaring a uniform draw favors low ids,
    * so common words recur across documents like real text. */
  def skewedWord(r: Rng, vocab: Int): Int = {
    val u = r.nextDouble()
    math.min(vocab - 1, (u * u * vocab).toInt)
  }

  /** Cents-rounded price, exact in binary up to the cent rounding. */
  def cents(x: Double): Double = math.round(x * 100.0) / 100.0
}
