package graft.perfbench

/** Seeded input generators. Every value is a pure function of the
  * benchmark seed and its position, so one seed gives the same inputs in
  * any JVM. Each generator draws from its own stream (`salt`), so adding
  * a generator never shifts another one's values. */
object Gen {
  private val Alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  private def rng(seed: Long, salt: Long): java.util.Random =
    new java.util.Random(new java.util.SplittableRandom(seed * 1000003L + salt).nextLong())

  /** The reference row shape's 20-character payload for key `id`. */
  def payload(seed: Long, id: Long): String = {
    val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ id)
    val b = new java.lang.StringBuilder(20)
    var i = 0
    while (i < 20) { b.append(Alphabet.charAt(r.nextInt(Alphabet.length))); i += 1 }
    b.toString
  }

  /** `n` Gaussian vectors of `dim` floats for batch `batch`, ids from `firstId`. */
  def vectors(seed: Long, batch: Long, firstId: Long, n: Int, dim: Int): Seq[(Long, Seq[Float])] = {
    val r = rng(seed, 7919L + batch)
    (0 until n).map(i => (firstId + i, Seq.fill(dim)(r.nextGaussian().toFloat)))
  }

  def shuffle[T](xs: Seq[T], seed: Long): Seq[T] = {
    val a = xs.toArray[Any]
    val r = rng(seed, 37L)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
