package graft.util

/** The splitmix64 generator (Steele, Lea and Flood, OOPSLA'14) — the one
  * copy behind every deterministic pseudo-random table: LangId's embeddings
  * and training sentences, the corpus generator, the sign-LSH hyperplanes
  * and the IVF probe's vectors.
  */
object SplitMix64 {

  val Gamma = 0x9e3779b97f4a7c15L

  /** The output finalizer: a bijective 64-bit mix. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The generator's output for state `s`. */
  def splitmix64(s: Long): Long = mix(s + Gamma)

  /** A uniform double in [-1, 1) from the top 53 bits of `r`. */
  def signedUnit(r: Long): Double = (r >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
}
