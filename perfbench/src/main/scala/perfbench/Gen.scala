package perfbench

/** Seeded Gaussian-mixture vectors, clustered like real embeddings: each
  * row picks one of `components` centres (standard normal per dimension)
  * and adds isotropic noise of standard deviation 0.8, so clusters overlap
  * at their edges. One stream per seed, so the same seed gives the same
  * corpus and queries. */
final class Gen(seed: Long, dim: Int, components: Int) {
  private val spread = 0.8
  private val rng = new java.util.Random(seed)
  private val centres = Array.fill(components, dim)(rng.nextGaussian())

  /** `n` rows with consecutive ids from `firstId`. */
  def rows(firstId: Long, n: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n) { i =>
      val c = centres(rng.nextInt(components))
      (firstId + i, Array.tabulate(dim)(d => (c(d) + spread * rng.nextGaussian()).toFloat))
    }
}
