package graft

import graft.pipeline.Rng

/** Seeded embedding generator for the ANN specs. */
object SyntheticVectors {

  /** A `dim`-wide vector from a mixture of `nClusters` centers where cluster
    * membership CORRELATES with `id` (contiguous id blocks per cluster) —
    * the id layout of any corpus ingested shard-by-shard or time-ordered.
    * This is the corpus that exposes a biased IVF training sample: training
    * on the smallest ids sees ONE cluster and the coarse quantizer learns a
    * corner.
    */
  def vecCorrelated(id: Long, n: Long, dim: Int, nClusters: Int): Array[Float] = {
    val cluster = math.min(nClusters - 1, (id * nClusters / n).toInt)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      val center = ((Rng.mix2(cluster.toLong * 7919L, i.toLong) >>> 11).toDouble / (1L << 53) - 0.5) * 2.0
      val noise = ((Rng.mix2(id, i.toLong) >>> 11).toDouble / (1L << 53) - 0.5) * 0.4
      out(i) = (center + noise).toFloat
      i += 1
    }
    out
  }
}
