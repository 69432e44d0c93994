package graft.ops

/** THE cosine of the ops layer: every ANN probe and re-rank, the brute
  * force, the IVF centroid assignment and probe-cell ranking, and the
  * embedding dedup score through it — never a second copy, typed or
  * Catalyst. A vector is widened to double once and normed (sqrt of its
  * self dot); a pair scores `dot / (na * nb)`, every dot a left fold from
  * 0.0 — the chain the ANN and dedup DuckDB oracles compute. A zero-norm
  * side scores 0.0: never NaN, never a divide-by-zero error. */
object Cosine {

  /** A vector as the chain reads it: widened to double, with its norm. */
  type Normed = (Array[Double], Double)

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc = acc + a(i) * b(i); i += 1 }
    acc
  }

  def of(v: Array[Double]): Normed = (v, math.sqrt(dot(v, v)))

  def of(v: Seq[Float]): Normed = of(v.iterator.map(_.toDouble).toArray)

  def apply(a: Normed, b: Normed): Double =
    if (a._2 == 0.0 || b._2 == 0.0) 0.0 else dot(a._1, b._1) / (a._2 * b._2)
}
