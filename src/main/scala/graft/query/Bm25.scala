package graft.query

/** The engine's one BM25 formula (BM25Ranker.cpp:431-437), split into
  * the df-only factor and the per-posting factor so callers can hoist idf
  * out of their loops. Every scalar scoring site — the boolean kernel
  * (`DenseEval.Kernel`, both routes), the WAND kernels, the bulk phrase
  * ranker — calls these, so they share one IEEE operation order and score
  * bit-identically. `RefOracle` keeps its own transcription on purpose:
  * it is the independent reference.
  */
object Bm25 {

  /** StrictMath: Catalyst's log expression and the oracle use it, and
    * Math.log may differ in the last ulp on some JITs. Strictly positive
    * for every df ≤ n. */
  def idf(n: Double, df: Double): Double =
    StrictMath.log(((n - df) + 0.5) / (df + 0.5) + 1.0)

  /** Everything but idf — monotone increasing in tf and decreasing in
    * doc length, independent of df (the WAND block bound relies on it). */
  def tfPart(tf: Double, dl: Double, k1: Double, b: Double, avgdl: Double): Double = {
    val docNorm = (1 - b) + b * (dl / avgdl)
    (tf * (k1 + 1)) / (tf + k1 * docNorm)
  }
}
