package perfbench

import graft.model.Turn
import graft.oracle.RefOracle

/** Untimed correctness gate: every checked result is compared with
  * `RefOracle`, the plain-Scala reference engine, over the same turns. */
final class Check(turns: Seq[Turn]) {
  val oracle = new RefOracle(turns)
  private val keyOf: Vector[String] = oracle.docs.map { case (_, t) => s"${t.conv_id}#${t.turn_idx}" }
  private val expected = scala.collection.mutable.Map.empty[(String, Double), Vector[(Long, Double)]]
  private val ranked = scala.collection.mutable.Map.empty[(String, Double), Vector[(Long, Double)]]
  private def want(q: String, acc: Double) =
    expected.getOrElseUpdate((q, acc), oracle.search(q, acc, graft.GraftParams().topK))

  var mismatches = 0
  private def fail(msg: String): Unit = {
    mismatches += 1
    if (mismatches <= 5) System.err.println(s"[perfbench] MISMATCH $msg")
  }

  /** Fresh build over exactly these turns: docIds and scores bit-identical. */
  def exactIds(q: String, acc: Double, got: Vector[(Long, Double)]): Unit = {
    val w = want(q, acc)
    if (got != w) fail(s"query '$q': got ${got.take(3)}… (${got.size}) want ${w.take(3)}… (${w.size})")
  }

  /** HTTP hits keyed by "conv#turn", fresh build: the same ranked list as
    * the oracle, scores bit-identical. */
  def exactKeys(q: String, acc: Double, got: Vector[(String, Double)]): Unit = {
    val w = want(q, acc).map { case (d, s) => (keyOf(d.toInt), s) }
    if (got != w) fail(s"query '$q': got ${got.take(3)}… (${got.size}) want ${w.take(3)}… (${w.size})")
  }

  /** After incremental appends and deletes docIds are relabelled and the
    * corpus mean is a weighted running mean, so results are compared the
    * way the incremental and delete specs compare them: by (conv, turn)
    * key with scores equal to 1e-9. Ties at the k-th score may be broken
    * differently, so the check is: the same sorted score list, and every
    * returned key carries the oracle's score for it. */
  def keyed(q: String, acc: Double, got: Vector[(String, Double)]): Unit = {
    val all = ranked.getOrElseUpdate((q, acc), oracle.search(q, acc, Int.MaxValue))
    val w = all.take(graft.GraftParams().topK)
    val full: Map[String, Double] = all.map { case (d, s) => keyOf(d.toInt) -> s }.toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
    val sameScores = got.size == w.size &&
      got.map(_._2).sorted.zip(w.map(_._2).sorted).forall { case (a, b) => close(a, b) }
    val sameKeys = got.forall { case (k, s) => full.get(k).exists(close(_, s)) }
    if (!sameScores || !sameKeys)
      fail(s"query '$q': got ${got.take(3)}… (${got.size}) want ${w.take(3).map { case (d, s) => (keyOf(d.toInt), s) }}… (${w.size})")
  }
}
