package graft.query

import graft.text.TextPipeline
import scala.collection.mutable

/** The dense one-shuffle boolean evaluator's query-side machinery: an AST
  * capture of the reference algebra plus the per-document scalar kernel.
  *
  * Motivation: evaluating the algebra operator by operator over
  * distributed sparse frames costs one full_outer JOIN (a shuffle of
  * operand-sized frames) per boolean operator plus a cached frame and a
  * max aggregate per op — a query like `"a" AND "b" OR "c"` over head
  * stems at 10^7+ docs is join-cascade-bound. But the whole computation
  * is a per-document scalar expression once (a) every atom's rows are
  * aligned per doc and (b) the data-dependent normalization constants
  * are known. So: evaluate the
  * query ONCE with `AstAlgebra` to get the expression tree, fetch all
  * atoms in ONE pruned scan + ONE docId shuffle, resolve each
  * normalization constant bottom-up with a no-shuffle aggregate pass over
  * the aligned frame, and compute final scores in a single map.
  *
  * Bit-identity: `evalDoc`/`defaultOf` replicate `DriverScalarAlgebra`'s
  * scalar operations exactly — same expressions, same IEEE order, same
  * `var mx = 0.0; if (v > mx)` max-loop semantics (the engine asserts all
  * paths equal in EngineSpec). A doc absent from a subtree's support
  * evaluates to that subtree's default by induction, which is exactly
  * `getOrElse(k, default)` in the driver's sparse merge.
  */
object DenseEval {

  /** Expression tree of one query evaluation. Atom indexes point into the
    * registry `AstAlgebra.atomList`; `NNorm.id` indexes the normalization
    * constants (creation order = bottom-up, so constants resolve in id
    * order). */
  sealed trait QNode extends Serializable
  case object NEmpty extends QNode
  final case class NAtom(i: Int) extends QNode
  final case class NNot(a: QNode) extends QNode
  final case class NAnd(a: QNode, b: QNode) extends QNode
  final case class NOr(a: QNode, b: QNode) extends QNode
  final case class NAdd(a: QNode, b: QNode, wa: Double, wb: Double) extends QNode
  final case class NNorm(a: QNode, id: Int) extends QNode

  /** A term atom is the post-stem lookup key; a phrase atom its stem
    * vector. Identical atoms share one index (their score vectors are
    * identical by determinism, so sharing is exact). */
  type Atom = Either[String, Vector[String]]

  final class AstAlgebra(stemBareTerms: Boolean) extends ScoreAlgebra[QNode] {
    private val registry = mutable.LinkedHashMap.empty[Atom, Int]
    private var norms = 0

    def atomList: IndexedSeq[Atom] = registry.keys.toIndexedSeq
    def normCount: Int = norms

    private def atomIdx(a: Atom): Int =
      registry.getOrElseUpdate(a, registry.size)

    override def empty: QNode = NEmpty
    override def termScore(rawTerm: String): QNode =
      NAtom(atomIdx(Left(if (stemBareTerms) TextPipeline.term(rawTerm) else rawTerm)))
    override def phraseScore(phraseText: String): QNode = {
      val stems = TextPipeline.tokenizeQuery(phraseText)
      if (stems.isEmpty) NEmpty else NAtom(atomIdx(Right(stems)))
    }
    override def not(a: QNode): QNode = NNot(a)
    override def and(a: QNode, b: QNode): QNode = NAnd(a, b)
    override def or(a: QNode, b: QNode): QNode = NOr(a, b)
    override def add(a: QNode, b: QNode, wa: Double, wb: Double): QNode = NAdd(a, b, wa, wb)
    override def normalize(a: QNode): QNode = {
      val n = NNorm(a, norms); norms += 1; n
    }
  }

  /** All NNorm nodes of the tree, indexed by their id. */
  def normNodes(root: QNode): Array[NNorm] = {
    val out = mutable.ArrayBuffer.empty[NNorm]
    def walk(n: QNode): Unit = n match {
      case nn @ NNorm(a, _) => walk(a); out += nn
      case NNot(a) => walk(a)
      case NAnd(a, b) => walk(a); walk(b)
      case NOr(a, b) => walk(a); walk(b)
      case NAdd(a, b, _, _) => walk(a); walk(b)
      case _ => ()
    }
    walk(root)
    out.toArray.sortBy(_.id)
  }

  /** Distinct atom indexes under a subtree — its support is the union of
    * these atoms' supports (every algebra op unions its operands' keys). */
  def atomsOf(n: QNode): Array[Int] = {
    val s = mutable.SortedSet.empty[Int]
    def walk(n: QNode): Unit = n match {
      case NAtom(i) => s += i
      case NNot(a) => walk(a)
      case NAnd(a, b) => walk(a); walk(b)
      case NOr(a, b) => walk(a); walk(b)
      case NAdd(a, b, _, _) => walk(a); walk(b)
      case NNorm(a, _) => walk(a)
      case NEmpty => ()
    }
    walk(n)
    s.toArray
  }

  /** Per-document value of `n` given the doc's normalized atom scores
    * (`vals`/`present`; an absent atom holds its default 0) and the
    * resolved normalization constants (`normMax(id)` = that node's
    * trueMax; ≤ 0 means no rescale, mirroring the driver's
    * `if (trueMax > 0)` branch). */
  def evalDoc(
      n: QNode,
      vals: Array[Double],
      present: Array[Boolean],
      normMax: Array[Double]): Double = n match {
    case NEmpty => 0.0
    case NAtom(i) => if (present(i)) vals(i) else 0.0
    case NNot(a) => 1.0 - evalDoc(a, vals, present, normMax)
    case NAnd(a, b) =>
      math.min(evalDoc(a, vals, present, normMax), evalDoc(b, vals, present, normMax))
    case NOr(a, b) =>
      math.max(evalDoc(a, vals, present, normMax), evalDoc(b, vals, present, normMax))
    case NAdd(a, b, wa, wb) =>
      wa * evalDoc(a, vals, present, normMax) + wb * evalDoc(b, vals, present, normMax)
    case NNorm(a, id) =>
      val v = evalDoc(a, vals, present, normMax)
      val t = normMax(id)
      if (t > 0) v / t else v
  }

  /** The dense default of `n` (the score every doc outside its support
    * holds) — the same scalar chain `DriverScalarAlgebra` threads through
    * its `_2` component. Norm ids above `resolvedUpTo` must not occur. */
  def defaultOf(n: QNode, normMax: Array[Double]): Double = n match {
    case NEmpty => 0.0
    case NAtom(_) => 0.0
    case NNot(a) => 1.0 - defaultOf(a, normMax)
    case NAnd(a, b) => math.min(defaultOf(a, normMax), defaultOf(b, normMax))
    case NOr(a, b) => math.max(defaultOf(a, normMax), defaultOf(b, normMax))
    case NAdd(a, b, wa, wb) => wa * defaultOf(a, normMax) + wb * defaultOf(b, normMax)
    case NNorm(a, id) =>
      val d = defaultOf(a, normMax)
      val t = normMax(id)
      if (t > 0) d / t else d
  }
}
