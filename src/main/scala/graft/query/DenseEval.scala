package graft.query

import graft.text.TextPipeline
import scala.collection.mutable

/** The engine's one boolean evaluator: an AST capture of the reference
  * algebra (ProcessQuery, the reference's BM25Ranker.cpp:64-182)
  * plus the per-document scalar kernel that scores it.
  *
  * The reference scores dense per-corpus vectors (:26-30,311-319). Here
  * the query is evaluated ONCE with `AstAlgebra` to get its expression
  * tree; once every atom's rows are aligned per doc and the
  * data-dependent normalization constants are known, a doc's score is a
  * scalar expression of its own rows. The `Kernel` resolves those
  * constants bottom-up, one pass over the aligned docs each, then scores
  * every doc. Both sides of the engine's `driverAlgebraMaxDocs` gate run
  * it and differ only in where the aligned rows come from and where the
  * passes run: the driver route aligns its fetched rows in-process, the
  * dense route groups them by docId in one shuffle and runs each pass per
  * partition. A pass returns partial counts and maxima whose merges are
  * exact under any partitioning, so the two routes give the same bits by
  * construction (EngineSpec asserts every path `==` `RefOracle`).
  *
  * A doc outside a subtree's support evaluates to that subtree's default
  * by induction (`evalDoc` with every atom absent is `defaultOf`), which
  * is the value the dense vector holds at that doc.
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
    * trueMax; ≤ 0 means no rescale, the reference's `if (max > 0)`). */
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

  /** The dense default of `n`: the score every doc outside its support
    * holds. Norm ids not yet resolved in `normMax` must not occur. */
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

  /** One doc's aligned rows: (docId, [(atomIdx, tf, doc_len)]), one entry
    * per atom the doc matches. */
  type Doc = (Long, Array[(Int, Int, Int)])

  /** A pass's partial result over some of the aligned docs: per slot, a
    * count sum and a max (from 0.0). Summing counts and taking maxima are
    * exact under any partitioning. */
  type Partial = (Array[Long], Array[Double])

  private def merge(parts: Seq[Partial], slots: Int): Partial = {
    val cnt = new Array[Long](slots)
    val mx = new Array[Double](slots)
    parts.foreach { case (c, m) =>
      var i = 0
      while (i < slots) {
        cnt(i) += c(i); if (m(i) > mx(i)) mx(i) = m(i); i += 1
      }
    }
    (cnt, mx)
  }

  /** The per-doc kernel of the query `root` over `nAtoms` atoms, scored
    * against a corpus of `nDocs` docs with BM25 constants `k1`, `b`,
    * `avgdl`. Holds plain values only, so executors can run its passes. */
  final class Kernel(root: QNode, nAtoms: Int, nDocs: Long, k1: Double, b: Double, avgdl: Double)
    extends Serializable {

    private def tfPart(tf: Int, dl: Int): Double =
      Bm25.tfPart(tf.toDouble, dl.toDouble, k1, b, avgdl)

    /** Pass 1, per atom: its df and its max tf-part. */
    def atomPass(docs: Iterator[Doc]): Partial = {
      val cnt = new Array[Long](nAtoms)
      val mx = new Array[Double](nAtoms)
      docs.foreach { case (_, rows) =>
        rows.foreach { case (a, tf, dl) =>
          cnt(a) += 1
          val tp = tfPart(tf, dl)
          if (tp > mx(a)) mx(a) = tp
        }
      }
      (cnt, mx)
    }

    /** Per atom, its idf and its max score from the atom pass: `run`
      * applies a pass to every aligned doc and returns its partials (one
      * per partition, or one for a local iterator). */
    def atomConstants(run: (Iterator[Doc] => Partial) => Seq[Partial]): (Array[Double], Array[Double]) = {
      val (df, mxTf) = merge(run(atomPass), nAtoms)
      val idf = Array.tabulate(nAtoms)(i => Bm25.idf(nDocs.toDouble, df(i).toDouble))
      // an atom's max score is idf · maxTfPart — bitwise the max of its
      // per-row scores (x → fl(idf·x) is monotone for idf > 0, attained
      // at the argmax); absent docs hold 0, so it counts unless every
      // doc matches
      val atomMax = Array.tabulate(nAtoms) { i =>
        val mxS = if (df(i) == 0) 0.0 else idf(i) * mxTf(i)
        if (df(i) >= nDocs) mxS else math.max(mxS, 0.0)
      }
      (idf, atomMax)
    }

    /** Resolves every constant of the query, `run` as in `atomConstants`. */
    def resolve(run: (Iterator[Doc] => Partial) => Seq[Partial]): Resolved = {
      val (idf, atomMax) = atomConstants(run)
      val norms = normNodes(root)
      val normMax = new Array[Double](norms.length)
      norms.foreach { nn => // bottom-up: ids < nn.id are final
        val (cnt, mx) = merge(run(new Resolved(idf, atomMax, normMax.clone()).normPass(nn.a)), 1)
        normMax(nn.id) =
          if (cnt(0) >= nDocs) mx(0)
          else math.max(mx(0), defaultOf(nn.a, normMax))
      }
      new Resolved(idf, atomMax, normMax)
    }

    /** The kernel with its constants resolved (up to some norm id). */
    final class Resolved private[Kernel] (
        idf: Array[Double], atomMax: Array[Double], normMax: Array[Double]) extends Serializable {

      /** A doc's max-normalized atom scores and which atoms it matches. */
      private def atomScores(rows: Array[(Int, Int, Int)]): (Array[Double], Array[Boolean]) = {
        val vals = new Array[Double](nAtoms)
        val pres = new Array[Boolean](nAtoms)
        rows.foreach { case (a, tf, dl) =>
          val s = idf(a) * tfPart(tf, dl)
          vals(a) = if (atomMax(a) > 0) s / atomMax(a) else s
          pres(a) = true
        }
        (vals, pres)
      }

      /** A norm pass: the count and max of `sub` over its support. */
      def normPass(sub: QNode)(docs: Iterator[Doc]): Partial = {
        val subAtoms = atomsOf(sub)
        var cnt = 0L
        var mx = 0.0
        docs.foreach { case (_, rows) =>
          val (vals, pres) = atomScores(rows)
          if (subAtoms.exists(pres)) {
            val v = evalDoc(sub, vals, pres, normMax)
            cnt += 1
            if (v > mx) mx = v
          }
        }
        (Array(cnt), Array(mx))
      }

      /** The final pass: every aligned doc's score. */
      def scores(docs: Iterator[Doc]): Iterator[(Long, Double)] =
        docs.map { case (d, rows) =>
          val (vals, pres) = atomScores(rows)
          (d, evalDoc(root, vals, pres, normMax))
        }

      /** The score of every doc outside the aligned support. */
      def default: Double = defaultOf(root, normMax)
    }
  }
}
