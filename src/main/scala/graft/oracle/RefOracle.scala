package graft.oracle

import graft.GraftParams
import graft.model.Turn
import graft.query.{ScoreAlgebra, QueryEvaluator}
import graft.text.TextPipeline
import scala.collection.mutable

/** Reference-faithful in-memory engine (plain Scala, no Spark) — the test
  * oracle (SURVEY.md §5.2). Direct transcription of the reference's
  * semantics:
  *  - index build: addDocument (/root/reference/source/InvertedIndex.cpp:125-146)
  *  - dense score vectors seeded over every doc (BM25Ranker.cpp:311-319)
  *  - BM25 core (BM25Ranker.cpp:431-437)
  *  - term scoring (BM25Ranker.cpp:350-378), phrase positional fold
  *    (BM25Ranker.cpp:439-491) INCLUDING its stale-postings quirk: a doc
  *    containing only a prefix of the phrase keeps its last-advanced
  *    positions when a later term is absent from the doc, and so still
  *    counts as a match.
  *
  * docIds are dense ranks under (conv_id, turn_idx) ordering — same
  * assignment as the Spark builder.
  */
final class RefOracle(turns: Seq[Turn], params: GraftParams = GraftParams()) {

  val docs: Vector[(Long, Turn)] =
    turns.sortBy(t => (t.conv_id, t.turn_idx)).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toVector

  val docLens: Map[Long, Int] = docs.map { case (id, t) =>
    id -> TextPipeline.tokenize(t.text).length
  }.toMap

  /** term → docId → ascending raw-token positions */
  val index: Map[String, Map[Long, Array[Int]]] = {
    val m = mutable.Map.empty[String, mutable.Map[Long, mutable.ArrayBuffer[Int]]]
    docs.foreach { case (id, t) =>
      val (_, terms) = TextPipeline.analyze(t.text)
      terms.foreach { case (term, poss) =>
        val byDoc = m.getOrElseUpdate(term, mutable.Map.empty)
        byDoc.getOrElseUpdate(id, mutable.ArrayBuffer.empty) ++= poss
      }
    }
    m.map { case (t, byDoc) =>
      t -> byDoc.map { case (d, ps) => d -> ps.toArray }.toMap
    }.toMap
  }

  val totalDocs: Long = docs.size.toLong
  val avgDocLen: Double =
    if (docs.isEmpty) 0.0 else docLens.values.map(_.toLong).sum.toDouble / totalDocs

  type Dense = Map[Long, Double]

  def calculateBM25(tf: Double, docLen: Double, df: Double): Double = {
    // StrictMath to stay bit-identical with Catalyst's log expression
    val idf = StrictMath.log((totalDocs - df + 0.5) / (df + 0.5) + 1)
    val docNorm = (1 - params.b) + params.b * (docLen / avgDocLen)
    val tfPart = (tf * (params.k1 + 1)) / (tf + params.k1 * docNorm)
    idf * tfPart
  }

  object DenseAlgebra extends ScoreAlgebra[Dense] {
    override def empty: Dense = docLens.map { case (d, _) => d -> 0.0 }

    override def termScore(rawTerm: String): Dense = {
      val key = if (params.stemBareTerms) TextPipeline.term(rawTerm) else rawTerm
      val postings = index.getOrElse(key, Map.empty)
      var maximum = 0.0
      val scores = mutable.Map.empty[Long, Double] ++ empty
      postings.foreach { case (docId, positions) =>
        val s = calculateBM25(positions.length.toDouble, docLens(docId).toDouble,
          postings.size.toDouble)
        maximum = math.max(maximum, s)
        scores(docId) = s
      }
      val out = if (maximum > 0) scores.map { case (d, s) => d -> s / maximum } else scores
      out.toMap
    }

    override def phraseScore(phraseText: String): Dense = {
      val stems = TextPipeline.tokenizeQuery(phraseText)
      val documentsMap: Map[Long, Int] =
        if (stems.isEmpty) Map.empty
        else {
          var meta: Map[Long, Array[Int]] =
            index.getOrElse(stems.head, Map.empty)
          stems.foreach { term =>
            index.getOrElse(term, Map.empty).foreach { case (docId, occ) =>
              val curSet = meta.getOrElse(docId, Array.empty[Int]).toSet
              meta = meta.updated(docId, occ.filter(curSet.contains).map(_ + 1))
            }
          }
          meta.collect { case (d, v) if v.nonEmpty => d -> v.length }
        }
      var maximum = 0.0
      val scores = mutable.Map.empty[Long, Double] ++ empty
      documentsMap.foreach { case (docId, tf) =>
        val s = calculateBM25(tf.toDouble, docLens(docId).toDouble,
          documentsMap.size.toDouble)
        maximum = math.max(maximum, s)
        scores(docId) = s
      }
      val out = if (maximum > 0) scores.map { case (d, s) => d -> s / maximum } else scores
      out.toMap
    }

    override def not(a: Dense): Dense = a.map { case (d, s) => d -> (1 - s) }
    override def and(a: Dense, b: Dense): Dense =
      a.map { case (d, s) => d -> math.min(s, b(d)) }
    override def or(a: Dense, b: Dense): Dense =
      a.map { case (d, s) => d -> math.max(s, b(d)) }
    override def add(a: Dense, b: Dense, wa: Double, wb: Double): Dense =
      a.map { case (d, s) => d -> (wa * s + wb * b(d)) }
    override def normalize(a: Dense): Dense = {
      var max = 0.0
      a.valuesIterator.foreach(v => max = math.max(max, v))
      if (max > 0) a.map { case (d, s) => d -> s / max } else a
    }
  }

  /** Full query: evaluate → accuracy filter → (score desc, docId asc) → k. */
  def search(query: String, accuracy: Double = 0.0, k: Int = 100): Vector[(Long, Double)] = {
    val scores = QueryEvaluator.evaluate(query, DenseAlgebra, params)
    scores.toVector
      .filter(_._2 >= accuracy)
      .sortBy { case (d, s) => (-s, d) }
      .take(k)
  }
}
