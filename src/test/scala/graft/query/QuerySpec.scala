package graft.query

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftParams
import graft.api.PhraseMatch
import graft.corpus.TranscriptGen
import graft.oracle.RefOracle
import graft.query.QueryLexer._

class QueryLexerSpec extends AnyFunSuite {
  test("reference lexer quirks") {
    assert(lex("cat dog") == Vector(QTerm("cat"), QTerm("dog")))
    assert(lex("\"blue whale\"") == Vector(QPhrase("blue whale")))
    assert(lex("\"\"blue whale\"\"") == Vector(QPhrase("blue whale")))
    // ordered alternation: AND matches inside a word
    assert(lex("android") == Vector(QOp("and"), QTerm("roid"))) // matched text keeps case
    // greedy term class eats a trailing ')' — a close-bracket only lexes
    // as an operator after whitespace or a quote (same in the reference)
    assert(lex("a AND b or NOT (c)") == Vector(QTerm("a"), QOp("AND"),
      QTerm("b"), QOp("or"), QOp("NOT"), QOp("("), QTerm("c)")))
    assert(lex("(\"x\" AND \"y\")") == Vector(QOp("("), QPhrase("x"),
      QOp("AND"), QPhrase("y"), QOp(")")))
    assert(lex("") == Vector())
    assert(opCode("And") == AND && opCode("OR") == OR && opCode("not") == NOT)
    assert(opCode("!") == OTHER && opCode("(") == OPEN && opCode(")") == CLOSE)
  }

  test("snippet weights: +1 positive, -5 after NOT, bracket group marking") {
    val w = QueryEvaluator.wordsAndPhrasesWeights(
      "\"blue whale\" good NOT \"red fish\" NOT (x \"y z\") tail")
    assert(w("blue whale") == 1)
    assert(w("good") == 1)
    assert(w("red fish") == -5)
    assert(w("x") == -5 && w("y z") == -5)
    assert(w("tail") == 1)
  }
}

class PhraseMatchSpec extends AnyFunSuite {
  test("consecutive positions match; order matters; repeats need adjacency") {
    val doc = Map("blue" -> Seq(3, 10), "whale" -> Seq(4, 20))
    assert(PhraseMatch.phraseTf(Seq("blue", "whale"), doc) == 1)
    assert(PhraseMatch.phraseTf(Seq("whale", "blue"), doc) == 0)
    assert(PhraseMatch.phraseTf(Seq("blue", "blue"), Map("blue" -> Seq(5, 6, 9))) == 1)
    assert(PhraseMatch.phraseTf(Seq("a", "b", "c"),
      Map("a" -> Seq(0), "b" -> Seq(1), "c" -> Seq(2))) == 1)
  }

  test("the reference's stale-postings quirk: a doc with only a prefix still matches") {
    // doc has 'blue' but no 'whale': meta keeps blue's advanced positions
    assert(PhraseMatch.phraseTf(Seq("blue", "whale"), Map("blue" -> Seq(3, 7))) == 2)
    // doc with only the second term never matches
    assert(PhraseMatch.phraseTf(Seq("blue", "whale"), Map("whale" -> Seq(3))) == 0)
  }
}

class SnippeterSpec extends AnyFunSuite {
  test("docPositions: duplicates kept, later keys overwrite") {
    val dp = Snippeter.docPositions("blue whale blue", Seq("blue", "whale", "blue"))
    assert(dp.positions == Vector(0, 0, 1, 2, 2)) // 'blue' inserted twice
    assert(dp.positionToKey(0) == "blue" && dp.positionToKey(1) == "whale")
  }

  test("bestWindow maximizes weight; all-zero weights give (0,0)") {
    val dp = Snippeter.DocPositions(Vector(1, 5, 50, 51, 52),
      Map(1 -> "a", 5 -> "a", 50 -> "b", 51 -> "b", 52 -> "b"))
    assert(Snippeter.bestWindow(dp, Map("a" -> 1, "b" -> 1)) == (0, 4))
    // NOT'd 'a': skip to the b-cluster
    assert(Snippeter.bestWindow(dp, Map("a" -> -5, "b" -> 1)) == (2, 4))
    assert(Snippeter.bestWindow(dp, Map.empty) == (0, 0))
  }

  test("construct wraps matches in span and expands to 40 tokens") {
    val tokens = (0 until 60).map(i => s"t$i").toArray
    val dp = Snippeter.DocPositions(Vector(2, 3), Map(2 -> "x", 3 -> "x"))
    val s = Snippeter.construct(dp, tokens, (0, 1))
    // the reference emits the separator space before closing the span
    assert(s.contains("<span>t2 t3 </span>t4"))
    assert(s.split(" ").length == 41) // 40-token window expansion
    assert(s.startsWith("t0 t1 <span>"))
  }

  test("snippet end-to-end highlights the stem positions") {
    val s = Snippeter.snippet("The running whale swims", Seq("run", "whale"),
      Map("run" -> 1, "whale" -> 1))
    assert(s == "The <span>running whale </span>swims")
  }
}

/** Score-algebra properties on the oracle (FIXTURES.md §5.2 item 3). */
class AlgebraPropertySpec extends AnyFunSuite {
  private val oracle = new RefOracle(TranscriptGen.generateLocal(15))
  private val alg = oracle.DenseAlgebra
  private val rnd = new scala.util.Random(11)
  private val vocab = oracle.index.keys.toVector

  private def randomScores() = {
    val base = vocab(rnd.nextInt(vocab.size))
    alg.termScore(base)
  }

  test("normalize ∈ [0,1]; AND ≤ both; OR ≥ both; NOT = 1−s; BM25 monotone in tf") {
    for (_ <- 1 to 25) {
      val a = randomScores(); val b = randomScores()
      val n = alg.normalize(a)
      assert(n.values.forall(v => v >= 0.0 && v <= 1.0))
      val andAB = alg.and(a, b); val orAB = alg.or(a, b)
      a.keys.foreach { d =>
        assert(andAB(d) <= a(d) + 1e-15 && andAB(d) <= b(d) + 1e-15)
        assert(orAB(d) + 1e-15 >= a(d) && orAB(d) + 1e-15 >= b(d))
        assert(math.abs(alg.not(a)(d) - (1 - a(d))) == 0.0)
      }
      // commutativity of min/max
      assert(alg.and(a, b) == alg.and(b, a))
      assert(alg.or(a, b) == alg.or(b, a))
    }
    // BM25 monotone in tf, anti-monotone in doc length
    val s1 = oracle.calculateBM25(1, 50, 10)
    val s2 = oracle.calculateBM25(2, 50, 10)
    val s3 = oracle.calculateBM25(2, 100, 10)
    assert(s2 > s1 && s3 < s2)
  }
}
