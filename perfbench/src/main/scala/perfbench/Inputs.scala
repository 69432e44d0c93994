package perfbench

import scala.util.Random

/** Seeded workload inputs. Everything a run feeds the program is derived
  * from the `--seed` argument here: corpus generator seed, query lists,
  * churn batches and deleted ids. The same seed gives the same inputs. */
object Inputs {

  /** Query shapes of the request mixes. */
  val Shapes: Seq[String] = Seq("term", "phrase", "boolean", "mixed")

  final case class Query(text: String, shape: String)

  // Head words of the generated corpus. Bare query terms are looked up
  // raw (GraftParams.stemBareTerms = false), so inflected forms such as
  // "running" or "engines" match nothing: those are the empty queries.
  private val headTerms = Vector(
    "whale", "blue", "red", "fish", "run", "runs", "running", "queri", "query",
    "engine", "index", "search", "data", "spark", "cluster", "partit", "token",
    "score", "fast", "nation", "connect", "happi", "sad", "generat", "alpha",
    "beta", "gamma", "delta", "epsilon", "tool", "call", "result", "error",
    "user", "assist", "agent", "model", "long", "short", "big", "small",
    "larg", "time", "day", "week", "code", "test", "engines", "searching")

  private val phraseWords = Vector(
    "blue whale", "query engine", "red fish", "a b c", "x y", "blue blue",
    "fast engine", "search index", "tool call", "red whale", "data spark",
    "agent model", "whale fish", "blue fish", "code test")

  /** Zipf(s = 1.1) rank sampler over `n` items. */
  private final class Zipf(n: Int, rnd: Random) {
    private val cdf = {
      val w = (1 to n).map(r => 1.0 / math.pow(r.toDouble, 1.1))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Ranked term vocabulary: head words interleaved with a seeded sample of
    * the generator's `tok*` long tail, so Zipf ranks mix both. */
  private def termVocab(rnd: Random): Vector[String] = {
    val tail = Vector.fill(120)("tok" + math.exp(rnd.nextDouble() * 10.82).toLong)
    rnd.shuffle(headTerms ++ tail).distinct
  }

  /** Even variants quote a planted phrase, odd ones a Zipf pair. */
  private def phrase(variant: Int, rnd: Random, z: Zipf, vocab: Vector[String]): String =
    if (variant % 2 == 1) "\"" + vocab(z.next()) + " " + vocab(z.next()) + "\""
    else "\"" + phraseWords(rnd.nextInt(phraseWords.size)) + "\""

  /** A query of the given shape. `variant` fixes its structure (which
    * boolean template, planted or drawn phrase), so a run's mix of query
    * structures, and with it most of its cost, is the same for every
    * seed; the seed only draws the operands. */
  private def ofShape(shape: String, variant: Int, rnd: Random, z: Zipf, vocab: Vector[String]): Query = {
    def p = phrase(variant, rnd, z, vocab)
    def t = vocab(z.next())
    val text = shape match {
      case "term" => t
      case "phrase" => p
      case "boolean" => variant % 4 match {
        case 0 => s"$p AND $p"
        case 1 => s"($p OR $p) NOT $p"
        case 2 => s"$p OR $p"
        case _ => s"$p NOT $p"
      }
      case _ => s"$p $t $t"
    }
    Query(text, shape)
  }

  /** Exact shape counts for `n` queries at 60/25/10/5 % (term / phrase /
    * boolean / mixed), rounded, so every seed has the same mix. */
  private def shapeCounts(n: Int): Seq[(String, Int)] = {
    val p = math.round(n * 0.25).toInt
    val b = math.round(n * 0.10).toInt
    val m = math.round(n * 0.05).toInt
    Seq("term" -> (n - p - b - m), "phrase" -> p, "boolean" -> b, "mixed" -> m)
  }

  /** Fixed lists for closed-loop clients, four requests each: two terms,
    * a phrase and, cycling over the clients, a term, two booleans and a
    * mixed query, so every four clients send 9 terms, 4 phrases, 2
    * boolean and 1 mixed (about 60/25/10/5 %). Operands are Zipf draws,
    * so popular requests repeat. */
  def clientLists(seed: Long, clients: Int): Vector[Vector[Query]] = {
    val rnd = new Random(seed * 1000003L + 100)
    val vocab = termVocab(new Random(seed))
    val z = new Zipf(vocab.size, rnd)
    val extra = Vector("term", "boolean", "boolean", "mixed")
    val variants = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    Vector.tabulate(clients) { c =>
      Vector("term", "phrase", "term", extra(c % extra.size)).map { shape =>
        val v = variants(shape); variants(shape) = v + 1
        ofShape(shape, v, rnd, z, vocab)
      }
    }
  }

  /** `n` distinct seeded queries in the 60/25/10/5 % shape mix. */
  def distinctQueries(seed: Long, salt: Int, n: Int): Vector[Query] =
    distinctOfShapes(seed, salt, shapeCounts(n))

  /** Distinct seeded queries, `count` of each given shape; the i-th query
    * of a shape takes structure variant `firstVariant + i`. */
  def distinctOfShapes(seed: Long, salt: Int, counts: Seq[(String, Int)],
      firstVariant: Int = 0): Vector[Query] = {
    val rnd = new Random(seed * 1000003L + salt)
    val vocab = termVocab(new Random(seed))
    val z = new Zipf(vocab.size, rnd)
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Query]
    counts.foreach { case (shape, c) =>
      var got = 0; var tries = 0
      while (got < c && tries < 100000) {
        val q = ofShape(shape, firstVariant + got, rnd, z, vocab)
        if (!seen.contains(q.text)) { seen(q.text) = q; got += 1 }
        tries += 1
      }
    }
    rnd.shuffle(seen.values.toVector)
  }

  /** Seeded sample of `n` distinct values from [0, bound), excluding `taken`. */
  def sampleIds(rnd: Random, bound: Long, n: Int, taken: collection.Set[Long]): Vector[Long] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (out.size < n) {
      val id = (rnd.nextDouble() * bound).toLong
      if (!taken.contains(id)) out += id
    }
    out.toVector
  }
}
