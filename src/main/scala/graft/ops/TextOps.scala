package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, all
  * pure Catalyst column expressions (codegen'd, no UDF in the scan path).
  * Each has a DuckDB-expressible twin in SparkEntry.oracleSql.
  */
object TextOps {

  /** Whitespace token count + word-ish token count (BPE-ish regex runs).
    * One typed char-scan pass per row (TextKernel) — the values are the
    * exact `size(split(text," ",-1))` / `size(regexp_extract_all(...))` /
    * `length(text)` integers of the round-5 expression version. */
  def tokenCounts(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          if (text == null)
            (id, None: Option[Int], None: Option[Int], None: Option[Int])
          else {
            var sp = 0
            var i = 0
            while (i < text.length) { if (text.charAt(i) == ' ') sp += 1; i += 1 }
            (id, Some(sp + 1), Some(TextKernel.alnumRunCount(text)),
              Some(text.codePointCount(0, text.length)))
          }
        }
      }
      .toDF("doc_id", "ws_tokens", "word_tokens", "n_chars_computed")
      .orderBy(col("doc_id"))
  }

  /** Quality signals: length, word count, punctuation / digit / upper
    * ratios, mean word length — the usual pre-training quality features.
    * ONE char scan per row (TextKernel.qualitySignals) instead of the
    * round-5 four regex passes; integer counts and IEEE divisions are
    * identical to the expression version (and the q12 oracle). */
  def qualityScore(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          if (text == null)
            (id, None: Option[Long], None: Option[Long], 0.0, 0.0, 0.0, 0.0)
          else {
            val q = TextKernel.qualitySignals(text)
            val len = q.nChars.toDouble
            val words = q.nWords.toDouble
            (id, Some(q.nChars.toLong), Some(q.nWords.toLong),
              if (len > 0) q.punct / len else 0.0,
              if (len > 0) q.digits / len else 0.0,
              if (len > 0) q.uppers / len else 0.0,
              if (words > 0) len / words else 0.0)
          }
        }
      }
      .toDF("doc_id", "n_chars", "n_words", "punct_ratio", "digit_ratio",
        "upper_ratio", "chars_per_word")
      .orderBy(col("doc_id"))
  }

  private[ops] val StopWords = Seq("the", "and", "of", "to", "in", "is", "it",
    "that", "for", "was", "with", "are", "this", "you")

  /** Language-ID heuristic: English stop-word hit ratio over word tokens.
    * A real pipeline would use char-n-gram profiles; the heuristic is the
    * n-gram-free SQL-expressible baseline. Round 6: the tokenize + array
    * `filter`/`array_contains` pass (the array filter is an interpreted
    * higher-order expression) is now ONE typed char-scan + hash-set probe
    * per row (TextKernel) with the identical hit/word counts and ratio. */
  def langId(docs: DataFrame, threshold: Double = 0.08): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val ratio =
            if (text == null) 0.0
            else {
              val toks = TextKernel.lowerTokens(text)
              if (toks.length > 0)
                TextKernel.stopHits(toks).toDouble / toks.length.toDouble
              else 0.0
            }
          (id, ratio, if (ratio >= threshold) "en" else "unknown")
        }
      }
      .toDF("doc_id", "stopword_ratio", "lang_pred")
      .orderBy(col("doc_id"))
  }

  /** Document fingerprint: md5 over the sorted distinct lowercase word set
    * — an order-insensitive content fingerprint for near-dup bucketing.
    * Round 6: `array_distinct`/`array_sort` are interpreted expressions —
    * ported to the typed kernel with the identical value chain: distinct
    * tokens, sorted in `array_sort`'s UTF8String BINARY order (unsigned
    * byte comparison — TextKernel.utf8Compare; equal to String.compareTo
    * on ASCII), space-joined, md5-hex. NULL/empty text folds to md5("")
    * exactly as `concat_ws` (never-null) did. */
  def fingerprint(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, text) =>
          val toks: Array[String] =
            if (text == null) Array.empty else TextKernel.lowerTokens(text)
          val distinct = new java.util.LinkedHashSet[String]()
          toks.foreach(distinct.add)
          val arr = distinct.toArray(new Array[String](distinct.size))
          java.util.Arrays.sort(arr, TextKernel.utf8Compare)
          val joined = arr.mkString(" ")
          md.reset()
          val d = md.digest(joined.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          val sb = new java.lang.StringBuilder(32)
          d.foreach { b =>
            sb.append(Character.forDigit((b >> 4) & 0xf, 16))
            sb.append(Character.forDigit(b & 0xf, 16))
          }
          (id, sb.toString)
        }
      }
      .toDF("doc_id", "fingerprint")
      .orderBy(col("doc_id"))
  }

  /** Deterministic train/val/test split + shard assignment — the step a
    * training pipeline ends with. The bucket is a salt-keyed md5 of the
    * doc id (15 hex chars = 60 bits, always positive), so the split is
    * stable under reruns, subsets, and incremental appends: a document's
    * split NEVER depends on what else is in the corpus. The shard uses an
    * independent salt so shards are uncorrelated with splits. Pure
    * Catalyst (codegen'd md5), no shuffle — per-row arithmetic only;
    * writers can `partitionBy("split", "shard")` downstream. */
  def splitAssign(
      docs: DataFrame,
      trainPerMille: Int = 900,
      valPerMille: Int = 50,
      nShards: Int = 8,
      salt: String = "graft"): DataFrame = {
    def h(tag: String): Column =
      conv(substring(md5(concat_ws(":", lit(salt), lit(tag),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    docs.select(col("doc_id"), (h("split") % 1000).cast("int").as("bucket"))
      .select(
        col("doc_id"),
        col("bucket"),
        when(col("bucket") < trainPerMille, lit("train"))
          .when(col("bucket") < trainPerMille + valPerMille, lit("val"))
          .otherwise(lit("test")).as("split"))
      .withColumn("shard", (h("shard") % nShards).cast("int"))
      .orderBy(col("doc_id"))
  }

  /** Distinct lowercase token n-grams of `textCol` (space-joined), the unit
    * of benchmark-decontamination overlap. Documents shorter than n tokens
    * contribute their whole token sequence as one gram (so short benchmark
    * items still participate); empty documents contribute nothing. */
  private[ops] def tokenNgrams(textCol: Column, n: Int): Column = {
    val toks = regexp_extract_all(lower(textCol), lit("[a-z0-9]+"), lit(0))
    when(size(toks) === 0, array().cast("array<string>"))
      .when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n))))))
  }

  /** Benchmark decontamination: flag corpus documents that share any token
    * n-gram with a benchmark (held-out eval) set — the standard pre-training
    * hygiene step (GPT-3-style 8..13-gram overlap). Returns one row per
    * contaminated corpus document: `(doc_id, n_shared)` where `n_shared` is
    * the number of DISTINCT n-grams of the document that occur anywhere in
    * the benchmark.
    *
    * Scale shape: benchmark n-grams are distinct'd and BROADCAST (eval sets
    * are small by nature — millions of grams, not billions), so the corpus
    * side is ONE linear codegen'd pass (tokenize → gram transform → explode
    * → broadcast hash semi-probe) with a map-side-combined count; no
    * corpus-sized shuffle, no benchmark re-scan per partition. At 100 TB the
    * cost is the document scan itself. */
  def contamination(corpus: DataFrame, benchmark: DataFrame, n: Int = 8): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    val spark = corpus.sparkSession
    import spark.implicits._
    // Round 6: the benchmark gram set is collected ONCE into a driver-side
    // hash set and broadcast (same small-eval-set size contract the
    // broadcast hash join relied on), and the corpus side probes it inside
    // the SAME typed pass that builds the grams — the per-doc n_shared
    // count never leaves its row. This deletes the corpus-side explode,
    // the broadcast join AND the groupBy shuffle of the round-5 plan
    // (guide §2.4 "remove shuffles outright" / §2.3 "shuffle keys, not
    // payloads" — here: shuffle nothing), and replaces the interpreted
    // gram `transform` with a char-scan kernel. Counts are identical:
    // per-doc DISTINCT grams probed against the distinct benchmark grams.
    // Grams repeated across a partition's docs are dropped before the
    // collect, so the driver receives ≤ one copy per partition.
    val grams = benchmark.select(col("text")).as[String]
      .mapPartitions { it =>
        import scala.jdk.CollectionConverters._
        val seen = new java.util.HashSet[String]()
        it.flatMap(t => TextKernel.distinctGrams(t, n).asScala.filter(seen.add))
      }.collect()
    val set = new java.util.HashSet[String](math.max(grams.length * 2, 16))
    grams.foreach(set.add)
    val bg = spark.sparkContext.broadcast(set)
    corpus.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val s = bg.value
        it.flatMap { case (id, text) =>
          val gs = TextKernel.distinctGrams(text, n)
          var c = 0L
          var i = 0
          while (i < gs.size()) { if (s.contains(gs.get(i))) c += 1; i += 1 }
          if (c > 0) Iterator.single((id, c)) else Iterator.empty
        }
      }
      .toDF("doc_id", "n_shared")
      .orderBy(col("doc_id"))
  }

  /** Largest multiplicity of any element in `arr`: sort the array in-row,
    * then fold the longest equal-run. O(d log d) per row, shuffle-free —
    * the per-document statistic never leaves its row, so the operator
    * scales as a pure map over the corpus (vs the naive explode → groupBy
    * (doc, gram) → max(doc) double shuffle). */
  private[ops] def maxMultiplicity(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Gopher-style repetition filter: per-document repetition signals over
    * word tokens — type/token ratio, most-frequent-token fraction,
    * most-frequent-bigram fraction — and a keep/drop verdict. (The
    * line-based Gopher rules degrade to these on single-line documents.)
    * All in-row Catalyst (one tokenize pass, sorted-run folds), no shuffle:
    * at 100 TB this is a pure map stage a writer can fuse with quality /
    * langId filters (cf. Pipeline.trainingCorpus). */
  def repetitionFilter(
      docs: DataFrame,
      maxTopBigramFrac: Double = 0.1,
      minDistinctRatio: Double = 0.3): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          if (text == null) {
            // expression behavior on NULL text: n_tokens NULL, every
            // ratio's `when` falls to the 0.0 else-branch, verdict from
            // the zero ratios — replicated exactly
            val verdict =
              if (0.0 > maxTopBigramFrac || 0.0 < minDistinctRatio) "repetitive" else "ok"
            (id, None: Option[Long], 0.0, 0.0, 0.0, verdict)
          } else {
            val s = TextKernel.repSignals(TextKernel.lowerTokens(text), needBigrams = true)
            val n = s.nTokens
            val dr = if (n > 0) s.nDistinct.toDouble / n.toDouble else 0.0
            val ttf = if (n > 0) s.topTok.toDouble / n.toDouble else 0.0
            val tbf = if (n > 1) s.topBigram.toDouble / (n - 1).toDouble else 0.0
            val verdict =
              if (tbf > maxTopBigramFrac || dr < minDistinctRatio) "repetitive" else "ok"
            (id, Some(n.toLong), dr, ttf, tbf, verdict)
          }
        }
      }
      .toDF("doc_id", "n_tokens", "distinct_ratio", "top_token_frac",
        "top_bigram_frac", "verdict")
      .orderBy(col("doc_id"))
  }

  /** Rolling polynomial hash (Rabin-Karp style) over word tokens — the
    * positional fingerprint (not SQL-expressible; ScalaTest-verified). */
  def rollingHash(tokens: Seq[String], window: Int = 8): Seq[Long] = {
    val B = 1000000007L
    val hashes = tokens.map(t => t.hashCode.toLong & 0x7fffffffL)
    if (hashes.length < window) {
      if (hashes.isEmpty) Seq.empty
      else Seq(hashes.foldLeft(0L)((acc, h) => (acc * B + h) & 0x7fffffffffffffL))
    } else hashes.sliding(window).map(
      _.foldLeft(0L)((acc, h) => (acc * B + h) & 0x7fffffffffffffL)).toSeq
  }
}
