package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed end-to-end training-data pipeline: the integration contract
  * over operators that are each individually oracled (q12 quality, q13
  * langId, q26/q28/q36 simhash dedup, q37 split/shard). 37 isolated rows
  * prove the operators; this one plan pins the COLUMN CONTRACTS between
  * them — the thing an integration bug would break first.
  *
  * Plan shape at scale: the feature projection + both filters fuse into
  * ONE codegen'd scan of the corpus (no intermediate materialization);
  * only the survivors are simhashed (one groupBy on Manku keys), clustered
  * (one job per CC iteration), and split-assigned (per-row md5, no
  * shuffle). The final joins are keeper-sized.
  */
object Pipeline {

  /** quality filter → language filter → simhash near-dup dedup (keepers
    * only) → deterministic split/shard. Thresholds are corpus-dependent
    * knobs; the arithmetic of every stage is bit-identical to its
    * standalone operator (same Catalyst expressions). The returned frame
    * is materialized (`materialized`): every cache the call registered is
    * released before it returns.
    *
    * @return (doc_id, n_words, stopword_ratio, cluster_id, n_members,
    *         bucket, split, shard) — one row per surviving keeper.
    */
  def trainingCorpus(
      spark: SparkSession,
      docs: DataFrame,
      minWords: Int = 15,
      langThreshold: Double = 0.02,
      maxBits: Int = 3,
      blocks: Int = 4): DataFrame =
    materialized(trainingCorpusImpl(spark, docs, minWords, langThreshold, maxBits, blocks))

  /** trainingCorpus with deterministic cleanup (round-4 VERDICT item 3):
    * the survivor cache and the connected-components checkpoint are
    * released after `use` returns, so a long-lived session running the
    * pipeline daily accumulates NOTHING per call (spec-pinned no-growth).
    * The result must be fully consumed inside `use` — the clusters frame
    * is checkpoint-backed and not recomputable once released. */
  def trainingCorpusManaged[T](
      spark: SparkSession,
      docs: DataFrame,
      minWords: Int = 15,
      langThreshold: Double = 0.02,
      maxBits: Int = 3,
      blocks: Int = 4)(use: DataFrame => T): T = {
    val (out, release) =
      trainingCorpusImpl(spark, docs, minWords, langThreshold, maxBits, blocks)
    try use(out) finally release()
  }

  /** The FULL hygiene pipeline (trainingCorpus + the round-5 operators):
    * quality → language → repetition filter → benchmark decontamination →
    * simhash near-dup dedup (keepers) → deterministic split/shard, as one
    * plan. All four per-document signals (q12 n_words, q13 stopword_ratio,
    * q47 distinct_ratio / top_bigram_frac) come out of ONE projection over
    * ONE tokenize pass, and the three scalar filters fuse into the same
    * codegen'd scan; decontamination is an anti-join against the
    * (contaminated-doc-sized) flag set computed from the ALREADY-filtered
    * corpus, so only survivors pay the gram explode. The arithmetic of
    * every stage is bit-identical to its standalone operator.
    *
    * The returned frame is materialized (a local checkpoint) and the
    * call's caches are released before it returns, as in trainingCorpus.
    *
    * @return (doc_id, n_words, stopword_ratio, distinct_ratio,
    *         top_bigram_frac, cluster_id, n_members, bucket, split, shard)
    *         — one row per surviving keeper.
    */
  def hygieneCorpus(
      spark: SparkSession,
      docs: DataFrame,
      benchmark: DataFrame,
      minWords: Int = 15,
      langThreshold: Double = 0.02,
      maxTopBigramFrac: Double = 0.1,
      minDistinctRatio: Double = 0.3,
      ngramN: Int = 4,
      maxBits: Int = 3,
      blocks: Int = 4): DataFrame =
    materialized(hygieneCorpusImpl(spark, docs, benchmark, minWords, langThreshold,
      maxTopBigramFrac, minDistinctRatio, ngramN, maxBits, blocks))

  /** An unmanaged call's result: the frame materialized by an eager local
    * checkpoint (its blocks are freed by the ContextCleaner with the
    * frame), then every cache and checkpoint the call registered released,
    * so none outlives the call. */
  private def materialized(run: (DataFrame, () => Unit)): DataFrame = {
    val (out, release) = run
    try out.localCheckpoint(eager = true) finally release()
  }

  /** hygieneCorpus with deterministic cleanup (same contract as
    * trainingCorpusManaged: consume the frame fully inside `use`). */
  def hygieneCorpusManaged[T](
      spark: SparkSession,
      docs: DataFrame,
      benchmark: DataFrame,
      minWords: Int = 15,
      langThreshold: Double = 0.02,
      maxTopBigramFrac: Double = 0.1,
      minDistinctRatio: Double = 0.3,
      ngramN: Int = 4,
      maxBits: Int = 3,
      blocks: Int = 4)(use: DataFrame => T): T = {
    val (out, release) = hygieneCorpusImpl(spark, docs, benchmark, minWords,
      langThreshold, maxTopBigramFrac, minDistinctRatio, ngramN, maxBits, blocks)
    try use(out) finally release()
  }

  private def hygieneCorpusImpl(
      spark: SparkSession,
      docs: DataFrame,
      benchmark: DataFrame,
      minWords: Int,
      langThreshold: Double,
      maxTopBigramFrac: Double,
      minDistinctRatio: Double,
      ngramN: Int,
      maxBits: Int,
      blocks: Int): (DataFrame, () => Unit) = {
    import spark.implicits._
    // one tokenize pass feeds all four signals, now as ONE typed char-scan
    // kernel per row (TextKernel — round-6 port of the interpreted
    // higher-order expressions; VERDICT r5 item 2). The integer counts and
    // IEEE divisions are identical to the standalone operators. NULL-text
    // rows are skipped here exactly as the expression filter dropped them
    // (NULL n_words can never pass `n_words >= minWords`).
    val feat = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val nWords = TextKernel.alnumRunCount(text).toLong
            val s = TextKernel.repSignals(TextKernel.lowerTokens(text), needBigrams = true)
            val n = s.nTokens
            val stopR = if (n > 0) s.hits.toDouble / n.toDouble else 0.0
            val dr = if (n > 0) s.nDistinct.toDouble / n.toDouble else 0.0
            val tbf = if (n > 1) s.topBigram.toDouble / (n - 1).toDouble else 0.0
            Iterator.single((id, text, nWords, stopR, dr, tbf))
          }
        }
      }
      .toDF("doc_id", "text", "n_words", "stopword_ratio",
        "distinct_ratio", "top_bigram_frac")
    val filt = feat.filter(
      $"n_words" >= minWords && $"stopword_ratio" >= langThreshold &&
        !($"top_bigram_frac" > maxTopBigramFrac || $"distinct_ratio" < minDistinctRatio))
    // decontaminate the already-filtered corpus: only survivors pay grams
    val contaminated = TextOps.contamination(
      filt.select($"doc_id", $"text"), benchmark, ngramN).select($"doc_id")
    val surv = filt.join(contaminated, Seq("doc_id"), "left_anti").cache()
    val pairs = Dedup.simHashNearDup(spark, surv, maxBits, blocks)
    val (clusters, releaseClusters) =
      Dedup.dedupClustersImpl(spark, pairs, surv.select($"doc_id"), 30)
    val keepers = Dedup.applyKeepers(spark, surv, clusters)
    val out = keepers
      .join(TextOps.splitAssign(keepers.select($"doc_id")), Seq("doc_id"))
      .join(surv.select($"doc_id", $"n_words", $"stopword_ratio",
        $"distinct_ratio", $"top_bigram_frac"), Seq("doc_id"))
      .select($"doc_id", $"n_words", $"stopword_ratio", $"distinct_ratio",
        $"top_bigram_frac", $"cluster_id", $"n_members", $"bucket",
        $"split", $"shard")
      .orderBy($"doc_id")
    (out, () => { surv.unpersist(false); releaseClusters() })
  }

  private def trainingCorpusImpl(
      spark: SparkSession,
      docs: DataFrame,
      minWords: Int,
      langThreshold: Double,
      maxBits: Int,
      blocks: Int): (DataFrame, () => Unit) = {
    import spark.implicits._
    // q12's n_words and q13's stopword_ratio from one typed char-scan pass
    // (TextKernel — identical counts/IEEE to the standalone operators);
    // NULL-text rows skipped exactly as the filter dropped them
    val feat = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val nWords = TextKernel.alnumRunCount(text).toLong
            val toks = TextKernel.lowerTokens(text)
            val stopR =
              if (toks.length > 0)
                TextKernel.stopHits(toks).toDouble / toks.length.toDouble
              else 0.0
            Iterator.single((id, text, nWords, stopR))
          }
        }
      }
      .toDF("doc_id", "text", "n_words", "stopword_ratio")
    val surv = feat
      .filter($"n_words" >= minWords && $"stopword_ratio" >= langThreshold)
      .cache() // read by simhash, the CC node universe, and the final join
    val pairs = Dedup.simHashNearDup(spark, surv, maxBits, blocks)
    val (clusters, releaseClusters) =
      Dedup.dedupClustersImpl(spark, pairs, surv.select($"doc_id"), 30)
    val keepers = Dedup.applyKeepers(spark, surv, clusters)
    val out = keepers
      .join(TextOps.splitAssign(keepers.select($"doc_id")), Seq("doc_id"))
      .join(surv.select($"doc_id", $"n_words", $"stopword_ratio"), Seq("doc_id"))
      .select($"doc_id", $"n_words", $"stopword_ratio", $"cluster_id",
        $"n_members", $"bucket", $"split", $"shard")
      .orderBy($"doc_id")
    (out, () => { surv.unpersist(false); releaseClusters() })
  }
}
