package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.{Dedup, IndexStore}

/** Structured-Streaming near-dup GATE — the streaming composition of the
  * persisted MinHash index (q38): every micro-batch of documents is
  * deduplicated against the whole indexed corpus (and within itself)
  * WITHOUT re-signing the corpus, survivors flow to the sink, and the
  * survivors' signatures are appended so every later batch dedups
  * against them too. This is the shape a continuous training-data
  * ingest runs: the corpus-side cost of each batch is a Bloom-prefiltered
  * banding-row join, never a corpus scan.
  *
  * Contract: doc_ids must be unique and monotone across batches (later
  * batches carry larger ids — the same disjointness the ANN appends
  * require); the kept document of a near-dup pair is the LOWER id, so an
  * arriving duplicate can never evict an already-ingested document.
  *
  * Idempotency: a batch's survivor append and its ledger row (a lineage
  * row of stage `stream_batch/<runId>`, partition = batchId) are ONE
  * commit of the index's log, so a replayed batch (foreachBatch is
  * at-least-once) sees the row and recomputes the same survivors without
  * re-appending, and a crash leaves either both or neither. The run
  * identity is derived from the checkpoint location (round-4 ADVICE):
  * Structured Streaming batchIds restart at 0 for every new checkpoint,
  * so a fresh-checkpoint restart against an existing index must see its
  * early batches as NEW work, never as silent replays of a previous
  * stream's batches. A replay also excludes the batch's own appended
  * copies before the size gate and the estimate
  * (Dedup.minHashDedupBatch), so its survivors equal the first run's.
  */
object StreamingDedup {

  private def ledgerStage(runId: String) =
    if (runId.isEmpty) "stream_batch" else s"stream_batch/$runId"

  /** Stable run identity of a checkpoint location (same checkpoint →
    * same ledger keys across restarts; new checkpoint → fresh keys). */
  def runIdOf(checkpoint: String): String =
    java.util.UUID.nameUUIDFromBytes(
      checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .toString.take(8)

  /** Dedup ONE batch against the index (and itself) and grow the index
    * with the survivors' signatures; idempotent per (runId, batchId).
    * Exposed so tests (and batch pipelines) can drive it without a
    * streaming query: `dedupBatchManaged` collecting the survivors into a
    * local frame, so no per-batch cache outlives the call.
    *
    * @return the surviving documents of `batch` (same schema)
    */
  def dedupBatch(
      spark: SparkSession,
      indexPath: String,
      batch: DataFrame,
      batchId: Long,
      threshold: Double = 0.5,
      maxBucket: Int = 100000,
      runId: String = ""): DataFrame =
    dedupBatchManaged(spark, indexPath, batch, batchId, threshold, maxBucket, runId)(Dedup.local)

  /** The batch step with deterministic cleanup: the batch's dedup caches (and
    * the survivor cache the append + sink share) are unpersisted after
    * `use` returns — the per-micro-batch contract of a continuous ingest.
    * `use` must fully consume the survivors. */
  def dedupBatchManaged[T](
      spark: SparkSession,
      indexPath: String,
      batch: DataFrame,
      batchId: Long,
      threshold: Double = 0.5,
      maxBucket: Int = 100000,
      runId: String = "")(use: DataFrame => T): T = {
    val idx = IndexStore.open(spark, indexPath)
    val (pairs, caches) = Dedup.minHashDedupBatchImpl(spark, idx, batch, threshold, maxBucket)
    // cached: the append pass materializes it, the sink re-reads it
    val survivors = batch.join(losersOf(pairs), Seq("doc_id"), "left_anti").cache()
    try {
      commit(idx, survivors, runId, batchId)
      use(survivors)
    } finally { (survivors +: caches).foreach(_.unpersist(false)) }
  }

  /** Keep the lower id of every near-dup pair: the LARGER ids lose. The
    * self-pair filter covers legacy indexes whose replayed batch copies
    * were not excluded at compute time (a doc meeting its own copy). */
  private def losersOf(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs
      .filter($"doc_a" =!= $"doc_b")
      .select(greatest($"doc_a", $"doc_b").as("doc_id"))
      .distinct()
  }

  /** Append the survivors with the batch's ledger row, unless the index
    * version the batch was deduplicated against already holds that row. */
  private def commit(idx: IndexStore, survivors: DataFrame, runId: String, batchId: Long): Unit =
    if (!idx.snap.committed(ledgerStage(runId), batchId))
      Dedup.appendMinHash(idx, survivors, Some(ledgerStage(runId) -> batchId))

  /** Streaming entry point: `docsStream` rows are (doc_id, text, ...);
    * `sink(survivors, batchId)` receives each batch's deduplicated
    * documents (exactly-once per the run-keyed ledger above; per-batch
    * caches released after the sink returns). */
  def start(
      docsStream: DataFrame,
      indexPath: String,
      checkpoint: String,
      threshold: Double = 0.5,
      maxBucket: Int = 100000,
      trigger: Trigger = Trigger.ProcessingTime(1000))(
      sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val runId = runIdOf(checkpoint)
    docsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          dedupBatchManaged(batch.sparkSession, indexPath, batch, batchId,
            threshold, maxBucket, runId)(sink(_, batchId))
      }
      .start()
  }
}
