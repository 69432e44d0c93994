package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming events: watermark + tumbling window vs the identical batch
  * aggregation on the same rows, and stateful per-user sessions. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = graft.EngineSpecFixture.spark

  private def rows = {
    val base = 1735689600000L // 2025-01-01T00:00Z
    (0 until 500).map { i =>
      EventAggregates.EventRow(i.toLong, new Timestamp(base + i * 37000L),
        (i % 7).toLong, if (i % 3 == 0) "click" else "view", i * 0.5)
    }
  }

  test("watermarked windowed counts equal the batch aggregation") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[EventAggregates.EventRow]
    val q = EventAggregates.windowedCounts(stream.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // two micro-batches + a final far-future row to advance the watermark
      val (a, b) = rows.splitAt(250)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      stream.addData(Seq(EventAggregates.EventRow(9999L,
        new Timestamp(1735689600000L + 86400000L), 0L, "view", 0.0)))
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .filter($"bucket" < new Timestamp(1735689600000L + 86000000L))
        .as[(Timestamp, String, Long, Long)].collect().toSet
      val batch = EventAggregates.windowedCounts(spark.createDataset(rows).toDF())
        .as[(Timestamp, String, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stateful user sessions accumulate across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val stream = MemoryStream[EventAggregates.EventRow]
    val q = EventAggregates.userSessions(stream.toDS())
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Update()).start()
    try {
      val (a, b) = rows.splitAt(250)
      stream.addData(a); q.processAllAvailable()
      stream.addData(b); q.processAllAvailable()
      // latest state per user must equal the batch totals
      val latest = spark.table("sess_out")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).map { case (u, vs) => u -> vs.maxBy(_._2) }
      val expected = rows.groupBy(_.user_id).map { case (u, rs) =>
        u -> ((u, rs.size.toLong, rs.map(_.value).sum)) }
      assert(latest.keySet == expected.keySet)
      expected.foreach { case (u, (_, n, total)) =>
        val (_, gn, gt) = latest(u)
        assert(gn == n && math.abs(gt - total) < 1e-9, s"user $u")
      }
    } finally q.stop()
  }

  test("streaming dedup gate: batches dedup against the growing index, idempotent per batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import graft.build.Tables
    import graft.ops.{Dedup, IndexStore}
    // the whole gate on both sides of every dedup size gate: a fresh index
    // per run, the same survivors batch for batch
    graft.ops.GateSides.both {
      val idx = java.nio.file.Files.createTempDirectory("stream_mh_").toString
      val docs = spark.read.parquet(s"${graft.ops.OpsFixture.sfDir}/documents.parquet")
        .select("doc_id", "text").filter($"doc_id" < 40)
      Dedup.buildMinHashIndex(spark, docs, idx)
      val texts = docs.as[(Long, String)].collect().toMap
      def sigRows() = IndexStore.open(spark, idx).read(Tables.MinHashSigs).count()

      // batch: one exact dup of a corpus doc, one fresh doc → dup dropped
      val fresh1 = "totally original content about streaming dedup gates number one"
      val b1 = spark.createDataset(Seq((1000L, texts(0L)), (1001L, fresh1)))
        .toDF("doc_id", "text")
      val s1 = StreamingDedup.dedupBatch(spark, idx, b1, 100L)
        .as[(Long, String)].collect().map(_._1).toSet
      assert(s1 == Set(1001L))

      // next batch: a dup of the PREVIOUS batch's survivor (only findable
      // because its signatures were appended) + a fresh doc
      val b2 = spark.createDataset(Seq(
          (2000L, fresh1),
          (2001L, "another entirely different document unlike all the rest two")))
        .toDF("doc_id", "text")
      val s2 = StreamingDedup.dedupBatch(spark, idx, b2, 101L)
        .as[(Long, String)].collect().map(_._1).toSet
      assert(s2 == Set(2001L), "dup of an appended survivor must be dropped")

      // replay of the same batchId: identical survivors, NO double-append
      val sigCount = sigRows()
      val s2r = StreamingDedup.dedupBatch(spark, idx, b2, 101L)
        .as[(Long, String)].collect().map(_._1).toSet
      assert(s2r == s2)
      assert(sigRows() == sigCount,
        "replayed batch must not re-append signatures")

      // a NEW run (fresh checkpoint → batchIds restart at 0) against the
      // same index must treat its batch 0 as new work, not a replay of the
      // old stream's batch 0 — the ledger is keyed by (runId, batchId)
      val b3 = spark.createDataset(Seq(
          (4000L, fresh1), // dup of an indexed survivor: must still be caught
          (4001L, "a brand new document arriving on the second stream run four")))
        .toDF("doc_id", "text")
      val preRun2 = sigRows()
      val s3 = StreamingDedup.dedupBatch(spark, idx, b3, 101L, runId = "run2")
        .as[(Long, String)].collect().map(_._1).toSet
      assert(s3 == Set(4001L))
      assert(sigRows() == preRun2 + 1,
        "fresh-run batch with a committed old-run batchId must append its survivor")
      // and a replay WITHIN the new run is still idempotent
      val s3r = StreamingDedup.dedupBatch(spark, idx, b3, 101L, runId = "run2")
        .as[(Long, String)].collect().map(_._1).toSet
      assert(s3r == s3)
      assert(sigRows() == preRun2 + 1)

      // the managed variant: same survivors, no cache growth per batch
      def persisted = spark.sparkContext.getPersistentRDDs.size
      StreamingDedup.dedupBatchManaged(spark, idx, b3, 101L, runId = "run2")(
        _.count())
      val base = persisted
      (1 to 3).foreach { _ =>
        val ids = StreamingDedup.dedupBatchManaged(spark, idx, b3, 101L, runId = "run2")(
          _.as[(Long, String)].collect().map(_._1).toSet)
        assert(ids == s3)
      }
      assert(persisted <= base, s"per-batch caches grew: $base -> $persisted")

      // compaction between batches: the gate keeps working on the compacted
      // index — dups of earlier survivors are still caught, fresh docs pass
      IndexStore.compact(spark, idx)
      val b5 = spark.createDataset(Seq(
          (5000L, texts(2L)), // dup of an original corpus doc
          (5001L, fresh1), // dup of batch 1's survivor (post-compact lookup)
          (5002L, "wholly novel post compaction document number five")))
        .toDF("doc_id", "text")
      val s5 = StreamingDedup.dedupBatch(spark, idx, b5, 102L, runId = "run2")
        .as[(Long, String)].collect().map(_._1).toSet
      assert(s5 == Set(5002L))

      // end-to-end through a real streaming query
      val stream = MemoryStream[(Long, String)]
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = StreamingDedup.start(
        stream.toDF().toDF("doc_id", "text"), idx,
        java.nio.file.Files.createTempDirectory("stream_mh_ck_").toString) {
        (survivors, _) =>
          val ids = survivors.select($"doc_id").as[Long].collect()
          out.synchronized { out ++= ids; () }
      }
      try {
        stream.addData(Seq((3000L, texts(1L)),
          (3001L, "yet another unique streaming document number three")))
        q.processAllAvailable()
        assert(out.toSet == Set(3001L))
      } finally q.stop()
      Seq(s1, s2, s2r, s3, s3r, s5, out.toSet)
    }
    ()
  }
}
