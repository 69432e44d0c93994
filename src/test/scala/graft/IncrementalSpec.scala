package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, StreamingIngest, Tables}
import graft.corpus.TranscriptGen
import graft.model.Turn
import graft.oracle.RefOracle
import graft.store.{Commit, CrashingIO, ParquetTableIO, TestWarehouses}

/** Incremental (foreachBatch) indexing: batches append disjoint-docId
  * segments; stats advance by the reference's weighted mean; results match
  * a full build up to docId relabeling (batch-insertion order vs global
  * rank — the reference's ObjectId insertion order has the same property).
  */
class IncrementalSpec extends AnyFunSuite {
  import EngineSpecFixture.spark

  private val allTurns = TranscriptGen.generateLocal(30)
  private def keyed(engine: SparkSearchEngine, io: ParquetTableIO, q: String) = {
    import spark.implicits._
    val dict = io.read(Tables.DocDict)
      .as[(Long, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    engine.topKAuto(q, 0.0, 200).map { case (d, s) =>
      (dict(d), math.rint(s * 1e12) / 1e12)
    }.toSet
  }

  test("three incremental batches equal one full build (up to docId relabeling)") {
    import spark.implicits._
    val ioInc = new ParquetTableIO(spark,
      java.nio.file.Files.createTempDirectory("inc_wh_").toString)
    val b = new IndexBuilder(spark, ioInc, blockSize = 8)
    val parts = allTurns.grouped((allTurns.size + 2) / 3).toSeq
    parts.zipWithIndex.foreach { case (p, i) =>
      b.buildIncremental(spark.createDataset(p), batchId = i.toLong)
    }
    // idempotency: replaying a batch is a no-op
    val replay = b.buildIncremental(spark.createDataset(parts.head), batchId = 0L)
    assert(replay.isEmpty)

    val ioFull = new ParquetTableIO(spark,
      java.nio.file.Files.createTempDirectory("full_wh_").toString)
    new IndexBuilder(spark, ioFull, blockSize = 8).build(spark.createDataset(allTurns))

    // same corpus stats (avgdl via weighted mean == exact mean here up to fp)
    val (nI, mI) = ioInc.read(Tables.Stats).as[(Long, Double)].head()
    val (nF, mF) = ioFull.read(Tables.Stats).as[(Long, Double)].head()
    assert(nI == nF)
    assert(math.abs(mI - mF) < 1e-9)

    val eInc = new SparkSearchEngine(spark, ioInc)
    val eFull = new SparkSearchEngine(spark, ioFull)
    Seq("whale", "\"blue whale\"", "the", "\"blue whale\" OR \"query engine\"").foreach { q =>
      assert(keyed(eInc, ioInc, q) == keyed(eFull, ioFull, q), s"query $q")
    }
    // WAND over multi-segment blocks
    assert(eInc.termTopKWand("whale", 0.0, 50) == eInc.topKDriver("whale", 0.0, 50).get)
  }

  test("ingest batch ids from 2^31 replay as no-ops and the next batch id follows them") {
    import spark.implicits._
    val io = new ParquetTableIO(spark, java.nio.file.Files.createTempDirectory("inc_big_").toString)
    val b = new IndexBuilder(spark, io, blockSize = 8)
    val parts = allTurns.grouped((allTurns.size + 1) / 2).toSeq
    val big = 1L << 31
    // the bootstrap build's ledger row, then an append's
    Seq(big -> parts(0), (big + 1) -> parts(1)).foreach { case (batchId, part) =>
      assert(b.buildIncremental(spark.createDataset(part), batchId).nonEmpty)
      val version = io.snapshot().version
      assert(b.buildIncremental(spark.createDataset(part), batchId) == Seq.empty, s"replay of $batchId")
      assert(io.snapshot().version == version)
    }
    assert(b.nextIngestBatchId() == big + 2)
    assert(io.snapshot().state.docs == allTurns.size)
  }

  test("crash repair: partial un-ledgered batch is cleaned and replayed exactly") {
    import spark.implicits._
    val io = new ParquetTableIO(spark,
      java.nio.file.Files.createTempDirectory("crash_wh_").toString)
    val b = new IndexBuilder(spark, io, blockSize = 8)
    val parts = allTurns.grouped((allTurns.size + 1) / 2).toSeq
    b.buildIncremental(spark.createDataset(parts.head), batchId = 0L)

    // simulate a crash mid-batch-1: stray dict rows landed as files, the
    // batch's three segments were written, but nothing was committed (the
    // stats ride on the same commit, so no crash can swap them alone)
    val fake = spark.createDataset(Seq(
        (99990L, "conv-zzzzzzzz", 0, 7), (99991L, "conv-zzzzzzzz", 1, 9)))
      .toDF("docId", "conv_id", "turn_idx", "doc_len")
    io.write(fake, Tables.DocDict)
    def crashAtCommit(part: Seq[Turn], batch: Long) = intercept[CrashingIO.Crash] {
      // dict, postings and blocks writes, then the commit throws
      new IndexBuilder(spark, new CrashingIO(io, failAt = 3), blockSize = 8)
        .buildIncremental(spark.createDataset(part), batch)
    }
    crashAtCommit(parts(1), 1L)

    // replay of batch 1 must ignore the partial files and append exactly once
    b.buildIncremental(spark.createDataset(parts(1)), batchId = 1L)
    val dict = io.read(Tables.DocDict).as[(Long, String, Int, Int)].collect()
    assert(dict.length == allTurns.size, "no duplicates, no leftover partial rows")
    assert(!dict.exists(_._2 == "conv-zzzzzzzz"))
    assert(dict.map(_._1).toSet == (0L until allTurns.size.toLong).toSet,
      "docIds stay dense — partial rows must not shift nextId")
    val (n, _) = io.read(Tables.Stats).as[(Long, Double)].head()
    assert(n == allTurns.size)

    // a crash before the stats commit (the dict intact) must NOT trigger
    // the bootstrap full build — batch 2's replay appends
    val extra = parts.head.map(t => t.copy(conv_id = "conv-extra" + t.conv_id)).toIndexedSeq
    crashAtCommit(extra, 2L)
    b.buildIncremental(spark.createDataset(extra), batchId = 2L)
    assert(io.read(Tables.DocDict).count() == allTurns.size + parts.head.size)
    val (n2, m2) = io.read(Tables.Stats).as[(Long, Double)].head()
    assert(n2 == allTurns.size + parts.head.size)
    assert(m2 > 0)
  }

  test("format guard: mismatched or unversioned warehouse is refused by resume/incremental/engine") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("fmt_wh_").toString
    val io = new ParquetTableIO(spark, wh)
    val b = new IndexBuilder(spark, io, blockSize = 8)
    b.build(spark.createDataset(allTurns))
    // the format rides on every commit; engine opens fine
    assert(io.snapshot().state.format == Tables.FormatVersion)
    val stats = new SparkSearchEngine(spark, io).stats

    // format-6 copies of it: a v6 MARKER (and the pre-round-4 one-row
    // parquet marker) migrate to the log on first open; any other version
    // and an unversioned warehouse with index tables are refused
    def v6(marker: Option[String], parquetMarker: Boolean = false) = {
      val dst = java.nio.file.Files.createTempDirectory("fmt_v6_").toString
      TestWarehouses.asFormat6(spark, wh, dst, marker, parquetMarker)
      new ParquetTableIO(spark, dst)
    }
    assert(new SparkSearchEngine(spark, v6(Some("6"))).stats == stats)
    assert(new SparkSearchEngine(spark, v6(Some("6"), parquetMarker = true)).stats == stats)
    intercept[IllegalStateException] { new SparkSearchEngine(spark, v6(Some("3"))).stats }
    intercept[IllegalStateException] { new SparkSearchEngine(spark, v6(Some("3"), parquetMarker = true)) }
    intercept[IllegalStateException] { new SparkSearchEngine(spark, v6(None)).stats }
    val corrupt = v6(Some("6\u0000garbage"))
    intercept[IllegalStateException] { new IndexBuilder(spark, corrupt).build(spark.createDataset(allTurns), resume = true) }

    // tamper: a commit claiming the warehouse was built at layout v3
    val s0 = io.snapshot()
    io.commit(s0, Commit(-1L, "tamper", reset = false, Map.empty, Map.empty,
      s0.state.copy(format = 3), Nil, 0L))
    intercept[IllegalStateException] { new SparkSearchEngine(spark, io).stats }
    intercept[IllegalStateException] {
      b.build(spark.createDataset(allTurns), resume = true)
    }
    intercept[IllegalStateException] {
      b.buildIncremental(spark.createDataset(allTurns.take(2)), batchId = 99L)
    }

    // a full rebuild (resume = false) commits a fresh version and recovers
    b.build(spark.createDataset(allTurns))
    new SparkSearchEngine(spark, io).stats
  }

  test("structured streaming ingest via foreachBatch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val io = new ParquetTableIO(spark,
      java.nio.file.Files.createTempDirectory("stream_wh_").toString)
    val builder = new IndexBuilder(spark, io, blockSize = 8)
    val stream = MemoryStream[Turn]
    val query = StreamingIngest.start(stream.toDS(), builder,
      java.nio.file.Files.createTempDirectory("stream_ckpt_").toString)
    try {
      val halves = allTurns.grouped((allTurns.size + 1) / 2).toSeq
      stream.addData(halves.head)
      query.processAllAvailable()
      val n1 = io.read(Tables.DocDict).count()
      assert(n1 == halves.head.size)
      stream.addData(halves(1))
      query.processAllAvailable()
      assert(io.read(Tables.DocDict).count() == allTurns.size)
      val engine = new SparkSearchEngine(spark, io)
      assert(engine.topKAuto("whale", 0.0, 10).nonEmpty)
    } finally query.stop()
  }
}
