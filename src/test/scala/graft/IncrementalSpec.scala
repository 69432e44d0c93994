package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, StreamingIngest, Tables}
import graft.corpus.TranscriptGen
import graft.model.Turn
import graft.oracle.RefOracle
import graft.store.ParquetTableIO

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

  test("crash repair: partial un-ledgered batch is cleaned and replayed exactly") {
    import spark.implicits._
    val io = new ParquetTableIO(spark,
      java.nio.file.Files.createTempDirectory("crash_wh_").toString)
    val b = new IndexBuilder(spark, io, blockSize = 8)
    val parts = allTurns.grouped((allTurns.size + 1) / 2).toSeq
    b.buildIncremental(spark.createDataset(parts.head), batchId = 0L)

    // simulate a crash mid-batch-1: some tagged dict rows landed, the
    // stats singleton was swapped to the crashed attempt's values, but no
    // ledger row was written
    val fake = spark.createDataset(Seq(
        (99990L, "conv-zzzzzzzz", 0, 7), (99991L, "conv-zzzzzzzz", 1, 9)))
      .toDF("docId", "conv_id", "turn_idx", "doc_len")
    io.appendTagged(fake, Tables.DocDict, "batch1")
    io.replace(spark.createDataset(Seq((12345L, 99.9)))
      .toDF("total_docs", "avg_doc_len"), Tables.Stats)

    // replay of batch 1 must remove the partial files, repair stats, and
    // append exactly once
    b.buildIncremental(spark.createDataset(parts(1)), batchId = 1L)
    val dict = io.read(Tables.DocDict).as[(Long, String, Int, Int)].collect()
    assert(dict.length == allTurns.size, "no duplicates, no leftover partial rows")
    assert(!dict.exists(_._2 == "conv-zzzzzzzz"))
    assert(dict.map(_._1).toSet == (0L until allTurns.size.toLong).toSet,
      "docIds stay dense — partial rows must not shift nextId")
    val (n, _) = io.read(Tables.Stats).as[(Long, Double)].head()
    assert(n == allTurns.size)

    // crash inside the stats swap alone (stats missing, dict intact) must
    // NOT trigger the bootstrap full build — batch 2 repairs and appends
    io.drop(Tables.Stats)
    b.buildIncremental(spark.createDataset(parts.head.map(t =>
      t.copy(conv_id = "conv-extra" + t.conv_id)).toIndexedSeq), batchId = 2L)
    assert(io.read(Tables.DocDict).count() == allTurns.size + parts.head.size)
    val (n2, m2) = io.read(Tables.Stats).as[(Long, Double)].head()
    assert(n2 == allTurns.size + parts.head.size)
    assert(m2 > 0)
  }

  test("format guard: mismatched or unversioned warehouse is refused by resume/incremental/engine") {
    import spark.implicits._
    val io = new ParquetTableIO(spark,
      java.nio.file.Files.createTempDirectory("fmt_wh_").toString)
    val b = new IndexBuilder(spark, io, blockSize = 8)
    b.build(spark.createDataset(allTurns))
    // marker written by build; engine opens fine
    assert(io.readMarker(Tables.Format).map(_.trim.toInt).contains(Tables.FormatVersion))
    new SparkSearchEngine(spark, io).stats

    // tamper: pretend the warehouse was built at layout v3
    io.writeMarker(Tables.Format, "3")
    intercept[IllegalStateException] { new SparkSearchEngine(spark, io).stats }
    intercept[IllegalStateException] {
      b.build(spark.createDataset(allTurns), resume = true)
    }
    intercept[IllegalStateException] {
      b.buildIncremental(spark.createDataset(allTurns.take(2)), batchId = 99L)
    }

    // unversioned (pre-marker) warehouse with index tables: also refused
    io.drop(Tables.Format)
    intercept[IllegalStateException] { new SparkSearchEngine(spark, io).stats }

    // legacy marker (pre-round-4 one-row parquet table): readable both ways
    io.replace(spark.createDataset(Seq(Tables.FormatVersion)).toDF("format_version"),
      Tables.Format)
    new SparkSearchEngine(spark, io).stats
    io.replace(spark.createDataset(Seq(3)).toDF("format_version"), Tables.Format)
    intercept[IllegalStateException] { new SparkSearchEngine(spark, io).stats }
    io.drop(Tables.Format)

    // a full rebuild (resume = false) re-stamps the marker and recovers
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
