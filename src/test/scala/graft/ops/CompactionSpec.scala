package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, Tables}
import graft.corpus.TranscriptGen
import graft.store.ParquetTableIO

/** Segment compaction (round-4 VERDICT item 1): every append-forever table
  * (minhash buckets/sigs, ANN assignments/codes, text-index postings/blocks)
  * must compact back to build-shaped layout with BIT-IDENTICAL query results
  * and materially fewer files. */
class CompactionSpec extends AnyFunSuite {
  lazy val spark = graft.EngineSpecFixture.spark

  /** Files of `table` the latest version of the index at `idx` reads. */
  private def parquetFiles(idx: String, table: String): Int =
    IndexStore.open(spark, idx).snap.files.getOrElse(table, Nil).size

  test("minhash index: compaction is bit-identical and collapses appended small files") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("mh_cmp").toString
    Dedup.buildMinHashIndex(spark, docs.filter($"doc_id" < 100), idx)
    // several small appended segments — the streaming-gate shape
    (0 until 4).foreach { i =>
      Dedup.appendMinHashSigs(spark,
        docs.filter($"doc_id" >= 100 + i * 50 && $"doc_id" < 150 + i * 50), idx, i.toLong)
    }
    val batch = docs.filter($"doc_id" >= 300 && $"doc_id" < 330)
    val pairsBefore = Dedup.minHashLshIndexed(spark, idx, threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSeq
    val probeBefore = Dedup.minHashDedupBatch(spark, idx, batch, threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSeq
    val filesBefore = parquetFiles(idx, Tables.MinHashBuckets) + parquetFiles(idx, Tables.MinHashSigs)

    IndexStore.compact(spark, idx)

    assert(Dedup.minHashLshIndexed(spark, idx, threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSeq == pairsBefore)
    assert(Dedup.minHashDedupBatch(spark, idx, batch, threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSeq == probeBefore)
    val filesAfter = parquetFiles(idx, Tables.MinHashBuckets) + parquetFiles(idx, Tables.MinHashSigs)
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count: $filesBefore -> $filesAfter")
    // restored clustering: every compacted buckets file covers a disjoint
    // (band, bucket) range — file-level min/max pruning works again
    val perFile = IndexStore.open(spark, idx).read(Tables.MinHashBuckets)
      .groupBy(input_file_name().as("f"))
      .agg(min(struct($"band", $"bucket")).as("lo"), max(struct($"band", $"bucket")).as("hi"))
      .select($"lo", $"hi").as[((Int, Long), (Int, Long))].collect()
      .sortBy(_._1)
    perFile.sliding(2).foreach {
      case Array((_, hi), (lo, _)) =>
        assert(implicitly[Ordering[(Int, Long)]].lteq(hi, lo),
          s"file ranges overlap: $hi vs $lo")
      case _ => ()
    }

    // the index keeps growing after compaction, and probes stay exact
    Dedup.appendMinHashSigs(spark,
      docs.filter($"doc_id" >= 330 && $"doc_id" < 360), idx, 4L)
    val expect = Dedup.minHashLsh(spark, docs.filter($"doc_id" < 360)
        .filter($"doc_id" < 300 || $"doc_id" >= 330), threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSeq
    assert(Dedup.minHashLshIndexed(spark, idx, threshold = 0.2)
      .as[(Long, Long, Double)].collect().toSeq == expect)
  }

  test("ANN indexes: compaction is probe-identical and collapses appended files (LSH + PQ)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(8, 16)(rnd.nextGaussian())
    val vecs = (0L until 300L).map { i =>
      val c = centers((i % 8).toInt)
      (i, c.map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }
    val emb = spark.createDataset(vecs).toDF("vec_id", "embedding")
    val q = vecs.find(_._1 == 0L).get._2

    val lsh = java.nio.file.Files.createTempDirectory("lsh_cmp").toString
    Similarity.buildLshIndex(spark, emb.filter($"vec_id" < 150), lsh, planesOpt = Some(3))
    (0 until 3).foreach { i =>
      Similarity.appendLshAssignments(spark,
        emb.filter($"vec_id" >= 150 + i * 50 && $"vec_id" < 200 + i * 50), lsh, i.toLong)
    }
    val before = Similarity.lshTopKIndexed(spark, lsh, q, 0L, 10, probeHamming = 2)
      .as[(Long, Double)].collect().toSeq
    val fBefore = parquetFiles(lsh, Tables.LshAssignments)
    IndexStore.compact(spark, lsh)
    assert(Similarity.lshTopKIndexed(spark, lsh, q, 0L, 10, probeHamming = 2)
      .as[(Long, Double)].collect().toSeq == before)
    assert(parquetFiles(lsh, Tables.LshAssignments) < fBefore)
    // appends still work on the compacted index
    Similarity.appendLshAssignments(spark, spark.createDataset(
        (300L until 320L).map(i => (i, vecs((i % 300).toInt)._2))).toDF("vec_id", "embedding"),
      lsh, 3L)
    assert(Similarity.lshTopKIndexed(spark, lsh, q, 0L, 10, probeHamming = 2)
      .count() == 10)

    val pq = java.nio.file.Files.createTempDirectory("pq_cmp").toString
    Similarity.buildPqIndex(spark, emb.filter($"vec_id" < 150), pq)
    (0 until 3).foreach { i =>
      Similarity.appendPqCodes(spark,
        emb.filter($"vec_id" >= 150 + i * 50 && $"vec_id" < 200 + i * 50), pq, i.toLong)
    }
    val pqBefore = Similarity.pqTopKIndexed(spark, pq, emb, q, 0L, 10)
      .as[(Long, Double)].collect().toSeq
    val pqFilesBefore = parquetFiles(pq, Tables.PqCodes)
    IndexStore.compact(spark, pq)
    assert(Similarity.pqTopKIndexed(spark, pq, emb, q, 0L, 10)
      .as[(Long, Double)].collect().toSeq == pqBefore)
    assert(parquetFiles(pq, Tables.PqCodes) < pqFilesBefore)
  }

  test("text index: compaction keeps every query bit-identical and re-clusters segments") {
    import spark.implicits._
    val allTurns = TranscriptGen.generateLocal(24)
    val io = new ParquetTableIO(spark,
      java.nio.file.Files.createTempDirectory("cmp_wh_").toString)
    val b = new IndexBuilder(spark, io, blockSize = 8)
    val parts = allTurns.grouped((allTurns.size + 3) / 4).toSeq
    parts.zipWithIndex.foreach { case (p, i) =>
      b.buildIncremental(spark.createDataset(p), batchId = i.toLong)
    }
    val engine = new SparkSearchEngine(spark, io)
    val qs = Seq("whale", "\"blue whale\"",
      "(\"blue whale\" OR \"query engine\") NOT \"red fish\"", "\"blue whale\" whale engine")
    val before = qs.map(q => engine.topKAuto(q, 0.0, 100))
    val wandBefore = engine.termTopKWand("whale", 0.0, 100)
    def postings = io.read(Tables.Postings)
      .as[(String, Long, Int, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5.toSeq)).sortBy(r => (r._1, r._2)).toSeq
    val rowsBefore = postings
    val pFilesBefore = parquetFilesOf(io, Tables.Postings)
    val bCountBefore = io.read(Tables.Blocks).count()

    val metrics = b.compact()
    assert(metrics.forall(!_.skipped))

    assert(postings == rowsBefore, "compaction must preserve posting rows exactly")
    // readers opened before the swap pin the old file listing — re-open
    // (the documented compaction contract, same as any file warehouse)
    val reopened = new SparkSearchEngine(spark, io)
    val after = qs.map(q => reopened.topKAuto(q, 0.0, 100))
    assert(after == before)
    assert(reopened.termTopKWand("whale", 0.0, 100) == wandBefore)
    assert(parquetFilesOf(io, Tables.Postings) < pFilesBefore,
      "segment files must collapse")
    assert(io.read(Tables.Blocks).count() <= bCountBefore,
      "blocks re-pack at least as full as the segmented layout")

    // incremental ingest continues after compaction
    val extra = allTurns.take(4).map(t => t.copy(conv_id = "conv-post" + t.conv_id))
    b.buildIncremental(spark.createDataset(extra), batchId = 100L)
    assert(io.read(Tables.DocDict).count() == allTurns.size + extra.size)
    val e2 = new SparkSearchEngine(spark, io)
    assert(e2.termTopKWand("whale", 0.0, 50) == e2.topKDriver("whale", 0.0, 50).get)
  }

  private def parquetFilesOf(io: ParquetTableIO, table: String): Int = {
    // the warehouse path is private to TableIO; count via the files Spark reads
    import spark.implicits._
    io.read(table).select(input_file_name()).distinct().as[String].collect().length
  }
}
