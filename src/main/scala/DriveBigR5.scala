/** Round-5 scale datapoints over the 10M-turn corpus/warehouse that
  * `DriveBig` materializes (reuses `/tmp/big_wh` + `/tmp/big_mh_idx` via
  * resume, so this can run standalone):
  *
  *  A. the dense ONE-SHUFFLE boolean/mixed evaluator vs the driver
  *     algebra (on an engine whose `driverAlgebraMaxDocs` admits every
  *     operand), warm, bit-identity asserted (adversarial vocabulary:
  *     every stem df ≈ 3–5.5M);
  *  B. the candidate-pruned signature estimate: the q38 batch probe
  *     (~1M-doc batch vs the 9.1M-doc persisted index) after the
  *     estimatePairs prune (round-4 datapoint to beat: 82 s);
  *  C. the streaming gate at scale (VERDICT item 6): 50 micro-batches
  *     against a COPY of the 10M-doc index (the gate appends), with
  *     `compactMinHashIndex` folded in at batch 25 — per-batch wall
  *     times printed, the flat-curve evidence.
  *
  * `sbt "runMain DriveBigR5 [nodense] [noprobe] [nogate]"`
  */
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.build.{IndexBuilder, Tables}
import graft.model.Turn
import graft.ops.Dedup
import graft.store.ParquetTableIO

object DriveBigR5 {
  private def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    println(f"[$label] ${(System.nanoTime() - t0) / 1e9}%.1f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val src = "/tmp/big_turns"
    if (!new java.io.File(src + "/_SUCCESS").exists()) {
      graft.corpus.TranscriptGen.generate(spark, 2250000L)
        .repartitionByRange(64, col("conv_id"), col("turn_idx"))
        .write.mode("overwrite").parquet(src)
    }
    val turns = spark.read.parquet(src).as[Turn]
    val wh = "/tmp/big_wh"
    val io = new ParquetTableIO(spark, wh)
    if (!io.exists(Tables.Blocks))
      timed("build")(new IndexBuilder(spark, io, rawShards = 4).build(turns, resume = true))

    // ---- A. dense one-shuffle evaluator vs the driver algebra ----------
    if (!args.contains("nodense")) {
      // every operand here is far above the default driver cap; raise it so
      // topKDriver evaluates instead of bailing out
      val e = new graft.api.SparkSearchEngine(spark, io,
        graft.GraftParams(driverAlgebraMaxDocs = 20000000))
      val qs = Seq(
        "(\"blue whale\" OR \"query engine\") NOT \"red fish\"",
        "\"blue whale\" whale engine",
        "\"blue whale\" AND \"red fish\" OR \"query engine\"")
      for (q <- qs; rep <- 1 to 2) {
        val t0 = System.nanoTime()
        val dense = e.topKDense(q, 0.0, 100)
        val tDense = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val driver = e.topKDriver(q, 0.0, 100)
        val tDriver = (System.nanoTime() - t1) / 1e9
        require(driver.contains(dense), s"dense path diverged from the driver for '$q'")
        println(f"DENSE [$q] rep$rep dense=$tDense%.1f s driver=$tDriver%.1f s (bit-identical)")
      }
    }

    if (args.contains("noprobe") && args.contains("nogate")) { spark.stop(); return }

    // survivors of exact dedup — the same deterministic split DriveBigR4
    // used to build /tmp/big_mh_idx (corpus = 90%, batch = 10%)
    val docs = io.read(Tables.DocDict).select($"docId".as("doc_id"), $"conv_id", $"turn_idx")
      .join(turns.toDF(), Seq("conv_id", "turn_idx"))
      .select($"doc_id", $"text")
    val exact = Dedup.exact(docs)
    val surv = docs.join(exact.select($"keep_doc_id".as("doc_id")), Seq("doc_id")).cache()
    println(s"SURV n=${timed("survivors")(surv.count())}")
    val idx = "/tmp/big_mh_idx"
    if (!new java.io.File(s"$idx/version/_SUCCESS").exists()) {
      timed("minhash index build (90% of survivors)")(
        Dedup.buildMinHashIndex(spark, surv.filter($"doc_id" % 10 =!= 0), idx))
    }
    val batchPart = surv.filter($"doc_id" % 10 === 0).cache()
    val nBatch = batchPart.count()

    // ---- B. pruned-estimate batch probe (q38 shape) --------------------
    if (!args.contains("noprobe")) {
      val pairs = timed(s"minhash batch-vs-corpus probe ($nBatch docs, pruned estimate)")(
        Dedup.minHashDedupBatchManaged(spark, idx, batchPart, threshold = 0.5,
          maxBucket = 1000)(_.count()))
      println(s"PROBE pairs=$pairs")
    }

    // ---- C. streaming gate: 50 micro-batches + mid-run compaction ------
    if (!args.contains("nogate")) {
      val gate = "/tmp/big_mh_gate"
      timed("gate index copy") {
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(gate).getFileSystem(conf)
        fs.delete(new org.apache.hadoop.fs.Path(gate), true)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(idx),
          fs, new org.apache.hadoop.fs.Path(gate), false, conf)
      }
      val (lo, hi) = batchPart.agg(min($"doc_id"), max($"doc_id")).as[(Long, Long)].head()
      val nB = 50
      val width = (hi - lo) / nB + 1
      var kept = 0L
      for (i <- 0 until nB) {
        val b = batchPart.filter($"doc_id" >= lo + i * width && $"doc_id" < lo + (i + 1) * width)
        val t0 = System.nanoTime()
        val n = graft.streaming.StreamingDedup.dedupBatchManaged(
          spark, gate, b, i.toLong, threshold = 0.5, maxBucket = 1000,
          runId = "bigr5")(_.count())
        kept += n
        println(f"GATE batch=$i%02d survivors=$n wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
        if (i == 24) timed("gate compaction (mid-run)")(
          Dedup.compactMinHashIndex(spark, gate))
      }
      println(s"GATE total survivors=$kept of $nBatch")
    }
    spark.stop()
  }
}
