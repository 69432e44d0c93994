package graft

import org.apache.spark.sql.SparkSession
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, StreamingIngest}
import graft.corpus.TranscriptGen
import graft.model.Turn
import graft.store.ParquetTableIO

/** spark-submit entry point — the CLI re-expression of the reference's
  * HTTP API surface (/root/reference/source/SearchEngineServer.cpp:14-30):
  *
  *   POST /indexDocuments {clear}   → `build --input <turns> --warehouse W [--clear]`
  *   (incremental batches)          → `ingest --input <stream-dir> --warehouse W`
  *   GET  /search?query&accuracy    → `search --warehouse W --query Q [--accuracy A] [--k K]`
  *   PUT  /setRankerParameters      → `--k1 --b --phrase-boost --exact-match-weight` flags
  *   DELETE /clearCrawlHistory      → `clear --warehouse W`
  *   POST /crawl                    → N/A: ingestion is a table scan; `gen`
  *                                    synthesizes the deterministic corpus
  *
  * Usage (local or spark-submit --master yarn/k8s — the code is identical):
  *   spark-submit --class graft.Main <jar> build --input /path/turns.parquet --warehouse /path/wh
  */
object Main {

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.Main <gen|build|ingest|search|searchmany|searchauto|delete|compact|clear> [--flags]\n" +
        "  searchmany --warehouse W --queries Q1,Q2,...  bare terms or quoted phrases: one WAND scan, one phrase fold")
      sys.exit(2)
    }
    val builder = SparkSession.builder()
      .appName(s"graft-${args.head}")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
    // spark-submit provides spark.master; local `sbt runMain` does not —
    // fall back so the CLI runs in both (SPARK_GRAFT_MASTER to override)
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // ctrl-C / SIGTERM cancels in-flight jobs (the *_terminate analogue);
    // builds resume from the last committed stage on the next run
    graft.util.Cancellation.installShutdownHook(spark)
    import spark.implicits._

    val params = GraftParams(
      k1 = arg(args, "k1").map(_.toDouble).getOrElse(1.5),
      b = arg(args, "b").map(_.toDouble).getOrElse(0.75),
      phraseBoost = arg(args, "phrase-boost").map(_.toDouble).getOrElse(1.35),
      exactMatchWeight = arg(args, "exact-match-weight").map(_.toDouble).getOrElse(0.6),
      stemBareTerms = args.contains("--stem-bare-terms"),
      topK = arg(args, "k").map(_.toInt).getOrElse(100))

    def io = new ParquetTableIO(spark,
      arg(args, "warehouse").getOrElse(sys.error("--warehouse required")))

    args.head match {
      case "gen" =>
        val convs = arg(args, "convs").map(_.toLong).getOrElse(10000L)
        val out = arg(args, "output").getOrElse(sys.error("--output required"))
        TranscriptGen.generate(spark, convs).write.mode("overwrite").parquet(out)
        println(s"wrote $convs conversations to $out")

      case "build" =>
        val input = arg(args, "input").getOrElse(sys.error("--input required"))
        val turns = spark.read.parquet(input).as[Turn]
        val resume = !args.contains("--clear")
        val metrics = new IndexBuilder(spark, io).build(turns, resume = resume)
        metrics.foreach(m => println(
          f"stage=${m.stage} rows=${m.rows} wall_ms=${m.wallMs} skipped=${m.skipped}"))

      case "ingest" =>
        val input = arg(args, "input").getOrElse(sys.error("--input required"))
        val ckpt = arg(args, "checkpoint").getOrElse(sys.error("--checkpoint required"))
        val stream = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[Turn].schema)
          .parquet(input).as[Turn]
        val q = StreamingIngest.start(stream, new IndexBuilder(spark, io), ckpt)
        q.awaitTermination()

      case "search" =>
        val query = arg(args, "query").getOrElse(sys.error("--query required"))
        val accuracy = arg(args, "accuracy").map(_.toDouble).getOrElse(0.0)
        val engine = new SparkSearchEngine(spark, io, params)
        arg(args, "turns") match {
          case Some(turnsPath) =>
            val hits = engine.search(query, spark.read.parquet(turnsPath), accuracy)
            hits.foreach(h => println(
              f"${h.score}%.6f doc=${h.docId} ${h.conv_id}/${h.turn_idx} ${h.snippet.take(120)}"))
          case None =>
            // topKAuto routes along the cheapest exact path (WAND / driver
            // algebra / distributed) — identical results, documented routing
            engine.topKAuto(query, accuracy, params.topK)
              .foreach { case (d, s) => println(f"$s%.6f doc=$d") }
        }

      case "searchmany" =>
        // bulk scoring: comma-separated single-atom queries (bare terms or
        // quoted phrases), one WAND scan for the terms, one fold for the phrases
        val qs = arg(args, "queries")
          .getOrElse(sys.error("--queries required (comma-separated terms or quoted phrases)"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val accuracy = arg(args, "accuracy").map(_.toDouble).getOrElse(0.0)
        val engine = new SparkSearchEngine(spark, io, params)
        engine.searchMany(qs, params.topK, accuracy)
          .orderBy($"query", $"score".desc, $"docId".asc)
          .collect()
          .foreach(r => println(
            f"${r.getString(0)}%-20s ${r.getDouble(4)}%.6f doc=${r.getLong(1)} ${r.getString(2)}/${r.getInt(3)}"))

      case "searchauto" =>
        // bulk ARBITRARY query shapes (boolean/NOT/brackets/mixed) with
        // the operand fetch shared; per-query results ≡ `search`
        val qs = arg(args, "queries")
          .getOrElse(sys.error("--queries required (comma-separated queries)"))
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val accuracy = arg(args, "accuracy").map(_.toDouble).getOrElse(0.0)
        val engine = new SparkSearchEngine(spark, io, params)
        engine.searchManyAuto(qs, params.topK, accuracy)
          .orderBy($"query", $"score".desc, $"docId".asc)
          .collect()
          .foreach(r => println(
            f"${r.getString(0)}%-40s ${r.getDouble(4)}%.6f doc=${r.getLong(1)} ${r.getString(2)}/${r.getInt(3)}"))

      case "compact" =>
        // fold incremental segments back into batch-build layout (run with
        // no in-flight ingest batch; see IndexBuilder.compact); --minhash-
        // index / --ann-index compact the persisted dedup/ANN indexes too
        arg(args, "warehouse").foreach { _ =>
          new IndexBuilder(spark, io).compact().foreach(m => println(
            f"stage=${m.stage} rows=${m.rows} wall_ms=${m.wallMs}"))
        }
        (arg(args, "minhash-index") ++ arg(args, "ann-index")).foreach { p =>
          graft.ops.IndexStore.compact(spark, p); println(s"compacted $p")
        }

      case "delete" =>
        // delete documents/vectors from an index: --warehouse (text index,
        // IndexBuilder.deleteDocs tombstones — --batch is the idempotency
        // key, default one past the last committed delete batch) and/or
        // --minhash-index / --ann-index (IndexStore.delete rewrites the
        // files holding the ids); --ids 1,2,3 or --ids-parquet <path with
        // a docId column>; --compact compacts in the same run
        val ids = (arg(args, "ids"), arg(args, "ids-parquet")) match {
          case (Some(csv), _) =>
            spark.createDataset(csv.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq)
          case (_, Some(p)) => spark.read.parquet(p).select("docId").as[Long]
          case _ => sys.error("delete: --ids or --ids-parquet required")
        }
        require(Seq("warehouse", "minhash-index", "ann-index").exists(arg(args, _).isDefined),
          "delete: --warehouse, --minhash-index, or --ann-index required")
        arg(args, "warehouse").foreach { _ =>
          val b = new IndexBuilder(spark, io)
          val batchId = arg(args, "batch").map(_.toLong).getOrElse(b.nextDeleteBatchId())
          val m = b.deleteDocs(ids, batchId)
          if (m.isEmpty) println(s"batch $batchId already committed (no-op)")
          else m.foreach(x => println(f"stage=${x.stage} tombstoned=${x.rows} wall_ms=${x.wallMs}"))
          if (args.contains("--compact")) b.compact().foreach(x => println(
            f"stage=${x.stage} rows=${x.rows} wall_ms=${x.wallMs}"))
        }
        (arg(args, "minhash-index") ++ arg(args, "ann-index")).foreach { p =>
          graft.ops.IndexStore.delete(spark, p, ids.collect().toSeq)
          if (args.contains("--compact")) graft.ops.IndexStore.compact(spark, p)
          println(s"deleted from $p")
        }

      case "clear" =>
        new IndexBuilder(spark, io).clear()
        println("warehouse cleared")

      case other =>
        System.err.println(s"unknown subcommand: $other")
        sys.exit(2)
    }
    spark.stop()
  }
}
