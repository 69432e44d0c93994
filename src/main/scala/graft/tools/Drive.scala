package graft.tools

import scala.collection.mutable.ArrayBuffer
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import graft.{GraftParams, SparkEntry}
import graft.api.{SparkSearchEngine, TurnTexts}
import graft.build.{IndexBuilder, Tables}
import graft.corpus.TranscriptGen
import graft.model.Turn
import graft.ops.{Dedup, IndexStore, Pipeline, Similarity, TextOps}
import graft.query.QueryLexer
import graft.store.ParquetTableIO
import graft.streaming.StreamingDedup

/** The at-scale measurement drives: one table of named scenarios over one
  * shared context (session, generated corpus, `(doc_id, text)` table,
  * resumable warehouse, MinHash index). BASELINE.md names the scenario
  * that reproduces each datapoint.
  *
  *   sbt "runMain graft.tools.Drive <scenario> [convs]"
  *   sbt "runMain graft.tools.Drive queries [reps] [queryPrefix ...]"
  *   sbt "runMain graft.tools.Drive plans <outDir> <suffix> [queryPrefix ...]"
  *
  * `convs` is the generated corpus size (default 2,250,000 conversations,
  * ~10.1M turns, ~10 GB of caches). Env: `SPARK_GRAFT_CPUS` (local[N],
  * default 32); `queries`/`plans` read `SPARK_GRAFT_SF_DIR` (same default
  * as graft.Bench). With no or an unknown scenario the table is printed
  * and the run fails.
  *
  * Caches are keyed like SparkEntry's: everything lives under
  * `/tmp/graft_drive_fmt<Tables.FormatVersion>_gen<TranscriptGen.Version>/convs_<convs>`
  * and the MinHash index path adds `Similarity.IndexVersion`, so a resume
  * never mixes layouts or corpora. Each artifact is built on first use and
  * reused by every later scenario; the scenarios that write (`gate`,
  * `delete`, `directory`) work on a fresh copy.
  */
object Drive {
  private val DefaultConvs = 2250000L

  /** In-bucket cap of every pair search: the generated corpus is
    * near-dup-saturated by construction, so uncapped buckets would go
    * quadratic in a way real corpora don't. */
  private val MaxBucket = 1000

  private val Term = "whale"
  private val Phrase = "\"blue whale\""
  private val Bool = "(\"blue whale\" OR \"query engine\") NOT \"red fish\""
  private val Mixed = "\"blue whale\" whale engine"

  private def clock[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  private def timed[T](label: String)(body: => T): T = {
    val (sec, r) = clock(body)
    println(f"[$label] $sec%.1f s")
    r
  }

  /** What one run shares. Every artifact is lazy, so a scenario pays only
    * for what it touches; frames it caches are released after the run. */
  final class Ctx(val spark: SparkSession, root: String, val sfDir: String, val args: Seq[String]) {
    import spark.implicits._
    private val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    private val held = ArrayBuffer.empty[DataFrame]
    def hold(df: DataFrame): DataFrame = { held += df.cache(); df }
    def release(): Unit = held.foreach(_.unpersist())

    lazy val convs: Long = args.headOption.fold(DefaultConvs)(_.toLong)
    lazy val base: String =
      s"$root/graft_drive_fmt${Tables.FormatVersion}_gen${TranscriptGen.Version}/convs_$convs"
    private def committed(p: String) = new java.io.File(s"$p/_SUCCESS").exists()

    lazy val turns: Dataset[Turn] = {
      val p = s"$base/turns"
      if (!committed(p)) timed(s"generate $convs conversations")(
        TranscriptGen.generate(spark, convs)
          .repartitionByRange(parts, $"conv_id", $"turn_idx")
          .write.mode("overwrite").parquet(p))
      spark.read.parquet(p).as[Turn]
    }

    /** `(doc_id, text)` under the index build's docId rule (dense rank under
      * `(conv_id, turn_idx)`, range sort + zipWithIndex), so ids match the
      * warehouse's without building it; written once, so each op is timed
      * over a clean scan. */
    lazy val docs: DataFrame = {
      val p = s"$base/docs"
      if (!committed(p)) timed("materialize (doc_id, text) table") {
        val sorted = turns.repartitionByRange(parts, $"conv_id", $"turn_idx")
          .sortWithinPartitions("conv_id", "turn_idx")
        spark.createDataset(sorted.rdd.zipWithIndex().map { case (t, id) => (id, t.text) })
          .toDF("doc_id", "text")
          .repartitionByRange(parts, $"doc_id")
          .write.mode("overwrite").parquet(p)
      }
      spark.read.parquet(p)
    }
    /** The contamination benchmark (~1 doc in 10,000) and the rest. */
    def bench: DataFrame = docs.filter($"doc_id" % 10000 === 7)
    def rest: DataFrame = docs.filter($"doc_id" % 10000 =!= 7)

    /** The resumable warehouse's path; a cold cache times the build. */
    lazy val warehouse: String = {
      val p = s"$base/wh"
      val io = new ParquetTableIO(spark, p)
      if (!io.exists(Tables.Blocks)) {
        val n = turns.count()
        val (sec, m) = clock(new IndexBuilder(spark, io, rawShards = 4).build(turns, resume = true))
        println(f"BUILD turns=$n wall=$sec%.1f s tp=${n / sec}%.0f turns/s")
        println(m.map(x => f"${x.stage}=${x.wallMs / 1000.0}%.1f(${x.rows}r)").mkString(" "))
      }
      p
    }
    def io = new ParquetTableIO(spark, warehouse)
    def engine(p: GraftParams = GraftParams()) = new SparkSearchEngine(spark, io, p)

    lazy val exact: DataFrame = hold(Dedup.exact(docs))
    /** Survivors of exact dedup: the realistic near-dup input. */
    lazy val survivors: DataFrame = {
      val s = hold(docs.join(exact.select($"keep_doc_id".as("doc_id")), Seq("doc_id")))
      println(s"SURV n=${timed("survivors")(s.count())}")
      s
    }
    /** The q38 split: the index holds 90 % of the survivors, the batch the rest. */
    lazy val batch: DataFrame = hold(survivors.filter($"doc_id" % 10 === 0))
    lazy val minHashIndex: String = {
      val p = s"$base/minhash_v${Similarity.IndexVersion}"
      if (!IndexStore.exists(spark, p))
        timed("minhash index build (90% of survivors)")(
          Dedup.buildMinHashIndex(spark, survivors.filter($"doc_id" % 10 =!= 0), p))
      p
    }

    /** A fresh copy of `src` at `dst`, for a scenario that writes. */
    def copy(src: String, dst: String): String = timed(s"copy $src") {
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(dst).getFileSystem(conf)
      fs.delete(new Path(dst), true)
      FileUtil.copy(fs, new Path(src), fs, new Path(dst), false, conf)
      dst
    }

    /** The SparkEntry queries named by prefix (all when none), after the
      * untimed warm-up of their one-off artifacts. */
    def entryQueries(only: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
      try SparkEntry.warm(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"[drive] warm failed: ${e.getMessage}") }
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.isEmpty || only.exists(name.startsWith) }
    }
  }

  final case class Scenario(name: String, usage: String, body: Ctx => Unit)

  val scenarios: Seq[Scenario] = Seq(
    Scenario("build", "[convs]  index build, warm query latency, table sizes", build),
    Scenario("bulk", "[convs]  64 top-df terms: one WAND query each vs one searchMany call", bulk),
    Scenario("prefilter", "[convs]  phrase latency with the head-stem Bloom prefilter off/auto/forced", prefilter),
    Scenario("dedup", "[convs]  exact dedup, simhash pairs, clusters, keepers", dedup),
    Scenario("probe", "[convs]  pruned-estimate MinHash batch-vs-index probe (q38 shape)", probe),
    Scenario("dense", "[convs]  dense one-shuffle evaluator vs the driver algebra", dense),
    Scenario("gate", "[convs]  streaming gate: 50 micro-batches, compaction after batch 24", gate),
    Scenario("delete", "[convs]  delete 1% of docs, query through tombstones, compact", delete),
    Scenario("directory", "[convs]  doc directory and lexicon loads: first vs warm search, both gate sides, after a write; the text fetch on both sides of its gate", directory),
    Scenario("textops", "[convs]  repetition, langId, contamination, substringDup", textops),
    Scenario("hygiene", "[convs]  the full hygiene pipeline in one plan", hygiene),
    Scenario("queries", "[reps] [queryPrefix ...]  min-of-reps SparkEntry query times", queries),
    Scenario("plans", "<outDir> <suffix> [queryPrefix ...]  formatted plans of SparkEntry queries", plans))

  private def lookup(name: Option[String]): Scenario =
    name.flatMap(n => scenarios.find(_.name == n)).getOrElse {
      println("usage: graft.tools.Drive <scenario> [args]")
      scenarios.foreach(s => println(f"  ${s.name}%-10s ${s.usage}"))
      throw new IllegalArgumentException(s"unknown scenario: ${name.getOrElse("(none)")}")
    }

  /** Runs `args.head` with the rest as its arguments, caching under `root`. */
  def run(spark: SparkSession, args: Seq[String], root: String = "/tmp",
      sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")): Unit = {
    val scenario = lookup(args.headOption)
    val ctx = new Ctx(spark, root, sfDir, args.drop(1))
    try scenario.body(ctx) finally ctx.release()
  }

  def main(args: Array[String]): Unit = {
    lookup(args.headOption)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .appName("graft-drive")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args.toSeq) finally spark.stop()
  }

  // ---- scenarios ---------------------------------------------------------

  private def build(c: Ctx): Unit = {
    val e = c.engine()
    for (q <- Seq(Term, Phrase, Bool, Mixed); rep <- 1 to 2) {
      val (sec, top) = clock(e.topKAuto(q, 0.0, 100))
      println(f"QUERY [$q] rep$rep $sec%.2f s top=${top.headOption}")
    }
    val sizes = new java.io.File(c.warehouse).listFiles.map(d => d.getName + "=" +
      (Option(d.listFiles).map(_.map(_.length).sum).getOrElse(0L) / 1048576) + "MB")
    println("SIZES: " + sizes.mkString(" "))
  }

  /** `searchMany` lexes its queries like `search`, so a key such as
    * `order` (`OR der`) or `note` (`NOT e`) is no bare term: the scenario
    * keeps the 64 top-df keys that lex to one bare term. At accuracy
    * MinPositiveValue (no zero-fill) each rep checks the bulk rows against
    * the per-term WAND rows. */
  private def bulk(c: Ctx): Unit = {
    import c.spark.implicits._
    val e = c.engine()
    def bare(t: String) = QueryLexer.lex(t) == Vector(QueryLexer.QTerm(t))
    val ranked = c.io.read(Tables.TermStats).orderBy(desc("df"), asc("term"))
      .limit(256).select("term").as[String].collect().toSeq
    val keys = ranked.filter(bare).take(64)
    require(keys.nonEmpty, "no top-df key lexes to one bare term")
    println(s"BULK keys: the ${keys.size} top-df keys that lex to one bare term " +
      s"(skipped: ${ranked.take(ranked.indexOf(keys.last)).filterNot(bare).mkString(",")})")
    val acc = Double.MinPositiveValue
    for (rep <- 1 to 2) {
      val (single, want) = clock(keys.map(t => t -> e.termTopKWand(t, acc, 100)).toMap)
      val (bulk, rows) = clock(e.searchMany(keys, k = 100, accuracy = acc)
        .select("query", "docId", "score").as[(String, Long, Double)].collect())
      val got = rows.groupBy(_._1).map { case (q, rs) =>
        q -> rs.map(r => (r._2, r._3)).sortBy { case (d, s) => (-s, d) }.toVector
      }
      keys.foreach(t => require(got.getOrElse(t, Vector.empty) == want(t), s"bulk != WAND for '$t'"))
      println(f"BULK${keys.size} rep$rep single=$single%.1f s bulk=$bulk%.1f s " +
        f"speedup=${single / bulk}%.1f x (rows == per-term WAND)")
    }
  }

  /** Every stem of the generated corpus is a head term (df ≈ 0.4·Σdf), so
    * the selectivity gate keeps the Bloom filter off and `auto` should match
    * `off`; `forced` shows the trade the gate avoids. The last query is the
    * prefilter's win: a rare head stem against a head-term tail stem. */
  private def prefilter(c: Ctx): Unit = {
    val off = c.engine(GraftParams(phrasePrefilterMinDf = Long.MaxValue))
    val auto = c.engine()
    val forced = c.engine(GraftParams(phrasePrefilterMaxRatio = 1.0))
    for (q <- Seq(Phrase, Bool, Mixed, "\"tok40000 whale\""); rep <- 1 to 2) {
      val (tOff, a) = clock(off.topKAuto(q, 0.0, 100))
      val (tAuto, b) = clock(auto.topKAuto(q, 0.0, 100))
      val (tForced, f) = clock(forced.topKAuto(q, 0.0, 100))
      require(a == b && b == f, s"prefilter changed results for '$q'")
      println(f"PHRASE [$q] rep$rep off=$tOff%.1f s auto=$tAuto%.1f s forced=$tForced%.1f s (bit-identical)")
    }
  }

  private def dedup(c: Ctx): Unit = {
    import c.spark.implicits._
    println(s"DOCS n=${c.docs.count()}")
    val nDistinct = timed("exact dedup (md5 groupBy)")(c.exact.count())
    println(s"EXACT distinct=$nDistinct dup_groups=${c.exact.filter($"n_copies" > 1).count()}")
    val surv = c.survivors
    val hashes = c.hold(Dedup.simHash(c.spark, surv))
    timed("simhash fingerprints")(hashes.count())
    // blocks=8 (40-bit Manku keys): 16-bit keys (blocks=4) at 10M docs put
    // ~150 docs in every bucket and the in-bucket pair work goes quadratic
    val pairs = c.hold(Dedup.simHashNearDupBits(c.spark, hashes, blocks = 8, maxBucket = MaxBucket))
    println(s"SIMHASH pairs=${timed("simhash near-dup pairs (banded, capped)")(pairs.count())}")
    val t0 = System.nanoTime()
    val keepers = Dedup.dedupClustersManaged(c.spark, pairs.select($"doc_a", $"doc_b"),
        surv.select($"doc_id")) { clusters =>
      println(f"[dedup clusters (connected components)] ${(System.nanoTime() - t0) / 1e9}%.1f s")
      timed("apply keepers")(Dedup.applyKeepers(c.spark, surv, clusters).count())
    }
    println(s"CLUSTERS keepers=$keepers of ${surv.count()}")
  }

  private def probe(c: Ctx): Unit = {
    val idx = c.minHashIndex
    val n = c.batch.count()
    val pairs = timed(s"minhash batch-vs-corpus probe ($n docs, pruned estimate)")(
      Dedup.minHashDedupBatchManaged(c.spark, idx, c.batch, threshold = 0.5,
        maxBucket = MaxBucket)(_.count()))
    println(s"PROBE pairs=$pairs")
  }

  /** Every operand here is far above the default driver cap; the engine's
    * cap is raised so `topKDriver` evaluates instead of declining. */
  private def dense(c: Ctx): Unit = {
    val e = c.engine(GraftParams(driverAlgebraMaxDocs = 20000000))
    for (q <- Seq(Bool, Mixed, "\"blue whale\" AND \"red fish\" OR \"query engine\""); rep <- 1 to 2) {
      val (tDense, dense) = clock(e.topKDense(q, 0.0, 100))
      val (tDriver, driver) = clock(e.topKDriver(q, 0.0, 100))
      require(driver.contains(dense), s"dense path diverged from the driver for '$q'")
      println(f"DENSE [$q] rep$rep dense=$tDense%.1f s driver=$tDriver%.1f s (bit-identical)")
    }
  }

  /** The gate appends, so it runs on a copy of the index; the batch's
    * doc_id range is cut into 50 micro-batches. */
  private def gate(c: Ctx): Unit = {
    import c.spark.implicits._
    val gate = c.copy(c.minHashIndex, s"${c.base}/minhash_gate_v${Similarity.IndexVersion}")
    val (lo, hi) = c.batch.agg(min($"doc_id"), max($"doc_id")).as[(Long, Long)].head()
    val nB = 50
    val width = (hi - lo) / nB + 1
    var kept = 0L
    for (i <- 0 until nB) {
      val b = c.batch.filter($"doc_id" >= lo + i * width && $"doc_id" < lo + (i + 1) * width)
      val (sec, n) = clock(StreamingDedup.dedupBatchManaged(c.spark, gate, b, i.toLong,
        threshold = 0.5, maxBucket = MaxBucket, runId = "drive")(_.count()))
      kept += n
      println(f"GATE batch=$i%02d survivors=$n wall=$sec%.1f s")
      if (i == 24) timed("gate compaction (mid-run)")(IndexStore.compact(c.spark, gate))
    }
    println(s"GATE total survivors=$kept of ${c.batch.count()}")
  }

  /** The tombstone lifecycle on a copy of the warehouse: delete every doc
    * with docId % 100 == 7, query through the tombstones, compact, query
    * again. */
  private def delete(c: Ctx): Unit = {
    import c.spark.implicits._
    val io = new ParquetTableIO(c.spark, c.copy(c.warehouse, s"${c.base}/wh_delete"))
    val b = new IndexBuilder(c.spark, io, rawShards = 4)
    val queries = Seq(Term, Phrase, Bool)
    def timeQueries(label: String): Map[String, Set[Long]] = {
      val e = new SparkSearchEngine(c.spark, io) // a snapshot: opened after each write
      queries.map { q =>
        val runs = (1 to 2).map(_ => clock(e.topKAuto(q, 0.0, 100)))
        val top = runs.last._2
        println(f"QUERY[$label] [$q] ${runs.map(r => f"${r._1}%.2f").mkString("/")} s top=${top.headOption}")
        q -> top.map(_._1).toSet
      }.toMap
    }

    timeQueries("pre-delete")
    val nBefore = io.read(Tables.DocDict).count()
    val delIds = io.read(Tables.DocDict).select($"docId").filter($"docId" % 100 === 7).as[Long]
    val (delSec, _) = clock(b.deleteDocs(delIds, batchId = 500L))
    val nDel = io.read(Tables.Deletes).count()
    println(f"DELETE: $nDel ids of $nBefore docs in $delSec%.1f s (${nDel / delSec}%.0f ids/s)")

    val delSet = delIds.collect().toSet
    val topDel = timeQueries("tombstoned")
    topDel.foreach { case (q, ids) =>
      require(ids.intersect(delSet).isEmpty, s"deleted doc in top-k of $q")
    }
    val (cSec, cm) = clock(b.compact())
    println(f"COMPACT: $cSec%.1f s " + cm.map(x => f"${x.stage}=${x.wallMs / 1000.0}%.1f").mkString(" "))
    require(!io.exists(Tables.Deletes), "compact must retire tombstones")
    val topC = timeQueries("compacted")
    queries.foreach(q => require(topC(q) == topDel(q), s"purge changed $q"))
    println("POST-COMPACT top-k identical to tombstoned top-k: OK")
  }

  /** The driver thread's allocation counter (`directory`, `textFetch`). */
  private lazy val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** The doc directory's and the lexicon's cost, on a copy of the
    * warehouse: per round, a fresh engine at the default ceiling (it holds
    * both up to `DocDirectory.MaxDocs` live docs) and a fresh one just over
    * its gate each time one live-df lookup (the held side's loads the
    * lexicon in one job, the other side's is one job), then their first
    * `search` (the held side's loads the directory) and their best of 5
    * warm ones; the driver thread's allocation during each first call and
    * the heap still live after it (engine held, after a GC) size each
    * load. Two rounds (the second with the loads' code warm, as in a
    * long-running server), then the same after deleting 1 doc in 1,000 —
    * the first request after a write. Last, the driver allocation of a
    * warm mixed query whose phrase leads with the highest-df stem (the
    * one-scan fetch's largest shape). Both sides must return the same
    * hits. After the first two rounds, `textFetch` splits out `search`'s
    * text fetch on both sides of its gate. */
  private def directory(c: Ctx): Unit = {
    import c.spark.implicits._
    val io = new ParquetTableIO(c.spark, c.copy(c.warehouse, s"${c.base}/wh_directory"))
    val turns = c.turns.toDF()
    def liveMb(): Long = {
      System.gc()
      val rt = Runtime.getRuntime
      (rt.totalMemory - rt.freeMemory) >> 20
    }
    /** `body`'s wall ms, driver-thread allocation and retained heap (MB). */
    def measured[T](body: => T): (String, T) = {
      val live0 = liveMb()
      val alloc0 = threads.getCurrentThreadAllocatedBytes
      val (sec, r) = clock(body)
      val allocMb = (threads.getCurrentThreadAllocatedBytes - alloc0) >> 20
      (f"${sec * 1000}%.0f ms alloc=$allocMb MB retained=${liveMb() - live0} MB", r)
    }
    def gate(n: Long) = Seq("held" -> GraftParams(), "over" -> GraftParams(driverAlgebraMaxDocs = (n - 1).toInt))
    def sides(label: String): Unit = for (round <- 1 to 2) {
      val n = new SparkSearchEngine(c.spark, io).stats.total_docs
      val bySide = for ((side, p) <- gate(n)) yield {
        val e = new SparkSearchEngine(c.spark, io, p)
        val (lexicon, _) = measured(e.liveDf(Seq(Term)))
        val (first, hits) = measured(e.search(Term, turns))
        val warm = (1 to 5).map(_ => clock(e.search(Term, turns))._1).min
        println(f"DIRECTORY[$label] round $round $side docs=$n lexicon: $lexicon; first search: $first; " +
          f"warm=${warm * 1000}%.0f ms hits=${hits.size}")
        hits
      }
      require(bySide.distinct.size == 1, s"$label: the two sides of the directory gate answered differently")
    }
    new SparkSearchEngine(c.spark, io, GraftParams(driverAlgebraMaxDocs = 0)).search(Term, turns) // JVM warm-up
    sides("built")
    textFetch(c, io, turns)
    val ids = io.read(Tables.DocDict).select($"docId").filter($"docId" % 1000 === 7).as[Long]
    timed("delete 1 in 1,000 docs")(new IndexBuilder(c.spark, io, rawShards = 4).deleteDocs(ids, batchId = 501L))
    sides("after delete")
    val head = io.read(Tables.Blocks).groupBy($"term").agg(sum($"n_docs").as("df"))
      .orderBy($"df".desc, $"term").select($"term").as[String].head()
    val query = s"\"$head $Term\" $Term engine"
    val n = new SparkSearchEngine(c.spark, io).stats.total_docs
    val bySide = for ((side, p) <- gate(n)) yield {
      val e = new SparkSearchEngine(c.spark, io, p)
      e.topKDriver(query, 0.0, 10) // loads
      val (warm, top) = measured(e.topKDriver(query, 0.0, 10))
      println(s"DIRECTORY head-stem mixed '$query' $side docs=$n warm topKDriver: $warm")
      top
    }
    require(bySide.distinct.size == 1, "head-stem mixed: the two sides of the gate answered differently")
  }

  /** `search`'s text fetch (`search` − `topKAuto`: best-of-5 wall ms and
    * the driver thread's allocation) on both sides of its gate: the input
    * as a bare parquet scan (read on the driver when the hits' covering
    * row groups hold at most `TurnTexts.MaxRows` rows, else the Spark
    * filter) and the same scan behind a no-op filter (always the Spark
    * filter). Prints the row groups and rows the hits cover; both sides
    * must return the same hits. */
  private def textFetch(c: Ctx, io: ParquetTableIO, turns: DataFrame): Unit = {
    /** Best-of-5 wall ms and the driver thread's allocation (MB) of that run. */
    def best(body: => Any): (Double, Double) = (1 to 5).map { _ =>
      val alloc0 = threads.getCurrentThreadAllocatedBytes
      val (sec, _) = clock(body)
      (sec * 1000, (threads.getCurrentThreadAllocatedBytes - alloc0) / 1e6)
    }.minBy(_._1)
    val e = new SparkSearchEngine(c.spark, io)
    val hits = e.search(Term, turns)
    val (groups, rows) = TurnTexts.coverage(turns, hits.map(_.conv_id).toSet).getOrElse((-1, -1L))
    val side = if (rows >= 0 && rows <= TurnTexts.MaxRows) "driver read" else "Spark filter"
    println(s"TEXTFETCH docs=${e.stats.total_docs} hits=${hits.size} cover $groups row groups, $rows rows " +
      s"(budget ${TurnTexts.MaxRows}) of ${turns.inputFiles.length} files")
    val bySide = for ((label, frame) <- Seq(s"bare parquet scan ($side)" -> turns,
        "no-op filter (Spark filter)" -> turns.where(lit(true)))) yield {
      val got = e.search(Term, frame)
      val (topMs, topMb) = best(e.topKAuto(Term, 0.0, e.params.topK))
      val (searchMs, searchMb) = best(e.search(Term, frame))
      println(f"TEXTFETCH $label: search - topKAuto = ${searchMs - topMs}%.0f ms, " +
        f"driver alloc ${searchMb - topMb}%.1f MB (search $searchMs%.0f ms, topKAuto $topMs%.0f ms)")
      got
    }
    require(bySide.distinct.size == 1, "text fetch: the two sides of its gate answered differently")
  }

  private def textops(c: Ctx): Unit = {
    import c.spark.implicits._
    val docs = c.docs
    val nDocs = docs.count()
    println(s"[corpus] $nDocs docs")
    val out = s"${c.base}/out"
    timed("repetitionFilter (full corpus)")(
      TextOps.repetitionFilter(docs).write.mode("overwrite").parquet(s"$out/repetition"))
    val flagged = c.spark.read.parquet(s"$out/repetition").filter($"verdict" === "repetitive").count()
    println(s"[repetition] flagged $flagged of $nDocs")
    timed("langId (full corpus)")(TextOps.langId(docs).write.mode("overwrite").parquet(s"$out/lang"))
    println(s"[contamination] bench docs: ${c.bench.count()}")
    val hits = timed("contamination n=8 (corpus vs ~1k bench)")(
      TextOps.contamination(c.rest, c.bench, n = 8).count())
    println(s"[contamination] flagged $hits docs")
    timed("substringDup (full corpus, 10-token windows)")(
      Dedup.substringDup(docs).write.mode("overwrite").parquet(s"$out/substring_dup"))
    val sub = c.spark.read.parquet(s"$out/substring_dup")
    val full = sub.filter($"dup_frac" === 1.0).count()
    val partial = sub.filter($"dup_frac" > 0.0 && $"dup_frac" < 1.0).count()
    println(s"[substringDup] full-dup docs: $full, partial: $partial")
    // every member of an exact-duplicate group with >= 1 window must be
    // fully duplicated (its windows all occur in the twin too)
    val bad = timed("substringDup vs exact-dedup consistency")(
      Dedup.exact(docs).filter($"n_copies" > 1)
        .join(docs.select(md5($"text").as("content_md5"), $"doc_id"), Seq("content_md5"))
        .join(sub, Seq("doc_id"))
        .filter($"n_windows" > 0 && $"dup_frac" =!= 1.0).count())
    println(s"[substringDup] exact-dup members not fully duplicated: $bad (must be 0)")
    assert(bad == 0L, s"substringDup inconsistent with exact dedup: $bad rows")
  }

  private def hygiene(c: Ctx): Unit = {
    val out = s"${c.base}/out/hygiene"
    val kept = timed("hygieneCorpus (quality+lang+repetition+decontam+dedup+split, one plan)")(
      Pipeline.hygieneCorpusManaged(c.spark, c.rest, c.bench, ngramN = 8) { o =>
        o.write.mode("overwrite").parquet(out)
        c.spark.read.parquet(out).count()
      })
    println(s"[hygiene] keepers: $kept of ${c.docs.count()}")
  }

  /** Min-of-reps wall time per query through the same noop sink as
    * graft.Bench, which stays frozen; a failed query records -1. */
  private def queries(c: Ctx): Unit = {
    val reps = c.args.headOption.flatMap(_.toIntOption)
    val qs = c.entryQueries(if (reps.isDefined) c.args.drop(1) else c.args)
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (r <- 1 to reps.getOrElse(1); (name, fn) <- qs) {
      c.spark.sparkContext.setJobDescription(s"$name rep$r")
      try {
        val (sec, _) = clock(fn(c.spark, c.sfDir).write.format("noop").mode("overwrite").save())
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
        println(f"[queries] rep$r $name%-28s $sec%8.3f s")
      } catch {
        case e: Throwable =>
          System.err.println(s"[queries] $name FAILED: ${e.getMessage}")
          best(name) = -1.0
      }
    }
    val json = best.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(s"""{"metric":"queries_min","queries":$json,"sf":"${c.sfDir}","reps":${reps.getOrElse(1)}}""")
  }

  /** `.explain("formatted")` of each query to `<outDir>/<query>_<suffix>.txt`. */
  private def plans(c: Ctx): Unit = {
    val outDir = c.args.headOption.getOrElse("plans/r06")
    val suffix = c.args.lift(1).getOrElse("before")
    new java.io.File(outDir).mkdirs()
    c.entryQueries(c.args.drop(2)).foreach { case (name, fn) =>
      try {
        val plan = fn(c.spark, c.sfDir).queryExecution.explainString(FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt")
        try w.write(plan) finally w.close()
        println(s"[plans] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable => System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
  }
}
