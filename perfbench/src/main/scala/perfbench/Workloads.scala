package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.api.SparkSearchEngine
import graft.build.{StageMetric, Tables}
import graft.model.{LineageRow, Turn}
import graft.server.SearchEngineServer

/** The three workloads. Sizes are fixed constants so that every seed
  * does the same amount of work; only the content changes with the seed. */
object Workloads {
  final class Mismatch(msg: String) extends RuntimeException(msg)

  /** Set-up (seeded input generation) runs this many times per run. */
  val SetupReps = 5

  // batch: a timed build of a fresh warehouse, then one bulk filter pass
  val BatchConvs = 1500L
  val BatchFilters = 60

  // search: nproc closed-loop clients, each with its own fixed list of 4
  val SearchConvs = 1500L

  // churn: a base warehouse, then write/read rounds through HTTP
  val ChurnBaseConvs = 1000L
  val ChurnBatchConvs = 60L
  val ChurnDeletes = 25
  val ChurnMaxRounds = 3

  /** Smallest positive accuracy: a filter pass wants matches only, and
    * with accuracy > 0 no path pads results with zero-score docs. */
  val MatchesOnly: Double = Double.MinPositiveValue

  private def requireCorrect(c: Check, what: String): Unit =
    if (c.mismatches > 0) throw new Mismatch(s"$what: ${c.mismatches} results differ from RefOracle")

  private def shapeMix(qs: Seq[Inputs.Query]): String =
    Inputs.Shapes.map(s => s"$s=${qs.count(_.shape == s)}").mkString(",")

  /** Untimed warehouse preparation: a full build (the first build of the
    * JVM, so it also warms the build path), optionally compacted. */
  private def prepare(c: Ctx, r: Report, corpus: String, wh: String, compact: Boolean): Seq[StageMetric] = {
    val (stages, s) = c.time {
      val st = c.build(corpus, wh)
      if (compact) c.compact(wh)
      st
    }
    r.info("warehouse_prep_s") = f"$s%.3f"
    if (c.tracer.enabled) Layers.build(c, r, stages, c.tracer.named("build").last, wh)
    stages
  }

  // ---------------------------------------------------------------- batch
  def batch(c: Ctx, r: Report): Unit = {
    import c.spark.implicits._
    val qs = Inputs.distinctQueries(c.seed, 1, BatchFilters)
    r.info("shape_mix") = shapeMix(qs)
    val corpus = c.setup(r) { i => c.writeCorpus(s"corpus$i", BatchConvs) }
    val turns = c.turnsLocal(0, BatchConvs)
    val nTurns = turns.size.toDouble
    val textBytes = turns.map(_.text.getBytes("UTF-8").length.toLong).sum.toDouble

    def filterPass(wh: String): Array[(String, Long, Double)] = {
      val engine = c.tracer.span("api", "engine_open")(new SparkSearchEngine(c.spark, c.io(wh)))
      c.tracer.span("api", "searchManyAuto") {
        engine.searchManyAuto(qs.map(_.text), graft.GraftParams().topK, MatchesOnly)
          .select("query", "docId", "score").as[(String, Long, Double)].collect()
      }
    }
    // untimed warm-up of both timed phases; its result is the checked one
    val warm = c.path("wh_warm")
    c.tracer.off(c.build(corpus, warm))
    val checked = c.tracer.off(filterPass(warm)).sorted.toVector
    val rows = checked.groupBy(_._1)
    val check = new Check(turns)
    qs.foreach { q =>
      check.exactIds(q.text, MatchesOnly, rows.getOrElse(q.text, Vector.empty)
        .map(x => (x._2, x._3)).sortBy { case (d, s) => (-s, d) }.toVector)
    }
    requireCorrect(check, "batch filter pass")
    val whBytes = c.dirBytes(warm)
    c.deleteTree(warm)

    val builds = mutable.ArrayBuffer.empty[Double]
    val filters = mutable.ArrayBuffer.empty[Double]
    val stagesByRound = mutable.Map.empty[Int, Seq[StageMetric]]
    val times = c.rounds(r, 1, 3) { i =>
      val wh = c.path(s"wh_round$i")
      val (stages, tb) = c.time(c.build(corpus, wh))
      val (got, tf) = c.time(filterPass(wh))
      if (got.sorted.toVector != checked) throw new Mismatch(s"batch round $i: filter results changed")
      r.attempted += 1 + qs.size
      builds += tb; filters += tf; stagesByRound(i) = stages
      if (i > 0) c.deleteTree(c.path(s"wh_round${i - 1}"))
      tb + tf
    }
    r.info("rounds") = times.size.toString
    r.info("turns") = nTurns.toLong.toString
    r.e2e("round_s") = (Stats.median(times), "s")
    r.e2e("query_ms") = (Stats.median(filters) * 1000.0 / qs.size, "ms")
    r.named("failed_frac") = (r.failed.toDouble / r.attempted, "ratio")
    r.named("build_turns_per_s") = (nTurns / Stats.median(builds), "turns/s")
    r.named("index_bytes_per_text_byte") = (whBytes / textBytes, "ratio")
    r.named("filter_queries_per_s") = (qs.size / Stats.median(filters), "1/s")

    if (c.tracer.enabled) {
      val wh = c.path(s"wh_round${times.size - 1}")
      Layers.build(c, r, stagesByRound(1), c.tracer.named("build").last, wh)
      Layers.taskWait(c, r, c.tracer.named("timed_round").last)
      val bulk = c.tracer.named("searchManyAuto").last
      val cost = c.tracer.sparkCost(Seq(bulk))
      r.layer("api.bulk_ms_per_query") = ((bulk.endNs - bulk.startNs) / 1e6 / qs.size, "ms")
      r.layer("spark.jobs.bulk") = (cost.jobs.toDouble, "count")
      r.layer("spark.shuffle_bytes.bulk") = (cost.shuffleBytes.toDouble, "bytes")
      r.layer("spark.driver_ms.bulk") = (c.tracer.driverNs(bulk) / 1e6, "ms")
      val engine = new SparkSearchEngine(c.spark, c.io(wh))
      Layers.replay(c, r, engine, c.spark.read.parquet(corpus), qs, MatchesOnly)
      Layers.probes(c, r, turns, qs, wh)
    }
  }

  // --------------------------------------------------------------- search
  def search(c: Ctx, r: Report): Unit = {
    val lists = Inputs.clientLists(c.seed, c.nproc)
    val all = lists.flatten
    r.info("shape_mix") = shapeMix(all)
    r.info("repeat_share") = f"${1.0 - all.map(_.text).distinct.size.toDouble / all.size}%.4f"
    val corpus = c.setup(r) { i => c.writeCorpus(s"corpus$i", SearchConvs) }
    val wh = c.path("wh")
    prepare(c, r, corpus, wh, compact = false)
    // untimed JIT warm-up of the query path: one query of each shape
    c.tracer.off {
      val engine = new SparkSearchEngine(c.spark, c.io(wh))
      Inputs.distinctOfShapes(c.seed, 150, Inputs.Shapes.map(_ -> 1))
        .foreach(q => engine.search(q.text, c.spark.read.parquet(corpus), 0.0))
    }
    c.log("warehouse ready")
    val turns = c.turnsLocal(0, SearchConvs)
    val check = new Check(turns)
    c.log("oracle ready")
    val server = new SearchEngineServer(c.spark, wh, Some(corpus), port = 0)
    val port = server.start()
    val pool = Executors.newFixedThreadPool(c.nproc)
    try {
      // one client's closed loop: send, wait for the reply, send the next
      def loop(list: Seq[Inputs.Query]): Callable[Vector[(Inputs.Query, Int, String, Double)]] = () => {
        val http = new Http(port)
        list.map { q =>
          val t0 = System.nanoTime()
          val (code, body) =
            try c.tracer.span("server", "GET /search", c.tracer.newRequest())(
              http.get("/search", "query" -> q.text, "accuracy" -> "0.0"))
            catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
          (q, code, body, (System.nanoTime() - t0) / 1e6)
        }.toVector
      }
      def pass(ls: Seq[Seq[Inputs.Query]]) = pool.invokeAll(ls.map(loop).asJava).asScala.flatMap(_.get())

      val lat = mutable.ArrayBuffer.empty[Double]
      var requests = 0L
      var checked = false
      val times = c.rounds(r, 1, 6) { _ =>
        val t0 = System.nanoTime()
        val replies = pass(lists)
        val wall = (System.nanoTime() - t0) / 1e9
        requests += replies.size
        r.attempted += replies.size
        replies.foreach { case (q, code, body, ms) =>
          lat += ms
          if (code != 200) {
            r.failed += 1
            if (r.failed <= 3) System.err.println(s"[perfbench] /search '${q.text}' -> $code ${body.take(200)}")
          } else if (!checked) check.exactKeys(q.text, 0.0, Http.hits(body))
        }
        checked = true
        requireCorrect(check, "search replies")
        wall
      }
      c.log("timed rounds done")
      r.info("rounds") = times.size.toString
      r.info("requests") = requests.toString
      r.e2e("round_s") = (Stats.median(times), "s")
      r.e2e("query_ms") = (lat.sum / lat.size, "ms")
      val (tailP, tailNote) = tailPercentile(lat.size)
      r.info("search_tail") = tailNote
      r.named("failed_frac") = (r.failed.toDouble / r.attempted, "ratio")
      r.named("search_qps") = (requests / times.sum, "1/s")
      r.named("search_p50_ms") = (Stats.median(lat), "ms")
      r.named("search_tail_ms") = (Stats.percentile(lat, tailP), "ms")

      if (c.tracer.enabled) {
        Layers.taskWait(c, r, c.tracer.named("timed_round").last)
        val engine = new SparkSearchEngine(c.spark, c.io(wh))
        val turnsDf = c.spark.read.parquet(corpus)
        val replayed = Layers.replay(c, r, engine, turnsDf, all, 0.0)
        // the same queries over HTTP, one at a time, each followed by the
        // same call in-process: both run after the replay warmed the plan
        val http = new Http(port)
        val overhead = replayed.map { case (q, _) =>
          val (reply, httpS) = c.time(http.get("/search", "query" -> q.text, "accuracy" -> "0.0"))
          val (_, inProcS) = c.time(engine.search(q.text, turnsDf, 0.0))
          (httpS - inProcS) * 1000.0 -> reply._2.getBytes("UTF-8").length
        }
        r.layer("server.overhead_ms") = (Stats.median(overhead.map(_._1)), "ms")
        r.layer("server.response_bytes") = (overhead.map(_._2.toDouble).sum / overhead.size, "bytes")
        Layers.probes(c, r, turns, all, wh)
      }
    } finally { pool.shutdownNow(); server.stop() }
  }

  /** The highest percentile (in 0.1 steps) with at least 10 samples above
    * it. Below 20 samples that percentile would sit under the median, so
    * the maximum is reported instead, and the note says which it is. */
  def tailPercentile(n: Int): (Double, String) =
    if (n < 20) (100.0, s"max of $n samples (fewer than 20)")
    else {
      val p = math.floor(1000.0 * (n - 10) / n) / 10.0
      (p, f"p$p%.1f with ${n - math.ceil(n * p / 100.0).toInt} samples beyond, of $n")
    }

  // ---------------------------------------------------------------- churn
  def churn(c: Ctx, r: Report): Unit = {
    import c.spark.implicits._
    val rnd = new scala.util.Random(c.seed * 31 + 7)
    // new-conversation batches and per-round query lists, all seeded
    val batches = (0 until ChurnMaxRounds).map { b =>
      val from = ChurnBaseConvs + b * ChurnBatchConvs
      c.turnsLocal(from, from + ChurnBatchConvs)
    }
    // per round one term, one phrase and one boolean query; the final
    // round after the compaction a term and a mixed one
    val queries = (0 until ChurnMaxRounds).map(i =>
      Inputs.distinctOfShapes(c.seed, 200 + i, Seq("term" -> 1, "phrase" -> 1, "boolean" -> 1), i)) :+
      Inputs.distinctOfShapes(c.seed, 200 + ChurnMaxRounds, Seq("term" -> 1, "mixed" -> 1))
    // the read-path warm-up uses a query the measured rounds never send
    val warmUp = Inputs.distinctOfShapes(c.seed, 250, Seq("phrase" -> 2))
      .filterNot(q => queries.flatten.contains(q)).take(1)
    r.info("shape_mix") = shapeMix(queries.flatten)
    val input = c.setup(r) { i =>
      val in = c.writeCorpus(s"input$i", ChurnBaseConvs)
      batches.zipWithIndex.foreach { case (b, j) =>
        c.spark.createDataset(b).coalesce(1).write.parquet(c.path(s"batch${i}_$j"))
      }
      in
    }
    val setupRep = SetupReps - 1
    val wh = c.path("wh")
    prepare(c, r, input, wh, compact = false)
    c.log("warehouse ready")

    val baseTurns = c.turnsLocal(0, ChurnBaseConvs)
    val baseDocs = baseTurns.size.toLong // base docIds are 0 until baseDocs
    val live = mutable.LinkedHashMap.empty[(String, Int), Turn]
    baseTurns.foreach(t => live((t.conv_id, t.turn_idx)) = t)
    val baseKey = baseTurns.map(t => (t.conv_id, t.turn_idx)).sorted.toVector
    val deleted = mutable.Set.empty[Long]

    val server = new SearchEngineServer(c.spark, wh, Some(input), port = 0)
    val port = server.start()
    val http = new Http(port)
    def call(what: String, span: String)(f: => (Int, String)): (Double, String) = {
      val t0 = System.nanoTime()
      val (code, body) =
        try c.tracer.span("server", span)(f) catch { case e: Exception => (-1, String.valueOf(e.getMessage)) }
      val s = (System.nanoTime() - t0) / 1e9
      r.attempted += 1
      if (code != 200) {
        r.failed += 1
        System.err.println(s"[perfbench] $what -> $code ${body.take(200)}")
      }
      (s, body)
    }
    def delete(compact: Boolean): Double = {
      val ids = Inputs.sampleIds(rnd, baseDocs, ChurnDeletes, deleted)
      val body = s"""{"docIds":[${ids.mkString(",")}]${if (compact) ""","compact":1""" else ""}}"""
      val (s, _) = call(s"delete (compact=$compact)", "POST /deleteDocuments")(http.post("/deleteDocuments", body))
      ids.foreach { d => deleted += d; live.remove(baseKey(d.toInt)) }
      s
    }
    // searches after a write: timed, then checked against the live turns
    def searchRound(qs: Seq[Inputs.Query], lat: mutable.ArrayBuffer[Double]): Double = {
      val replies = qs.map { q =>
        val (s, body) = call(s"/search '${q.text}'", "GET /search")(
          http.get("/search", "query" -> q.text, "accuracy" -> MatchesOnly.toString))
        lat += s * 1000.0
        (q, body, s)
      }
      val check = new Check(live.values.toSeq)
      replies.foreach { case (q, body, _) => check.keyed(q.text, MatchesOnly, Http.hits(body)) }
      requireCorrect(check, "churn search after write")
      replies.map(_._3).sum
    }

    try {
      // JIT warm-up of the read path, untimed
      c.tracer.off(warmUp.foreach(q =>
        http.get("/search", "query" -> q.text, "accuracy" -> MatchesOnly.toString)))
      c.log("warm-up done")
      val ingest = mutable.ArrayBuffer.empty[Double]
      val deletes = mutable.ArrayBuffer.empty[Double]
      val lat = mutable.ArrayBuffer.empty[Double]
      val times = c.rounds(r, 1, ChurnMaxRounds) { i =>
        // the crawler delivers the batch next to the served input, then
        // asks the server to index it
        val batchDir = Paths.get(c.path(s"batch${setupRep}_$i"))
        Files.list(batchDir).iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(f => Files.createLink(Paths.get(input).resolve(s"b$i-${f.getFileName}"), f))
        val rows = batches(i).size
        val (ti, _) = call(s"ingest batch $i", "POST /crawlAndIndexDocument")(http.post("/crawlAndIndexDocument",
          s"""{"seedUrls":["${batchDir.toString}"],"numberOfPages":$rows,"clear":0}"""))
        batches(i).foreach(t => live((t.conv_id, t.turn_idx)) = t)
        ingest += rows / ti
        val td = delete(compact = false)
        deletes += td
        ti + td + searchRound(queries(i), lat)
      }
      c.log("timed rounds done")
      val files = (c.dataFiles(wh + "/postings"), c.dataFiles(wh + "/index_blocks"))
      val tc = delete(compact = true)
      val tFinal = searchRound(queries(ChurnMaxRounds), lat)

      c.log("compact and final search done")
      r.info("rounds") = times.size.toString
      r.info("live_turns") = live.size.toString
      // the whole write/read script: a round, the compacting delete and
      // the final searches
      r.e2e("round_s") = (Stats.median(times) + tc + tFinal, "s")
      r.e2e("query_ms") = (lat.sum / lat.size, "ms")
      r.named("failed_frac") = (r.failed.toDouble / r.attempted, "ratio")
      r.named("ingest_turns_per_s") = (Stats.median(ingest), "turns/s")
      r.named("delete_s") = (Stats.median(deletes), "s")
      r.named("compact_s") = (tc, "s")
      r.named("churn_search_p50_ms") = (Stats.median(lat), "ms")

      if (c.tracer.enabled) {
        r.layer("store.files.postings") = (files._1.toDouble, "count")
        r.layer("store.files.index_blocks") = (files._2.toDouble, "count")
        Layers.taskWait(c, r, c.tracer.named("timed_round").last)
        // maintenance wall times the builder itself ledgers per call
        val ledger = c.io(wh).read(Tables.Lineage).as[LineageRow].collect()
        def wall(stage: String) = {
          val ws = ledger.filter(_.stage == stage).map(_.wall_ms / 1000.0)
          if (ws.isEmpty) 0.0 else Stats.median(ws)
        }
        r.layer("build.incremental_s") = (wall("incremental_batch"), "s")
        r.layer("build.delete_s") = (wall(Tables.DeleteLedgerStage), "s")
        Seq(Tables.Postings, Tables.Blocks, Tables.DocDict).foreach { t =>
          r.layer(s"build.compact_s.$t") = (wall(s"compact:$t"), "s")
        }
        val allQs = queries.flatten
        val (engine, openS) = c.time(c.tracer.span("api", "engine_open") {
          val e = new SparkSearchEngine(c.spark, c.io(wh))
          e.topKAuto(allQs.head.text, MatchesOnly, graft.GraftParams().topK)
          e
        })
        r.layer("api.engine_open_ms") = (openS * 1000.0, "ms")
        val replayed = Layers.replay(c, r, engine, c.spark.read.parquet(input), allQs, MatchesOnly)
        r.layer("spark.input_bytes.churn_search") =
          (c.tracer.sparkCost(replayed.map(_._2)).inputBytes.toDouble / replayed.size, "bytes")
        Layers.probes(c, r, live.values.toSeq, allQs, wh)
      }
    } finally server.stop()
  }
}
