package perfbench

import scala.collection.mutable
import graft.GraftParams
import graft.api.SparkSearchEngine
import graft.build.{StageMetric, Tables}
import graft.codec.VarByte
import graft.model.{IndexBlock, IndexStats, Turn}
import graft.query.{DenseEval, QueryEvaluator, QueryLexer, Snippeter, Wand}
import graft.text.TextPipeline

/** The traced run's per-layer figures. Every number here comes from the
  * benchmark's own spans around calls into a layer, from its Spark
  * listener, or from a driver-side probe of a layer's public functions
  * on the run's own inputs. */
object Layers {
  private val params = GraftParams()
  private val BuildStages = Seq(Tables.PostingsRaw, Tables.DocDict, Tables.Stats,
    Tables.TermStats, Tables.Postings, Tables.Blocks)
  private val StoreTables = Seq(Tables.PostingsRaw, Tables.DocDict, Tables.TermStats,
    Tables.Postings, Tables.Blocks, Tables.Lineage)
  private val SelfLayers = Seq("bench", "server", "api", "build", "store", "spark")

  /** The per-layer metrics every workload's traced run reports: the set
    * the JSON result line carries. Workload-only figures (server
    * overhead, bulk path, churn maintenance) are printed and written to
    * the layer table but are not part of that set. */
  val Reported: Seq[String] =
    Seq("trace.overhead_pct", "spark.task_wait_ms") ++
      Inputs.Shapes.flatMap(s => Seq(s"api.search_ms.$s", s"api.topk_ms.$s")) ++
      Seq("api.fetch_ms", "api.route.wand", "api.route.driver", "api.route.dense") ++
      Seq("jobs", "tasks", "input_bytes", "shuffle_bytes", "driver_ms")
        .flatMap(m => Inputs.Shapes.map(s => s"spark.$m.$s")) ++
      Seq("query.parse_us", "query.wand_ns_per_posting", "query.snippet_us",
        "codec.encode_positions_ns_per_posting", "codec.encode_block_ns_per_posting",
        "codec.decode_block_ns_per_posting", "text.analyze_us_per_turn", "text.postings_per_turn") ++
      BuildStages.map(s => s"build.stage_s.$s") ++
      Seq("build.shuffle_write_bytes", "build.spill_bytes", "build.gc_s", "build.task_cpu_s",
        "build.task_run_s") ++
      StoreTables.map(t => s"store.bytes.$t") ++
      SelfLayers.map(l => s"self_s.$l")

  private def put(r: Report, k: String, v: Double, unit: String): Unit = r.layer(k) = (v, unit)

  /** Median per-iteration time of `body`, repeated until `minS` seconds. */
  private def perIter(minS: Double)(body: => Unit): Double = {
    val xs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    while (xs.size < 3 || (System.nanoTime() - t0) / 1e9 < minS) {
      val a = System.nanoTime(); body; xs += (System.nanoTime() - a).toDouble
    }
    Stats.median(xs)
  }

  // ------------------------------------------------------------- build
  /** Stage wall times from the returned StageMetric, task totals from the
    * listener, table sizes from the warehouse directory. */
  def build(c: Ctx, r: Report, stages: Seq[StageMetric], buildSpan: Span, wh: String): Unit = {
    BuildStages.foreach { s =>
      put(r, s"build.stage_s.$s", stages.find(_.stage == s).map(_.wallMs / 1000.0).getOrElse(0.0), "s")
    }
    val cost = c.tracer.sparkCost(Seq(buildSpan))
    put(r, "build.shuffle_write_bytes", cost.shuffleWrite.toDouble, "bytes")
    put(r, "build.spill_bytes", cost.spill.toDouble, "bytes")
    put(r, "build.gc_s", cost.gcMs / 1000.0, "s")
    put(r, "build.task_cpu_s", cost.cpuNs / 1e9, "s")
    put(r, "build.task_run_s", cost.runMs / 1000.0, "s")
    StoreTables.foreach(t => put(r, s"store.bytes.$t", c.dirBytes(s"$wh/$t").toDouble, "bytes"))
  }

  // ------------------------------------------------------- api + spark
  /** Sequential in-process replay of one query per shape: `search` and
    * `topKAuto`'s route, each in its own span, so each Spark job is
    * booked to the call that ran it. */
  def replay(c: Ctx, r: Report, engine: SparkSearchEngine, turns: org.apache.spark.sql.DataFrame,
      qs: Seq[Inputs.Query], acc: Double): Seq[(Inputs.Query, Span)] = {
    val picked = Inputs.Shapes.flatMap(s => qs.filter(_.shape == s).take(1))
    val routes = mutable.Map("wand" -> 0, "driver" -> 0, "dense" -> 0)
    val searches = picked.map { q =>
      c.tracer.span("api", s"replay.search.${q.shape}")(engine.search(q.text, turns, acc))
      // topKAuto's routing, observed from outside: a single bare term goes
      // to WAND; otherwise the driver algebra, or dense when it declines
      c.tracer.span("api", s"replay.topk.${q.shape}") {
        QueryLexer.lex(q.text) match {
          case Vector(QueryLexer.QTerm(t)) => routes("wand") += 1; engine.termTopKWand(t, acc, params.topK)
          case _ => engine.topKDriver(q.text, acc, params.topK) match {
            case Some(v) => routes("driver") += 1; v
            case None => routes("dense") += 1; engine.topKDense(q.text, acc, params.topK)
          }
        }
      }
      q -> c.tracer.named(s"replay.search.${q.shape}").last
    }
    routes.foreach { case (k, n) => put(r, s"api.route.$k", n.toDouble, "count") }
    def ms(ss: Seq[Span]) = if (ss.isEmpty) 0.0 else ss.map(s => (s.endNs - s.startNs) / 1e6).sum / ss.size
    Inputs.Shapes.foreach { s =>
      val ss = c.tracer.named(s"replay.search.$s")
      val n = math.max(1, ss.size).toDouble
      put(r, s"api.search_ms.$s", ms(ss), "ms")
      put(r, s"api.topk_ms.$s", ms(c.tracer.named(s"replay.topk.$s")), "ms")
      val cost = c.tracer.sparkCost(ss)
      put(r, s"spark.jobs.$s", cost.jobs / n, "count")
      put(r, s"spark.tasks.$s", cost.tasks / n, "count")
      put(r, s"spark.input_bytes.$s", cost.inputBytes / n, "bytes")
      put(r, s"spark.shuffle_bytes.$s", cost.shuffleBytes / n, "bytes")
      put(r, s"spark.driver_ms.$s", ss.map(c.tracer.driverNs).sum / 1e6 / n, "ms")
    }
    val all = Inputs.Shapes.flatMap(s => c.tracer.named(s"replay.search.$s"))
    val topks = Inputs.Shapes.flatMap(s => c.tracer.named(s"replay.topk.$s"))
    put(r, "api.fetch_ms", ms(all) - ms(topks), "ms")
    searches
  }

  /** Task wait (stage submit → task launch) per task, over every job the
    * listener saw during the traced measured round: the server runs its
    * jobs on its own threads, outside any benchmark span. */
  def taskWait(c: Ctx, r: Report, round: Span): Unit = {
    val (fromNs, toNs) = (round.startNs, round.endNs)
    c.tracer.drain()
    val l = c.tracer.listener.get
    import scala.jdk.CollectionConverters._
    val js = l.jobs.values.asScala.filter(j => c.tracer.msToNs(j.startMs) >= fromNs &&
      j.endMs >= 0 && c.tracer.msToNs(j.endMs) <= toNs)
    val st = js.flatMap(_.stages).toSeq.distinct.flatMap(id => Option(l.stages.get(id)))
    val tasks = st.map(_.tasks).sum
    put(r, "spark.task_wait_ms", if (tasks == 0) 0.0 else st.map(_.waitMs).sum.toDouble / tasks, "ms")
  }

  // ---------------------------------------- driver-side layer probes
  /** text, codec and query probes over the run's own turns and queries. */
  def probes(c: Ctx, r: Report, turns: Seq[Turn], qs: Seq[Inputs.Query], wh: String): Unit = {
    val sample = turns.take(2000)
    val analyzed = sample.map(t => TextPipeline.analyze(t.text))
    val nPostings = analyzed.map(_._2.size).sum.toDouble
    put(r, "text.analyze_us_per_turn",
      perIter(0.3)(sample.foreach(t => TextPipeline.analyze(t.text))) / 1e3 / sample.size, "us")
    put(r, "text.postings_per_turn", nPostings / sample.size, "count")

    val positions = analyzed.flatMap(_._2.valuesIterator)
    put(r, "codec.encode_positions_ns_per_posting",
      perIter(0.3)(positions.foreach(p => VarByte.encodePositions(p))) / positions.size, "ns")
    // score-only blocks as the index stores them: per term, docId order
    val byTerm = analyzed.zipWithIndex.flatMap { case ((dl, terms), d) =>
      terms.iterator.map { case (t, ps) => t -> VarByte.Posting(d.toLong, ps.length, dl, Array.emptyIntArray) }
    }.groupBy(_._1).values.flatMap(_.map(_._2).grouped(128)).toVector
    val encoded = byTerm.map(VarByte.encodeBlock)
    val nBlockPostings = byTerm.map(_.size).sum.toDouble
    put(r, "codec.encode_block_ns_per_posting",
      perIter(0.3)(byTerm.foreach(VarByte.encodeBlock)) / nBlockPostings, "ns")
    put(r, "codec.decode_block_ns_per_posting",
      perIter(0.3)(encoded.foreach(VarByte.decodeBlockScores)) / nBlockPostings, "ns")

    val texts = qs.map(_.text).distinct
    put(r, "query.parse_us", perIter(0.3)(texts.foreach { q =>
      QueryLexer.lex(q); QueryEvaluator.evaluate(q, new DenseEval.AstAlgebra(params.stemBareTerms), params)
    }) / 1e3 / texts.size, "us")

    // WAND over the warehouse's own blocks of the run's bare terms
    import c.spark.implicits._
    val terms = qs.filter(_.shape == "term").map(_.text).distinct
    val io = c.io(wh)
    val (n, avg) = io.read(Tables.Stats).as[(Long, Double)].head()
    val stats = IndexStats(n, avg)
    val blocks = io.read(Tables.Blocks).filter($"term".isin(terms: _*)).as[IndexBlock].collect().groupBy(_.term)
    val wandPostings = blocks.values.flatten.map(_.n_docs.toLong).sum.toDouble
    val wandNs = if (blocks.isEmpty) 0.0 else perIter(0.3)(blocks.foreach { case (_, bs) =>
      val df = bs.map(_.n_docs.toLong).sum.toDouble
      val idf = StrictMath.log(((n - df) + 0.5) / (df + 0.5) + 1.0)
      Wand.topKForPartition(bs.iterator, idf, params.topK, params, stats).size
    }) / wandPostings
    put(r, "query.wand_ns_per_posting", wandNs, "ns")

    // snippets of each query over a slice of the turns
    val pairs = texts.take(20).map(q => (Snippeter.queryKeys(q, params.stemBareTerms),
      QueryEvaluator.wordsAndPhrasesWeights(q)))
    val docs = sample.take(50).map(_.text)
    put(r, "query.snippet_us", perIter(0.3)(pairs.foreach { case (k, w) =>
      docs.foreach(Snippeter.snippet(_, k, w))
    }) / 1e3 / (pairs.size * docs.size), "us")
  }

  // -------------------------------------------------------- finish
  /** Self-time table, span file and zero-fill of any common metric the
    * workload did not reach. */
  def finish(c: Ctx, r: Report): Unit = {
    val self = c.tracer.selfTimes()
    SelfLayers.foreach(l => put(r, s"self_s.$l", self.find(_._1 == l).map(_._2).getOrElse(0.0), "s"))
    Reported.foreach(k => require(r.layer.contains(k), s"traced run did not measure $k"))
    c.tracer.write(c.work.resolve("spans.jsonl"))
    val w = new StringBuilder
    w ++= s"self time per layer (${r.info("workload")}, seed ${r.info("seed")})\n"
    w ++= f"${"layer"}%-10s ${"self_s"}%10s ${"spans"}%8s\n"
    self.sortBy(-_._2).foreach { case (l, s, n) => w ++= f"$l%-10s $s%10.3f $n%8d\n" }
    w ++= "\nper-layer metrics\n"
    r.layer.foreach { case (k, (v, u)) => w ++= f"$k%-44s ${Json.num(v)}%20s $u\n" }
    java.nio.file.Files.writeString(c.work.resolve("layers.txt"), w.toString)
    print(w.toString.linesIterator.take(2 + self.size).map("trace " + _).mkString("", "\n", "\n"))
  }
}
