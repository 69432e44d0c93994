package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.build.{IndexBuilder, StageMetric}
import graft.corpus.TranscriptGen
import graft.model.Turn
import graft.store.ParquetTableIO

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

object Stats {
  def median(xs: collection.Seq[Double]): Double = percentile(xs, 50.0)
  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** What a run reports. `e2e` are the gated end-to-end metrics every
  * workload reports; `named` are the workload's own end-to-end figures;
  * `layer` the per-layer figures of a traced run; `info` run facts. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L
}

/** Run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Int,
    val tracer: Tracer, val nproc: Int) {
  import spark.implicits._

  def path(name: String): String = work.resolve(name).toString

  private val t0 = System.nanoTime()
  /** Progress line on stderr, with seconds since the session started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s  $msg")

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Seeded corpus of `convs` conversations, written as parquet. */
  def writeCorpus(name: String, convs: Long): String = {
    val p = path(name)
    tracer.span("store", "write_corpus") {
      TranscriptGen.generate(spark, convs, seed = seed).write.parquet(p)
    }
    p
  }

  def turnsLocal(from: Long, until: Long): Seq[Turn] =
    (from until until).flatMap(TranscriptGen.turnsFor(_, 8, seed))

  def io(wh: String) = new ParquetTableIO(spark, wh)

  def build(corpus: String, wh: String): Seq[StageMetric] = tracer.span("build", "build") {
    new IndexBuilder(spark, io(wh)).build(spark.read.parquet(corpus).as[Turn])
  }

  def compact(wh: String): Seq[StageMetric] = tracer.span("build", "compact") {
    new IndexBuilder(spark, io(wh)).compact()
  }

  /** Runs the seeded set-up `Workloads.SetupReps` times, each from an
    * empty directory, and records the median as `setup_s`; returns what
    * the last repetition produced. */
  def setup[T](r: Report)(once: Int => T): T = {
    val runs = (0 until Workloads.SetupReps).map(i => time(tracer.span("bench", s"setup_$i")(once(i))))
    r.e2e("setup_s") = (Stats.median(runs.map(_._2)), "s")
    r.info("setup_reps_s") = runs.map(x => f"${x._2}%.3f").mkString(",")
    runs.last._1
  }

  /** Timed rounds: at least `minRounds`, then until `seconds` of measured
    * time have passed or `maxRounds` ran. `body` returns its own measured
    * seconds, so untimed checks inside a round stay off the clock.
    * A traced run instead runs three rounds: untraced, traced, untraced,
    * and reports the traced one against the mean of the other two (which
    * cancels the warming from one round to the next) as the tracing
    * overhead. */
  def rounds(r: Report, minRounds: Int, maxRounds: Int)(body: Int => Double): Seq[Double] =
    if (tracer.enabled) {
      val before = tracer.off(body(0))
      val traced = tracer.span("bench", "timed_round")(body(1))
      val after = tracer.off(body(2))
      val plain = (before + after) / 2
      r.layer("trace.overhead_pct") = ((traced - plain) / plain * 100.0, "%")
      Seq(before, traced, after)
    } else {
      val out = mutable.ArrayBuffer.empty[Double]
      var measured = 0.0
      while (out.size < maxRounds && (out.size < minRounds || measured < seconds)) {
        val s = body(out.size)
        out += s; measured += s
      }
      out.toSeq
    }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally st.close()
    }
  }

  def dataFiles(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.filter(f => f.getFileName.toString.endsWith(".parquet") &&
        !f.getFileName.toString.startsWith(".")).count() finally st.close()
    }
  }

  def deleteTree(p: String): Unit = Main.deleteTree(Paths.get(p))
}

/** Minimal blocking HTTP client for the server's JSON routes. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port"

  def get(route: String, params: (String, String)*): (Int, String) = {
    val q = params.map { case (k, v) => k + "=" + java.net.URLEncoder.encode(v, "UTF-8") }.mkString("&")
    send(HttpRequest.newBuilder(URI.create(s"$base$route?$q")).GET().build())
  }

  def post(route: String, body: String): (Int, String) =
    send(HttpRequest.newBuilder(URI.create(base + route))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())

  private def send(req: HttpRequest): (Int, String) = {
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }
}

object Http {
  private val hit = "\"title\":\"([^\"]*)\"".r
  private val score = "\"score\":([^,}\\]]+)\\}".r

  /** (title, score) per hit of a /search reply, in reply order. */
  def hits(body: String): Vector[(String, Double)] = {
    val titles = hit.findAllMatchIn(body).map(_.group(1)).toVector
    val scores = score.findAllMatchIn(body).map(_.group(1).toDouble).toVector
    require(titles.size == scores.size, s"unparseable /search reply: ${body.take(200)}")
    titles.zip(scores)
  }
}

object Main {
  private val workloads: Map[String, (Ctx, Report) => Unit] = Map(
    "batch" -> Workloads.batch,
    "search" -> Workloads.search,
    "churn" -> Workloads.churn)

  def deleteTree(root: Path): Unit =
    if (Files.exists(root)) {
      val st = Files.walk(root)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { p =>
        try Files.deleteIfExists(p) catch { case _: java.io.IOException => () }
      } finally st.close()
    }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Heap still reachable after the run, after full collections: what the
    * program retains (caches, engines, broadcasts) once its work is done. */
  private def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    def arg(name: String): String = {
      val i = args.indexOf(s"--$name")
      require(i >= 0 && i + 1 < args.length, s"--$name required")
      args(i + 1)
    }
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toInt
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val run = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val nproc = Runtime.getRuntime.availableProcessors()

    val freeGiB = work.toFile.getUsableSpace / (1024L * 1024 * 1024)
    require(freeGiB >= 2, s"only $freeGiB GiB free under $work (need >= 2)")

    // the session graft.Main and ServerMain build, at local[nproc]; their
    // shuffle width knob (SPARK_GRAFT_SHUFFLE, default 32 for a 32-core
    // host) is sized to this host unless the environment sets it
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", (2 * nproc).toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val r = new Report
    r.info("workload") = workload
    r.info("seed") = seed.toString
    r.info("nproc") = nproc.toString
    val ctx = new Ctx(spark, work, seed, seconds, new Tracer(trace, spark.sparkContext), nproc)
    val correct =
      try { run(ctx, r); true }
      catch { case e: Workloads.Mismatch => System.err.println(s"[perfbench] ${e.getMessage}"); false }
    r.named("peak_rss_mb") = (peakRssMb(), "MB")
    r.e2e("heap_live_mb") = (liveHeapMb(), "MB")
    if (trace && correct) Layers.finish(ctx, r)
    ctx.log("stopping")
    spark.stop()
    ctx.log("stopped")

    r.info.foreach { case (k, v) => println(s"info $workload $k $v") }
    r.named.foreach { case (k, (v, u)) => println(f"metric $workload $k ${Json.num(v)} $u") }
    r.layer.foreach { case (k, (v, u)) => println(f"layer $workload $k ${Json.num(v)} $u") }
    val ms = (if (trace) r.layer.filter { case (k, _) => Layers.Reported.contains(k) } else r.e2e)
    val metrics = ms.map { case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }
    println(s"""{"correct":$correct,"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""metrics":{${metrics.mkString(",")}}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
