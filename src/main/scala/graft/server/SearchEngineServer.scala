package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.GraftParams
import graft.api.SparkSearchEngine
import graft.build.IndexBuilder
import graft.model.Turn
import graft.store.ParquetTableIO
import graft.util.Cancellation

/** HTTP surface — route-for-route parity with the reference server
  * (/root/reference/source/SearchEngineServer.cpp:19-28), re-expressed for
  * a table-input engine (crawl = pull rows from source tables):
  *
  *   GET    /                       API documentation
  *   GET    /search?query&accuracy  top-k hits as [{title,content,url,score}]
  *   GET    /searchMany?queries&accuracy  (beyond parity) N queries, ONE plan →
  *                                  {"query":[hits]} per query
  *   PUT    /setThreadsNumber       {numberOfThreads} → spark.sql.shuffle.partitions
  *                                  (the scheduler's parallelism knob; executor
  *                                  count is fixed at submit time on a cluster)
  *   POST   /crawl                  {seedUrls:[paths], numberOfPages} → ingest
  *                                  parquet turn tables as an incremental batch
  *   PUT    /crawl_terminate        {clearDocumentsHistory} → cancel ingest jobs
  *   POST   /indexDocuments         {clear} → (re)build the index from --input
  *   POST   /crawlAndIndexDocument  {seedUrls, numberOfPages, clear}
  *   PUT    /setRankerParameters    {BM25_K1, BM25_B, PHRASE_BOOST, EXACT_MATCH_WEIGHT}
  *   DELETE /clearCrawlHistory      empty the warehouse (one reset commit)
  *   PUT    /indexDocuments_terminate {clearIndexHistory} → cancel build jobs
  *
  * Built on the JDK's HttpServer — no external dependencies. Long-running
  * operations run synchronously in the handler (as in the reference) but
  * are job-group-tagged so the *_terminate routes can cancel them from
  * another connection.
  */
final class SearchEngineServer(
    spark: SparkSession,
    warehouse: String,
    inputPath: Option[String],
    port: Int = 8080,
    // loopback by default (ADVICE r2): /clearCrawlHistory drops the index
    // and /crawl reads local paths — exposing them needs an explicit --host
    host: String = "127.0.0.1") {
  import spark.implicits._

  @volatile private var params = GraftParams()
  private def io = new ParquetTableIO(spark, warehouse)
  /** The engine (one log version: every write re-opens it) and the
    * `--input` turns frame its hits are snippeted from, resolved together
    * and swapped as one value; a request reads it once. Opening reads the
    * log on the driver, and the turns frame uses the declared `Turn`
    * schema, so a re-open runs no Spark job. A failed turns read is
    * retried by each request, never pinned. */
  @volatile private var serving = open()
  private def open(): (SparkSearchEngine, Option[scala.util.Try[DataFrame]]) =
    (new SparkSearchEngine(spark, io, params), inputPath.map(p => scala.util.Try(turnsFrom(p).toDF())))
  private def reopen(): Unit = serving = open()
  /** Writes run one at a time: each mints its batch id from the latest
    * commit, and two writers on one version would race for the next (the
    * loser's commit fails). Reads never take it. */
  private val writeLock = new Object

  // ---- minimal flat-JSON helpers (fields are numbers/bools/strings/
  // string arrays — the reference's bodies are exactly this shape) -------
  private def jsonField(body: String, key: String): Option[String] = {
    val m = java.util.regex.Pattern
      .compile("\"" + java.util.regex.Pattern.quote(key) + "\"\\s*:\\s*(\"(?:[^\"\\\\]|\\\\.)*\"|\\[[^\\]]*\\]|[^,}\\s]+)")
      .matcher(body)
    if (m.find()) Some(m.group(1)) else None
  }
  private def unquote(v: String): String =
    if (v.length >= 2 && v.head == '"' && v.last == '"')
      v.substring(1, v.length - 1).replace("\\\"", "\"").replace("\\\\", "\\")
    else v
  private def jsonStringArray(v: String): Seq[String] =
    "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(v).map(_.group(1)).toSeq
  private def jsonLongArray(v: String): Seq[Long] =
    "-?\\d+".r.findAllIn(v).map(_.toLong).toSeq
  private def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def respond(ex: HttpExchange, code: Int, body: String,
      contentType: String = "text/plain"): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def readBody(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), "UTF-8")

  private def queryParams(ex: HttpExchange): Map[String, String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split("&").iterator.filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      val k = if (i < 0) kv else kv.substring(0, i)
      val v = if (i < 0) "" else java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8")
      k -> v
    }.toMap
  }

  private def handler(method: String)(f: HttpExchange => (Int, String)): com.sun.net.httpserver.HttpHandler =
    (ex: HttpExchange) =>
      try {
        if (ex.getRequestMethod != method) respond(ex, 405, s"use $method")
        else {
          val (code, body) = f(ex)
          respond(ex, code, body)
        }
      } catch {
        case e: Throwable => respond(ex, 500, "Error " + String.valueOf(e.getMessage))
      }

  private def turnsFrom(path: String) =
    spark.read.schema(org.apache.spark.sql.Encoders.product[Turn].schema).parquet(path).as[Turn]

  private def ingest(paths: Seq[String], limit: Option[Int]): Long = {
    Cancellation.tag(spark.sparkContext, "graft-ingest")
    try {
      val b = new IndexBuilder(spark, io)
      var batch = b.nextIngestBatchId()
      paths.foreach { p =>
        val t = limit.map(n => turnsFrom(p).limit(n)).getOrElse(turnsFrom(p))
        b.buildIncremental(t, batch)
        batch += 1
      }
      batch
    } finally spark.sparkContext.clearJobGroup()
  }

  private def buildIndex(clear: Boolean): Unit = {
    val input = inputPath.getOrElse(sys.error("server started without --input"))
    Cancellation.tag(spark.sparkContext, "graft-index")
    try new IndexBuilder(spark, io).build(turnsFrom(input), resume = !clear)
    finally spark.sparkContext.clearJobGroup()
  }

  private def searchJson(query: String, accuracy: Double): String = {
    val (engine, turns) = serving
    val hits = turns match {
      case Some(t) => engine.search(query, t.getOrElse(turnsFrom(inputPath.get).toDF()), accuracy)
      case None =>
        engine.topKAuto(query, accuracy, params.topK).map { case (d, s) =>
          graft.model.SearchHit(d, s"doc-$d", -1, s, "", "")
        }
    }
    hits.map { h =>
      s"""{"title":"${jsonEscape(s"${h.conv_id}#${h.turn_idx}")}",""" +
        s""""content":"${jsonEscape(if (h.snippet.nonEmpty) h.snippet else h.text)}",""" +
        s""""url":"${jsonEscape(s"graft://${h.conv_id}/${h.turn_idx}")}",""" +
        s""""score":${h.score}}"""
    }.mkString("[", ",", "]")
  }

  /** Bulk hits as {"<query>":[{title,content,url,score},...],...} — the
    * per-hit shape of /search, grouped by query. */
  private def searchManyJson(queries: Seq[String], accuracy: Double): String = {
    val (engine, turns) = serving
    val rows: Seq[(String, Long, String, Int, Double, String)] = turns match {
      case Some(t) =>
        engine.searchManyWithSnippets(queries, t.getOrElse(turnsFrom(inputPath.get).toDF()),
          params.topK, accuracy)
          .select($"query", $"docId", $"conv_id", $"turn_idx", $"score", $"snippet")
          .as[(String, Long, String, Int, Double, String)].collect().toSeq
      case None =>
        engine.searchMany(queries, params.topK, accuracy)
          .as[(String, Long, String, Int, Double)].collect().toSeq
          .map { case (q, d, c, t, s) => (q, d, c, t, s, "") }
    }
    groupedHitsJson(queries, rows)
  }

  /** Bulk ARBITRARY-shape hits (boolean/NOT/brackets/mixed — the shapes
    * /searchMany rejects) through `searchManyAuto`: operand fetch shared
    * across the batch, per-query results ≡ the /search evaluation. */
  private def searchManyAutoJson(queries: Seq[String], accuracy: Double): String =
    groupedHitsJson(queries,
      serving._1.searchManyAuto(queries, params.topK, accuracy)
        .as[(String, Long, String, Int, Double)].collect().toSeq
        .map { case (q, d, c, t, s) => (q, d, c, t, s, "") })

  private def groupedHitsJson(
      queries: Seq[String],
      rows: Seq[(String, Long, String, Int, Double, String)]): String = {
    val byQuery = rows.groupBy(_._1)
    queries.distinct.map { q =>
      val hits = byQuery.getOrElse(q, Seq.empty)
        .sortBy { case (_, d, _, _, s, _) => (-s, d) }
        .map { case (_, _, c, t, s, snip) =>
          s"""{"title":"${jsonEscape(s"$c#$t")}",""" +
            s""""content":"${jsonEscape(snip)}",""" +
            s""""url":"${jsonEscape(s"graft://$c/$t")}",""" +
            s""""score":$s}"""
        }.mkString("[", ",", "]")
      s""""${jsonEscape(q)}":$hits"""
    }.mkString("{", ",", "}")
  }

  private val docText =
    """graft search engine API (reference-parity routes + /searchMany + /searchManyAuto):
      |GET /search?query=Q&accuracy=A | GET /searchMany?queries=Q1,Q2,...&accuracy=A
      |GET /searchManyAuto?queries=Q1,Q2,...&accuracy=A  (boolean/mixed shapes allowed)
      |PUT /setThreadsNumber {"numberOfThreads":N}
      |POST /crawl {"seedUrls":["path.parquet"],"numberOfPages":N}
      |PUT /crawl_terminate {"clearDocumentsHistory":0|1}
      |POST /indexDocuments {"clear":0|1} | POST /crawlAndIndexDocument {...}
      |PUT /setRankerParameters {"BM25_K1":..,"BM25_B":..,"PHRASE_BOOST":..,"EXACT_MATCH_WEIGHT":..}
      |DELETE /clearCrawlHistory | PUT /indexDocuments_terminate {"clearIndexHistory":0|1}
      |POST /deleteDocuments {"docIds":[..],"compact":0|1,"batchId":N?}  (per-doc retraction)
      |""".stripMargin

  private var server: HttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _

  def start(): Int = {
    server = HttpServer.create(new java.net.InetSocketAddress(host, port), 0)
    pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    server.setExecutor(pool)

    server.createContext("/", handler("GET") { ex =>
      if (ex.getRequestURI.getPath != "/") (404, "unknown route")
      else (200, docText)
    })

    server.createContext("/search", handler("GET") { ex =>
      val ps = queryParams(ex)
      (ps.get("query"), ps.get("accuracy")) match {
        case (Some(q), Some(a)) =>
          try (200, searchJson(q, a.toDouble))
          catch { case e: Throwable => (404, String.valueOf(e.getMessage)) }
        case _ => (404, "query and accuracy are required")
      }
    })

    // beyond reference parity: the bulk path — N single-atom queries
    // (comma-separated; quoted phrases allowed) in ONE distributed plan
    server.createContext("/searchMany", handler("GET") { ex =>
      val ps = queryParams(ex)
      (ps.get("queries"), ps.get("accuracy")) match {
        case (Some(qs), Some(a)) =>
          val list = qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          if (list.isEmpty) (404, "queries must be a non-empty comma-separated list")
          else
            try (200, searchManyJson(list, a.toDouble))
            catch { case e: Throwable => (404, String.valueOf(e.getMessage)) }
        case _ => (404, "queries and accuracy are required")
      }
    })

    // beyond parity: bulk ARBITRARY query shapes (boolean ops, NOT,
    // brackets, mixed atoms) — per-query ≡ /search, operand fetch shared
    server.createContext("/searchManyAuto", handler("GET") { ex =>
      val ps = queryParams(ex)
      (ps.get("queries"), ps.get("accuracy")) match {
        case (Some(qs), Some(a)) =>
          val list = qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq
          if (list.isEmpty) (404, "queries must be a non-empty comma-separated list")
          else
            try (200, searchManyAutoJson(list, a.toDouble))
            catch { case e: Throwable => (404, String.valueOf(e.getMessage)) }
        case _ => (404, "queries and accuracy are required")
      }
    })

    server.createContext("/setThreadsNumber", handler("PUT") { ex =>
      val body = readBody(ex)
      jsonField(body, "numberOfThreads").map(v => unquote(v).toInt) match {
        case Some(n) if n > 0 && n < Runtime.getRuntime.availableProcessors() =>
          spark.conf.set("spark.sql.shuffle.partitions", n.toString)
          (200, "Successfully updated threads number.")
        case Some(_) =>
          (404, "Failed to update the number of threads, make sure the number is between 0 and " +
            (Runtime.getRuntime.availableProcessors() - 1) + ".")
        case None => (404, "Invalid JSON data.")
      }
    })

    server.createContext("/crawl", handler("POST") { ex =>
      val body = readBody(ex)
      (jsonField(body, "seedUrls"), jsonField(body, "numberOfPages")) match {
        case (Some(urls), Some(n)) =>
          writeLock.synchronized { ingest(jsonStringArray(urls), Some(unquote(n).toInt)); reopen() }
          (200, "Successfully crawled the pages")
        case _ => (400, "Invalid JSON data")
      }
    })

    server.createContext("/crawl_terminate", handler("PUT") { ex =>
      val body = readBody(ex)
      jsonField(body, "clearDocumentsHistory") match {
        case Some(v) =>
          Cancellation.cancelGroup(spark, "graft-ingest")
          if (unquote(v).toInt != 0) clearAll()
          (200, "Successfully terminated crawl process")
        case None => (400, "Invalid JSON data")
      }
    })

    server.createContext("/indexDocuments", handler("POST") { ex =>
      val body = readBody(ex)
      jsonField(body, "clear") match {
        case Some(v) =>
          writeLock.synchronized { buildIndex(unquote(v).toInt != 0); reopen() }
          (200, "Successfully created Inverted Index")
        case None => (400, "Invalid JSON data")
      }
    })

    server.createContext("/crawlAndIndexDocument", handler("POST") { ex =>
      val body = readBody(ex)
      (jsonField(body, "seedUrls"), jsonField(body, "numberOfPages"), jsonField(body, "clear")) match {
        case (Some(urls), Some(n), Some(_)) =>
          // table-input engine: "crawl and index" = incremental-ingest the
          // sources (which indexes them); `clear` folds into batch resume
          writeLock.synchronized { ingest(jsonStringArray(urls), Some(unquote(n).toInt)); reopen() }
          (200, "Successfully crawled the pages and created Inverted Index")
        case _ => (400, "Invalid JSON data")
      }
    })

    // beyond parity: per-document retraction (the reference can only
    // truncate whole collections) — IndexBuilder.deleteDocs tombstones;
    // {"compact":1} purges them physically in the same call. batchId is
    // the idempotency key (a replayed id is a committed no-op); omitted,
    // the server continues after the last committed delete batch.
    server.createContext("/deleteDocuments", handler("POST") { ex =>
      val body = readBody(ex)
      jsonField(body, "docIds") match {
        case Some(arr) =>
          val ids = jsonLongArray(arr)
          if (ids.isEmpty) (400, "docIds must be a non-empty array of ids")
          else writeLock.synchronized {
            val b = new IndexBuilder(spark, io)
            val batchId = jsonField(body, "batchId").map(v => unquote(v).toLong)
              .getOrElse(b.nextDeleteBatchId())
            b.deleteDocs(ids, batchId)
            val compacted = jsonField(body, "compact").exists(v => unquote(v).toInt != 0)
            if (compacted) b.compact()
            reopen()
            (200, s"Successfully deleted documents (batch $batchId" +
              (if (compacted) ", compacted)" else ")"))
          }
        case None => (400, "Invalid JSON data")
      }
    })

    server.createContext("/setRankerParameters", handler("PUT") { ex =>
      val body = readBody(ex)
      (jsonField(body, "BM25_K1"), jsonField(body, "BM25_B"),
        jsonField(body, "PHRASE_BOOST"), jsonField(body, "EXACT_MATCH_WEIGHT")) match {
        case (Some(k1), Some(b), Some(pb), Some(emw)) =>
          writeLock.synchronized {
            params = params.copy(k1 = unquote(k1).toDouble, b = unquote(b).toDouble,
              phraseBoost = unquote(pb).toDouble, exactMatchWeight = unquote(emw).toDouble)
            reopen()
          }
          (200, "Successfully set new Ranker parameters")
        case _ => (404, "Invalid JSON data")
      }
    })

    server.createContext("/clearCrawlHistory", handler("DELETE") { _ =>
      clearAll()
      (200, "Successfully cleared crawl history.")
    })

    server.createContext("/indexDocuments_terminate", handler("PUT") { ex =>
      val body = readBody(ex)
      jsonField(body, "clearIndexHistory") match {
        case Some(v) =>
          Cancellation.cancelGroup(spark, "graft-index")
          if (unquote(v).toInt != 0) clearAll()
          (200, "Successfully terminated indexing process")
        case None => (400, "Invalid JSON data")
      }
    })

    server.start()
    server.getAddress.getPort
  }

  /** One clear for every route (and `Main clear`): an empty-snapshot
    * commit, so tombstones, the docId watermark and the ledger go with the
    * tables and a later resume build starts a clean corpus life. */
  private def clearAll(): Unit = writeLock.synchronized {
    new IndexBuilder(spark, io).clear()
    reopen()
  }

  def stop(): Unit = {
    if (server != null) server.stop(0)
    // the handler pool is non-daemon: without this a programmatic embedder
    // (benches, tests) never gets its JVM back after stop()
    if (pool != null) { pool.shutdown(); () }
  }
}

/** `spark-submit --class graft.server.ServerMain <jar> --warehouse W
  * [--input turns.parquet] [--port 8080] [--host 127.0.0.1]` */
object ServerMain {
  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-server")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Cancellation.installShutdownHook(spark)
    val srv = new SearchEngineServer(spark,
      arg(args, "warehouse").getOrElse(sys.error("--warehouse required")),
      arg(args, "input"),
      arg(args, "port").map(_.toInt).getOrElse(8080),
      arg(args, "host").getOrElse("127.0.0.1"))
    val port = srv.start()
    println(s"graft server listening on :$port")
    Thread.currentThread().join()
  }
}
