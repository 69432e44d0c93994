package graft.server

import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** End-to-end drive of the HTTP surface: route-for-route against the
  * reference server's contract (methods, bodies, status codes). */
class ServerSpec extends AnyFunSuite {
  import graft.model.Turn
  lazy val spark = graft.EngineSpecFixture.spark

  private lazy val (srv, port, turnsPath) = {
    import spark.implicits._
    val turnsPath = java.nio.file.Files.createTempDirectory("srv_turns_").toString + "/turns"
    graft.corpus.TranscriptGen.generate(spark, 20).write.mode("overwrite").parquet(turnsPath)
    val wh = java.nio.file.Files.createTempDirectory("srv_wh_").toString
    val s = new SearchEngineServer(spark, wh, Some(turnsPath), port = 0)
    val p = s.start()
    (s, p, turnsPath)
  }
  private val client = HttpClient.newHttpClient()
  private def url(path: String, p: Int) = s"http://127.0.0.1:$p$path"
  private def send(req: HttpRequest): HttpResponse[String] =
    client.send(req, HttpResponse.BodyHandlers.ofString())
  private def put(path: String, body: String) =
    send(HttpRequest.newBuilder(URI.create(url(path, port)))
      .PUT(HttpRequest.BodyPublishers.ofString(body)).build())
  private def post(path: String, body: String, p: => Int = port) =
    send(HttpRequest.newBuilder(URI.create(url(path, p)))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build())
  private def get(path: String, p: => Int = port) =
    send(HttpRequest.newBuilder(URI.create(url(path, p))).GET().build())
  private def delete(path: String) =
    send(HttpRequest.newBuilder(URI.create(url(path, port))).DELETE().build())

  test("root serves the API documentation") {
    val r = get("/")
    assert(r.statusCode() == 200 && r.body().contains("/search"))
  }

  test("indexDocuments then search returns scored JSON hits") {
    val idx = post("/indexDocuments", """{"clear": 1}""")
    assert(idx.statusCode() == 200 && idx.body().contains("Successfully created Inverted Index"))
    val r = get("/search?query=whale&accuracy=0.0")
    assert(r.statusCode() == 200, r.body())
    assert(r.body().startsWith("[") && r.body().contains("\"score\":"))
    assert(r.body().contains("\"url\":\"graft://conv-"))
    // search with a phrase (URL-encoded quotes)
    val r2 = get("/search?query=%22blue%20whale%22&accuracy=0.0")
    assert(r2.statusCode() == 200 && r2.body().contains("\"score\":"))
  }

  test("searchMany scores N queries in one plan, grouped JSON with snippets") {
    post("/indexDocuments", """{"clear": 1}""")
    // mixed atoms: two bare terms + a URL-encoded quoted phrase
    val r = get("/searchMany?queries=whale,blue,%22blue%20whale%22&accuracy=0.000001")
    assert(r.statusCode() == 200, r.body())
    val body = r.body()
    assert(body.startsWith("{"))
    assert(body.contains("\"whale\":[") && body.contains("\"blue\":[")
      && body.contains("\"\\\"blue whale\\\"\":["), body.take(200))
    assert(body.contains("<span>"), "snippets must be rendered")
    // missing params rejected like the reference's routes
    assert(get("/searchMany?accuracy=0.0").statusCode() == 404)
    assert(get("/searchMany?queries=&accuracy=0.0").statusCode() == 404)
  }

  test("searchManyAuto evaluates boolean/mixed shapes searchMany rejects") {
    post("/indexDocuments", """{"clear": 1}""")
    // a bracketed boolean and a mixed query — both 404 on /searchMany,
    // both 200 with per-query hit arrays on /searchManyAuto
    val boolQ = "(%22blue%20whale%22%20OR%20%22query%20engine%22)%20NOT%20%22red%20fish%22"
    assert(get(s"/searchMany?queries=$boolQ&accuracy=0.0").statusCode() == 404)
    val r = get(s"/searchManyAuto?queries=$boolQ,whale&accuracy=0.0")
    assert(r.statusCode() == 200, r.body())
    val body = r.body()
    assert(body.startsWith("{") && body.contains("\"whale\":[") &&
      body.contains("NOT \\\"red fish\\\"\":["), body.take(300))
    assert(body.contains("\"score\":"))
    assert(get("/searchManyAuto?accuracy=0.0").statusCode() == 404)
  }

  test("concurrent /search: every reply is byte-equal to its serial reply") {
    post("/indexDocuments", """{"clear": 1}""")
    val queries = Seq(
      "whale", "blue", // term
      "%22blue%20whale%22", "%22red%20fish%22", // phrase
      "(%22blue%20whale%22%20OR%20%22query%20engine%22)%20NOT%20%22red%20fish%22", // boolean
      "%22blue%20whale%22%20whale%20engine") // mixed
    val serial = queries.map { q =>
      val r = get(s"/search?query=$q&accuracy=0.0")
      assert(r.statusCode() == 200, s"$q: ${r.body()}")
      q -> r.body()
    }.toMap
    val clients = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    try {
      val replies = (0 until clients).map { c =>
        // each client its own rotation, so different shapes overlap
        val client: java.util.concurrent.Callable[Seq[(String, Int, String)]] = () =>
          (0 until 3 * queries.size).map { i =>
            val q = queries((c + i) % queries.size)
            val r = get(s"/search?query=$q&accuracy=0.0")
            (q, r.statusCode(), r.body())
          }
        pool.submit(client)
      }.flatMap(_.get())
      replies.foreach { case (q, code, body) =>
        assert(code == 200 && body == serial(q), s"$q under concurrency: $code ${body.take(200)}")
      }
    } finally { pool.shutdown(); () }
  }

  test("concurrent first /search on a re-opened engine: every reply is byte-equal to its serial reply") {
    post("/indexDocuments", """{"clear": 1}""")
    // re-open the engine at the current values: its first requests race
    // for the lazily loaded doc directory and lexicon, and run the driver
    // phrase fold side by side — a mixed query and a phrase lead, so any
    // two or more clients include both
    assert(put("/setRankerParameters",
      """{"BM25_K1": 1.5, "BM25_B": 0.75, "PHRASE_BOOST": 1.35, "EXACT_MATCH_WEIGHT": 0.6}""").statusCode() == 200)
    val queries = Seq("%22blue%20whale%22%20whale%20engine", "%22blue%20whale%22", "whale", "zzzunknown",
      "%22zzz%20nothing%22", "(%22blue%20whale%22%20OR%20%22query%20engine%22)%20NOT%20%22red%20fish%22")
    val clients = math.max(2, Runtime.getRuntime.availableProcessors)
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(clients)
    val replies = try {
      val calls = (0 until clients).map { c =>
        val q = queries(c % queries.size)
        val call: java.util.concurrent.Callable[(String, HttpResponse[String])] = () => {
          start.await(); q -> get(s"/search?query=$q&accuracy=0.0")
        }
        pool.submit(call)
      }
      start.countDown()
      calls.map(_.get())
    } finally { pool.shutdown(); () }
    val serial = queries.map(q => q -> get(s"/search?query=$q&accuracy=0.0")).toMap
    serial.foreach { case (q, r) => assert(r.statusCode() == 200, s"$q: ${r.body()}") }
    replies.foreach { case (q, r) =>
      assert(r.statusCode() == 200 && r.body() == serial(q).body(),
        s"$q on the first requests: ${r.statusCode()} ${r.body().take(200)}")
    }
  }

  test("setRankerParameters swaps the ranker; bad body rejected") {
    val ok = put("/setRankerParameters",
      """{"BM25_K1": 1.2, "BM25_B": 0.8, "PHRASE_BOOST": 1.5, "EXACT_MATCH_WEIGHT": 0.5}""")
    assert(ok.statusCode() == 200)
    assert(get("/search?query=whale&accuracy=0.0").statusCode() == 200)
    assert(put("/setRankerParameters", """{"nope": 1}""").statusCode() == 404)
    // restore defaults for other tests
    put("/setRankerParameters",
      """{"BM25_K1": 1.5, "BM25_B": 0.75, "PHRASE_BOOST": 1.35, "EXACT_MATCH_WEIGHT": 0.6}""")
  }

  test("setThreadsNumber adjusts shuffle parallelism within bounds") {
    assert(put("/setThreadsNumber", """{"numberOfThreads": 2}""").statusCode() == 200)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "2")
    assert(put("/setThreadsNumber", """{"numberOfThreads": 100000}""").statusCode() == 404)
    spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("crawl ingests a turns table incrementally; terminate responds") {
    val r = post("/crawl", s"""{"seedUrls": ["$turnsPath"], "numberOfPages": 5}""")
    assert(r.statusCode() == 200 && r.body().contains("Successfully crawled"))
    assert(put("/crawl_terminate", """{"clearDocumentsHistory": 0}""").statusCode() == 200)
    assert(post("/crawl", """{"bad": 1}""").statusCode() == 400)
  }

  test("crawl re-opens the engine: crawled conversations are searchable at once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srv_crawl_").toString
    val input = s"$dir/turns"
    val batch = s"$dir/batch"
    val baseConvs = graft.corpus.TranscriptGen.generateLocal(10).map(_.conv_id).toSet
    val fresh = graft.corpus.TranscriptGen.generateLocal(20).filterNot(t => baseConvs(t.conv_id))
    graft.corpus.TranscriptGen.generate(spark, 10).write.parquet(input)
    val s1 = new SearchEngineServer(spark, s"$dir/wh", Some(input), port = 0)
    val p1 = s1.start()
    try {
      assert(post("/indexDocuments", """{"clear": 1}""", p1).statusCode() == 200)
      val query = "/search?query=whale&accuracy=0.000001"
      val before = get(query, p1)
      assert(before.statusCode() == 200, before.body())
      // the new conversations: a crawl source, and rows of the served
      // --input (hits are snippeted from it)
      spark.createDataset(fresh).write.parquet(batch)
      spark.createDataset(fresh).write.mode("append").parquet(input)
      val crawl = post("/crawl", s"""{"seedUrls": ["$batch"], "numberOfPages": ${fresh.size}}""", p1)
      assert(crawl.statusCode() == 200, crawl.body())
      val after = get(query, p1)
      assert(after.statusCode() == 200, after.body())
      val freshConvs = fresh.map(_.conv_id).toSet
      assert(freshConvs.exists(c => after.body().contains(s"graft://$c/")),
        s"crawled turns must be searchable: ${after.body().take(300)}")
      assert(!freshConvs.exists(c => before.body().contains(s"graft://$c/")))
      // a freshly opened server over the same warehouse answers identically
      val s2 = new SearchEngineServer(spark, s"$dir/wh", Some(input), port = 0)
      val p2 = s2.start()
      try assert(get(query, p2).body() == after.body())
      finally s2.stop()
    } finally s1.stop()
  }

  test("deleteDocuments tombstones per-doc; compact purges without changing results") {
    post("/indexDocuments", """{"clear": 1}""")
    val r1 = get("/search?query=whale&accuracy=0.0")
    assert(r1.statusCode() == 200)
    val del = post("/deleteDocuments", """{"docIds": [0, 2, 4, 6, 8, 10, 12]}""")
    assert(del.statusCode() == 200 && del.body().contains("Successfully deleted"), del.body())
    val r2 = get("/search?query=whale&accuracy=0.0")
    assert(r2.statusCode() == 200, r2.body())
    // deletions shrink the corpus → stats/df change → every score changes
    assert(r2.body() != r1.body())
    // physical purge must not change any result the tombstones produced
    val cmp = post("/deleteDocuments", """{"docIds": [0], "compact": 1}""")
    assert(cmp.statusCode() == 200 && cmp.body().contains("compacted"), cmp.body())
    val r3 = get("/search?query=whale&accuracy=0.0")
    assert(r3.statusCode() == 200 && r3.body() == r2.body())
    assert(post("/deleteDocuments", """{"bad": 1}""").statusCode() == 400)
    assert(post("/deleteDocuments", """{"docIds": []}""").statusCode() == 400)
  }

  test("concurrent unkeyed /deleteDocuments: two batches, both id sets gone") {
    import spark.implicits._
    import graft.build.Tables
    val dir = java.nio.file.Files.createTempDirectory("srv_del_").toString
    graft.corpus.TranscriptGen.generate(spark, 20).write.parquet(s"$dir/turns")
    val s = new SearchEngineServer(spark, s"$dir/wh", Some(s"$dir/turns"), port = 0)
    val p = s.start()
    try {
      assert(post("/indexDocuments", """{"clear": 1}""", p).statusCode() == 200)
      val io = new graft.store.ParquetTableIO(spark, s"$dir/wh")
      val urlOf = io.read(Tables.DocDict).select($"docId", $"conv_id", $"turn_idx")
        .as[(Long, String, Int)].collect()
        .map { case (d, c, t) => d -> s"graft://$c/$t" }.toMap
      val query = "/search?query=whale&accuracy=0.0"
      val before = get(query, p).body()
      // two disjoint id sets, each drawn from the hits the query returns
      val hit = urlOf.filter { case (_, u) => before.contains(s"\"$u\"") }.keys.toSeq.sorted
      assert(hit.size >= 4, before.take(300))
      val (a, b) = hit.zipWithIndex.partition(_._2 % 2 == 0)
      val sets = Seq(a.map(_._1), b.map(_._1))
      val start = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val replies = try {
        sets.map { ids =>
          val call: java.util.concurrent.Callable[java.net.http.HttpResponse[String]] = () => {
            start.await()
            post("/deleteDocuments", s"""{"docIds": [${ids.mkString(", ")}]}""", p)
          }
          pool.submit(call)
        }.map { f => start.countDown(); f.get() }
      } finally { pool.shutdown(); () }
      replies.foreach(r => assert(r.statusCode() == 200, r.body()))
      val batches = io.read(Tables.Lineage).filter($"stage" === Tables.DeleteLedgerStage)
        .select($"partition_id").as[Int].collect().toSeq
      assert(batches.distinct.size == 2, s"delete ledger batches: $batches")
      val after = get(query, p)
      assert(after.statusCode() == 200, after.body())
      sets.flatten.foreach(d =>
        assert(!after.body().contains(s"\"${urlOf(d)}\""), s"deleted doc $d still returned"))
    } finally s.stop()
  }

  test("clear retires tombstones too: a resume build after it equals a fresh server") {
    val dir = java.nio.file.Files.createTempDirectory("srv_clear_").toString
    graft.corpus.TranscriptGen.generate(spark, 20).write.parquet(s"$dir/turns")
    val query = "/search?query=whale&accuracy=0.0"
    def serving[T](wh: String)(f: Int => T): T = {
      val s = new SearchEngineServer(spark, s"$dir/$wh", Some(s"$dir/turns"), port = 0)
      val p = s.start()
      try f(p) finally s.stop()
    }
    val fresh = serving("fresh") { p =>
      assert(post("/indexDocuments", """{"clear": 1}""", p).statusCode() == 200)
      get(query, p).body()
    }
    serving("cleared") { p =>
      assert(post("/indexDocuments", """{"clear": 1}""", p).statusCode() == 200)
      assert(post("/deleteDocuments", """{"docIds": [0, 2, 4, 6, 8, 10, 12]}""", p).statusCode() == 200)
      assert(send(HttpRequest.newBuilder(URI.create(url("/clearCrawlHistory", p))).DELETE().build())
        .statusCode() == 200)
      // a resume build restarts docIds at 0: stale tombstones would hide live docs
      assert(post("/indexDocuments", """{"clear": 0}""", p).statusCode() == 200)
      val r = get(query, p)
      assert(r.statusCode() == 200 && r.body() == fresh, r.body().take(300))
    }
  }

  test("/search during ingest, delete and compact: every reply is the before or the after snapshot's") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srv_race_").toString
    val input = s"$dir/turns"
    val batch = s"$dir/batch"
    val base = graft.corpus.TranscriptGen.generateLocal(12)
    val extra = graft.corpus.TranscriptGen.generateLocal(18).filterNot(t => base.exists(_.conv_id == t.conv_id))
    spark.createDataset(base).write.parquet(input)
    val s = new SearchEngineServer(spark, s"$dir/wh", Some(input), port = 0)
    val p = s.start()
    val queries = Seq("whale", "%22blue%20whale%22",
      "(%22blue%20whale%22%20OR%20%22query%20engine%22)%20NOT%20%22red%20fish%22")
    val acc = Double.MinPositiveValue
    def search(q: String) = get(s"/search?query=$q&accuracy=$acc", p)
    def serial() = queries.map { q => val r = search(q); assert(r.statusCode() == 200, r.body()); r.body() }
    def oracleKeys(live: Seq[Turn], q: String) = oracleHits(live, q, acc).toSet
    def replyKeys(body: String) = replyHits(body).toSet
    try {
      assert(post("/indexDocuments", """{"clear": 1}""", p).statusCode() == 200)
      spark.createDataset(extra).write.parquet(batch)
      var live: Seq[Turn] = base
      var before = serial()
      queries.zip(before).foreach { case (q, b) => assert(replyKeys(b) == oracleKeys(live, q), q) }
      val dict = new graft.store.ParquetTableIO(spark, s"$dir/wh").read(graft.build.Tables.DocDict)
        .select($"docId", $"conv_id", $"turn_idx").as[(Long, String, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val ids = dict.keys.toSeq.sorted
      def without(del: Seq[Long])(l: Seq[Turn]) = {
        val keys = del.map(dict).toSet
        l.filterNot(t => keys((t.conv_id, t.turn_idx)))
      }
      val writes: Seq[(String, () => Int, Seq[Turn] => Seq[Turn])] = Seq(
        ("ingest", () => {
          // the crawler delivers the batch beside the served input, then
          // asks for it to be indexed
          spark.createDataset(extra).write.mode("append").parquet(input)
          post("/crawl", s"""{"seedUrls": ["$batch"], "numberOfPages": ${extra.size}}""", p)
            .statusCode()
        }, l => l ++ extra),
        ("delete", () => post("/deleteDocuments", s"""{"docIds": [${ids.take(6).mkString(",")}]}""", p)
          .statusCode(), without(ids.take(6))),
        ("compact", () => post("/deleteDocuments", s"""{"docIds": [${ids(6)}], "compact": 1}""", p)
          .statusCode(), without(Seq(ids(6)))))
      writes.foreach { case (name, write, liveAfter) =>
        val done = new java.util.concurrent.atomic.AtomicBoolean(false)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
        val clients = (0 until 3).map { c =>
          val call: java.util.concurrent.Callable[Seq[(Int, Int, String)]] = () => {
            val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
            var i = c
            while (!done.get || out.size < 3) {
              val r = search(queries(i % queries.size))
              out += ((i % queries.size, r.statusCode(), r.body())); i += 1
            }
            out.toSeq
          }
          pool.submit(call)
        }
        val code = try write() finally done.set(true)
        val replies = try clients.flatMap(_.get()) finally { pool.shutdown(); () }
        assert(code == 200, s"$name write")
        live = liveAfter(live)
        val after = serial()
        queries.zip(after).foreach { case (q, a) => assert(replyKeys(a) == oracleKeys(live, q), s"$name $q") }
        replies.foreach { case (qi, status, body) =>
          assert(status == 200 && (body == before(qi) || body == after(qi)),
            s"$name: ${queries(qi)} -> $status ${body.take(200)}")
        }
        before = after
      }
    } finally s.stop()
  }

  /** The expected reply of `q` (URL-encoded): the oracle over `live`,
    * keyed by (conv_id, turn_idx) as the reply's titles are, in rank order. */
  private def oracleHits(live: Seq[Turn], q: String, acc: Double): Seq[(String, Double)] = {
    val oracle = new graft.oracle.RefOracle(live)
    val key = oracle.docs.map { case (d, t) => d -> s"${t.conv_id}#${t.turn_idx}" }.toMap
    oracle.search(java.net.URLDecoder.decode(q, "UTF-8"), acc, 100).map { case (d, sc) => (key(d), sc) }
  }

  /** (title, score) of each hit of a /search reply, in reply order. */
  private def replyHits(body: String): Seq[(String, Double)] =
    "\"title\":\"([^\"]*)\".*?\"score\":([-0-9.eE]+)".r.findAllMatchIn(body)
      .map(m => (m.group(1), m.group(2).toDouble)).toSeq

  test("a crawled turn missing from --input still answers /search, in rank order with empty content") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srv_absent_").toString
    val input = s"$dir/turns"
    val batch = s"$dir/batch"
    val base = graft.corpus.TranscriptGen.generateLocal(12)
    val extra = graft.corpus.TranscriptGen.generateLocal(18).filterNot(t => base.exists(_.conv_id == t.conv_id))
    spark.createDataset(base).write.parquet(input)
    // crawled, but never delivered to the served input
    spark.createDataset(extra).write.parquet(batch)
    val s = new SearchEngineServer(spark, s"$dir/wh", Some(input), port = 0)
    val p = s.start()
    try {
      assert(post("/indexDocuments", """{"clear": 1}""", p).statusCode() == 200)
      assert(post("/crawl", s"""{"seedUrls": ["$batch"], "numberOfPages": ${extra.size}}""", p)
        .statusCode() == 200)
      val acc = Double.MinPositiveValue
      val extraKeys = extra.map(t => s"${t.conv_id}#${t.turn_idx}").toSet
      Seq("whale", "%22blue%20whale%22").foreach { q =>
        val r = get(s"/search?query=$q&accuracy=$acc", p)
        assert(r.statusCode() == 200, r.body())
        val want = oracleHits(base ++ extra, q, acc)
        assert(want.exists(h => extraKeys(h._1)), s"$q: the crawled batch must rank")
        // every hit, ranked (ties may order by either side's docIds)
        val got = replyHits(r.body())
        assert(got.toSet == want.toSet && got.map(_._2) == want.map(_._2), q)
        assert(r.body().contains("\"content\":\"\""), "an absent turn has empty content")
        // the bulk route keeps the same hits (accuracy > 0: no zero-fill)
        val m = get(s"/searchMany?queries=$q&accuracy=$acc", p)
        assert(m.statusCode() == 200, m.body())
        val bulk = replyHits(m.body())
        assert(bulk.toSet == want.toSet && bulk.map(_._2) == want.map(_._2), s"/searchMany $q")
        assert(m.body().contains("\"content\":\"\""), "/searchMany: an absent turn has empty content")
      }
    } finally s.stop()
  }

  test("clearCrawlHistory drops the index; search then fails cleanly") {
    assert(delete("/clearCrawlHistory").statusCode() == 200)
    val r = get("/search?query=whale&accuracy=0.0")
    assert(r.statusCode() == 404) // no index tables — reference also 404s on error
    // rebuild for any later test
    assert(post("/indexDocuments", """{"clear": 1}""").statusCode() == 200)
  }
}
