package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, Tables}
import graft.corpus.TranscriptGen
import graft.ops.Dedup
import graft.oracle.RefOracle
import graft.store.ParquetTableIO
import graft.streaming.StreamingDedup

/** End-to-end rank/score identity: the engine's query paths (WAND,
  * driver algebra, dense evaluator) vs the reference-faithful in-memory
  * oracle on the q01–q20 reference query set (FIXTURES.md §3) over the
  * deterministic synthetic transcript corpus. */
object EngineSpecFixture {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  lazy val warehouse: String =
    java.nio.file.Files.createTempDirectory("graft_wh_").toString

  val Convs = 40L

  lazy val built: (ParquetTableIO, RefOracle) = {
    val io = new ParquetTableIO(spark, warehouse)
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, Convs)
    new IndexBuilder(spark, io, blockSize = 8).build(turns)
    val oracle = new RefOracle(TranscriptGen.generateLocal(Convs))
    (io, oracle)
  }

  val queries: Seq[(String, (String, Double))] = EngineQueries.all

  /** Bare terms for the WAND path: every q term plus edge cases (a stop
    * word, an unknown term, an apostrophe form). */
  val terms: Seq[String] = Seq("whale", "blue", "the", "run", "engin", "a", "zzzunknown", "dont")

  /** Shapes beyond q01–q20: nonzero defaults (NOT), an empty atom,
    * duplicate atoms — the dense fill and the normalization constants
    * must track the oracle exactly everywhere. */
  val extraShapes: Seq[String] = Seq(
    "NOT \"blue whale\"",
    "\"blue whale\" AND \"red fish\"",
    "(\"blue whale\" OR \"query engine\") NOT \"red fish\"",
    "\"blue whale\" whale whale engine",
    "\"zzz nothing\"",
    "\"blue whale\" \"blue whale\"")
}

class EngineSpec extends AnyFunSuite {
  import EngineSpecFixture._

  test("index tables match the oracle index exactly") {
    val (io, oracle) = built
    import spark.implicits._

    // stats
    val (n, avg) = io.read(Tables.Stats).as[(Long, Double)].head()
    assert(n == oracle.totalDocs)
    assert(avg == oracle.avgDocLen, s"avgdl $avg vs ${oracle.avgDocLen}")

    // doc dict: docId assignment + doc_len
    val dict = io.read(Tables.DocDict)
      .as[(Long, String, Int, Int)].collect().sortBy(_._1)
    val oracleDict = oracle.docs.map { case (id, t) =>
      (id, t.conv_id, t.turn_idx, oracle.docLens(id)) }
    assert(dict.toSeq == oracleDict)

    // postings: full content equality (positions stored delta+varbyte)
    val got = io.read(Tables.Postings)
      .as[(String, Long, Int, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2) ->
        ((r._3, r._4, graft.codec.VarByte.decodePositions(r._5).toSeq))).toMap
    val want = for {
      (term, byDoc) <- oracle.index.toSeq
      (docId, poss) <- byDoc
    } yield (term, docId) -> ((poss.length, oracle.docLens(docId), poss.toSeq))
    assert(got.size == want.size, s"posting count ${got.size} vs ${want.size}")
    want.foreach { case (k, v) =>
      assert(got.contains(k), s"missing posting $k")
      assert(got(k) == v, s"posting $k: ${got(k)} vs $v")
    }
  }

  test("compressed blocks round-trip to the same posting scores") {
    // blocks are the positions-FREE scoring index (positions live in the
    // postings table, asserted positionally in the previous test)
    val (io, oracle) = built
    import spark.implicits._
    val decoded = io.read(Tables.Blocks)
      .as[(String, Long, Long, Int, Int, Int, Array[Byte])].collect()
      .flatMap { case (term, _, _, _, _, _, block) =>
        graft.codec.VarByte.decodeBlock(block).map(p => (term, p.docId) -> p)
      }.toMap
    val want = oracle.index.iterator.flatMap { case (t, byDoc) =>
      byDoc.iterator.map { case (d, ps) => (t, d) -> ps }
    }.toMap
    assert(decoded.size == want.size)
    want.foreach { case (k, ps) =>
      val p = decoded(k)
      assert(p.tf == ps.length)
      assert(p.docLen == oracle.docLens(k._2))
      assert(p.positions.isEmpty, "built blocks must not carry positions")
    }
  }

  test("query calls release their caches: no persisted RDD outlives a call") {
    val (io, _) = built
    val engine = new SparkSearchEngine(spark, io)
    // operands above the cap: topKAuto routes boolean queries to topKDense
    val tiny = new SparkSearchEngine(spark, io, GraftParams(driverAlgebraMaxDocs = 2))
    val turns = TranscriptGen.generate(spark, Convs).toDF()
    val atoms = Seq("\"blue whale\"", "whale")
    val docs = graft.ops.OpsFixture.docsWithDups
    val batch = docs.filter(org.apache.spark.sql.functions.col("doc_id") >= 1000)
    val minhash = java.nio.file.Files.createTempDirectory("engine_spec_mh").toString
    Dedup.buildMinHashIndex(spark, docs.filter(org.apache.spark.sql.functions.col("doc_id") < 1000), minhash)
    val boolean = Seq("(\"blue whale\" OR \"query engine\") NOT \"red fish\"",
      "\"blue whale\" whale engine")
    val calls: Seq[(String, () => Any)] = Seq(
      "searchMany" -> (() => engine.searchMany(atoms).collect()),
      "searchManyWithSnippets" -> (() => engine.searchManyWithSnippets(atoms, turns).collect()),
      "searchManyAuto" -> (() => engine.searchManyAuto(boolean ++ atoms).collect()),
      "topKAuto (driver)" -> (() => boolean.map(engine.topKAuto(_, 0.0, 10))),
      "topKAuto (dense)" -> (() => boolean.map(tiny.topKAuto(_, 0.0, 10))),
      "topKDense" -> (() => engine.topKDense(boolean(1), 0.0, 10)),
      // the unmanaged dedup variants return local frames
      "Dedup.minHashDedupBatch" -> (() => Dedup.minHashDedupBatch(spark, minhash, batch).collect()),
      "StreamingDedup.dedupBatch" -> (() => StreamingDedup.dedupBatch(spark, minhash, batch, 0L).collect()))
    def persisted = spark.sparkContext.getPersistentRDDs.size
    for ((name, call) <- calls; i <- 1 to 10) {
      val before = persisted
      call()
      assert(persisted == before, s"$name call $i left cached RDDs: $before -> $persisted")
    }
  }

  test("warm queries run only the Spark jobs their data needs") {
    val (io, _) = built
    val engine = new SparkSearchEngine(spark, io)
    val turns = TranscriptGen.generate(spark, Convs).toDF()
    val sc = spark.sparkContext
    val group = "engine-spec-job-count"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    // jobs `call` runs on this thread, first and repeat call
    def count(call: => Any): (Int, Int) = {
      def once() = {
        org.apache.spark.TestBus.drain(sc)
        jobs.set(0)
        call
        org.apache.spark.TestBus.drain(sc)
        jobs.get
      }
      (once(), once())
    }
    // one doc over the directory's ceiling: the same routes, no directory
    val over = new SparkSearchEngine(spark, io,
      GraftParams(driverAlgebraMaxDocs = (engine.stats.total_docs - 1).toInt))
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count")
    try {
      // a fresh engine's first query loads the directory and the
      // lexicon: one job each, once
      val fresh = count(engine.search("\"blue whale\" whale", turns))
      val freshOver = count(over.search("\"blue whale\" whale", turns))
      info(s"first and repeat search jobs on a fresh engine: held $fresh, over the ceiling $freshOver")
      assert(fresh._1 == fresh._2 + 2 && freshOver._1 == freshOver._2, s"directory and lexicon loads: $fresh $freshOver")
      // ≥ k matches: the live df is a lexicon lookup, so one WAND job and
      // no zero-fill
      val wand = count(engine.termTopKWand("the", 0.0, 10))
      assert(wand == ((1, 1)), "termTopKWand")
      // < k matches at accuracy 0.0: the zero-fill walks the directory
      // (no job); over the ceiling the live df and the fill are one job each
      val subK = engine.topKDriver("whale", Double.MinPositiveValue, Int.MaxValue).get.size + 1
      assert(engine.termTopKWand("whale", 0.0, subK).last._2 == 0.0, "whale: one filled doc")
      assert(count(engine.termTopKWand("whale", 0.0, subK)) == ((1, 1)), "termTopKWand fill, held")
      assert(count(over.termTopKWand("whale", 0.0, subK)) == ((3, 3)), "termTopKWand fill, over the ceiling")
      // accuracy > 0 keeps the zero-fill out: the jobs are the fetch
      // alone, one postings scan with the fold on the driver
      val acc = Double.MinPositiveValue
      val onePhrase = count(engine.topKDriver("\"blue whale\"", acc, 10))
      val threePhrases =
        count(engine.topKDriver("(\"blue whale\" OR \"query engine\") AND \"red fish\"", acc, 10))
      assert(onePhrase == ((1, 1)), s"one phrase: $onePhrase")
      assert(threePhrases == onePhrase, "three phrases must share one postings scan")
      // the driver route runs its fetch's job and nothing else: the
      // kernel runs in-process (boolean and mixed: terms and stems in one
      // postings scan)
      val boolean = count(engine.topKDriver("\"blue whale\" AND \"red fish\"", acc, 10))
      val mixed = count(engine.topKDriver("\"blue whale\" whale engine", acc, 10))
      assert(boolean == ((1, 1)), s"boolean: $boolean")
      assert(mixed == ((1, 1)), s"mixed: $mixed")
      // search = topKAuto + the text fetch with the directory held; over
      // the ceiling + the dictionary lookup too
      val perQuery = for {
        q <- Seq("whale", "\"blue whale\" whale engine", "\"blue whale\" AND \"red fish\"")
        (e, side, extra) <- Seq((engine, "held", 1), (over, "over", 2))
      } yield {
        val topK = count(e.topKAuto(q, 0.0, e.params.topK))
        val search = count(e.search(q, turns))
        assert(topK._1 == topK._2 && search._1 == search._2, s"'$q' $side repeat: $topK $search")
        assert(search._1 - topK._1 == extra, s"'$q' $side: search $search vs top-k $topK")
        s"'$q' $side: topKAuto ${topK._1} search ${search._1}"
      }
      info(s"warm jobs per query: ${perQuery.mkString("; ")}")
      // the bulk entries, their frames collected (local frames: the
      // directory attaches conv_id and turn_idx, so neither the
      // dictionary join's broadcast nor its collect runs a job): terms
      // are one WAND block scan (the live df a lexicon lookup); phrases
      // the Spark fold's atom pass + the heap kernel's pass; searchManyAuto
      // one postings scan
      val bulkTerms = Seq("whale", "blue", "the")
      val bulkPhrases = Seq("\"blue whale\"", "\"red fish\"")
      val bulk = Seq(
        "searchMany terms" -> count(engine.searchMany(bulkTerms).collect()),
        "searchMany phrases" -> count(engine.searchMany(bulkPhrases).collect()),
        "searchMany mixed" -> count(engine.searchMany(bulkTerms ++ bulkPhrases).collect()),
        "searchManyAuto" -> count(engine.searchManyAuto(bulkPhrases ++
          Seq("\"blue whale\" AND \"red fish\"", "\"blue whale\" whale engine")).collect()))
      info(s"bulk warm jobs (first, repeat): ${bulk.mkString(" ")}")
      assert(bulk == Seq(
        "searchMany terms" -> ((1, 1)),
        "searchMany phrases" -> ((4, 4)),
        "searchMany mixed" -> ((5, 5)),
        "searchManyAuto" -> ((1, 1))), "bulk job pins")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("doc directory: both sides of its gate answer ==") {
    val (io, _) = built
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, Convs).toDF()
    val n = new SparkSearchEngine(spark, io).stats.total_docs
    // phrase shapes of the driver fold: a later stem missing (skipped —
    // the stale-postings quirk), the head stem missing (no match), a
    // repeated stem; alone and mixed with terms
    val phraseShapes = Seq("\"blue zzzmissing whale\"", "\"zzzmissing blue whale\"", "\"blue blue whale\"",
      "\"whale whale\" blue", "\"blue zzzmissing whale\" whale OR \"zzzmissing blue\"")
    val shapes = extraShapes ++ phraseShapes ++ Seq("whale", "zzzunknown")
    for (k <- Seq(100, 3)) {
      val held = new SparkSearchEngine(spark, io, GraftParams(topK = k))
      // one doc over the ceiling: no directory, the same WAND and driver routes
      val over = new SparkSearchEngine(spark, io, GraftParams(topK = k, driverAlgebraMaxDocs = (n - 1).toInt))
      for (q <- shapes; acc <- Seq(0.0, Double.MinPositiveValue, 0.4)) {
        if (q.contains(" ")) assert(over.topKDriver(q, acc, k).isDefined, s"'$q' over the ceiling: driver route")
        assert(held.topKAuto(q, acc, k) == over.topKAuto(q, acc, k), s"'$q' acc=$acc k=$k topKAuto")
        assert(held.search(q, turns, acc) == over.search(q, turns, acc), s"'$q' acc=$acc k=$k search")
        assert(held.searchFrame(q, acc, k).collect().toSeq == over.searchFrame(q, acc, k).collect().toSeq,
          s"'$q' acc=$acc k=$k searchFrame")
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Long, String, Int, Double)].collect().sortBy(r => (r._1, -r._5, r._2)).toSeq
      val atoms = Seq("whale", "zzzunknown", "\"blue whale\"", "\"zzz nothing\"") ++ phraseShapes.take(3)
      assert(rows(held.searchMany(atoms, k)) == rows(over.searchMany(atoms, k)), s"k=$k searchMany")
      assert(rows(held.searchManyAuto(shapes, k)) == rows(over.searchManyAuto(shapes, k)), s"k=$k searchManyAuto")
    }
  }

  test("q01-q20: rank- and score-identical to the oracle") {
    val (io, oracle) = built
    val engine = new SparkSearchEngine(spark, io)
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(label: String, got: Vector[(Long, Double)], want: Vector[(Long, Double)]): Unit =
      if (got != want) failures += s"$label: ${got.take(5)} vs ${want.take(5)}"
    val cases =
      queries.sortBy(_._1).map { case (name, (q, acc)) => (s"$name '$q'", q, acc, 100) } ++
        (for (q <- extraShapes; acc <- Seq(0.0, Double.MinPositiveValue, 0.4); k <- Seq(100, 50, 3))
          yield (s"'$q' acc=$acc k=$k", q, acc, k))
    cases.foreach { case (label, q, acc, k) =>
      val want = oracle.search(q, acc, k)
      check(s"$label topKAuto", engine.topKAuto(q, acc, k), want)
      engine.topKDriver(q, acc, k) match {
        case Some(driver) => check(s"$label topKDriver", driver, want)
        case None => failures += s"$label: topKDriver bailed out"
      }
      check(s"$label topKDense", engine.topKDense(q, acc, k), want)
    }
    terms.foreach(t => check(s"term '$t' WAND", engine.termTopKWand(t, 0.0, 100), oracle.search(t, 0.0, 100)))
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("driver-algebra path bit-identical to the distributed path on q01-q20") {
    val (io, _) = built
    val engine = new SparkSearchEngine(spark, io)
    val tiny = new SparkSearchEngine(spark, io,
      GraftParams(driverAlgebraMaxDocs = 2)) // forces TooBig fallback
    queries.foreach { case (name, (q, accuracy)) =>
      // the distributed path: the dense one-shuffle evaluator
      val distributed = engine.topKDense(q, accuracy, 100)
      val driver = engine.topKDriver(q, accuracy, 100)
      assert(driver.isDefined, s"$name should fit the driver path")
      assert(driver.get == distributed, s"$name '$q'")
      // the too-big bailout must fall back, not fail
      assert(tiny.topKAuto(q, accuracy, 100) == distributed, s"$name fallback")
    }
  }

  test("WAND term top-k identical to the exhaustive path (all q terms + edge cases)") {
    val (io, oracle) = built
    val engine = new SparkSearchEngine(spark, io)
    // the exhaustive path: the driver algebra scores every posting
    def exhaustive(t: String, acc: Double, k: Int) = engine.topKDriver(t, acc, k).get
    terms.foreach { t =>
      val full = exhaustive(t, 0.0, 100)
      val wand = engine.termTopKWand(t, 0.0, 100)
      assert(wand == full, s"term '$t': wand ${wand.take(3)} vs ${full.take(3)}")
      val oracleTop = oracle.search(t, 0.0, 100)
      assert(wand.map(_._1) == oracleTop.map(_._1), s"term '$t' vs oracle")
    }
    // accuracy threshold path
    assert(engine.termTopKWand("whale", 0.5, 100) == exhaustive("whale", 0.5, 100))
    // small k triggers real pruning (blockSize=8 in this fixture)
    assert(engine.termTopKWand("the", 0.0, 3) == exhaustive("the", 0.0, 3))
  }

  test("bulk multi-term search is bit-identical to the per-term WAND path") {
    val (io, _) = built
    import spark.implicits._
    val engine = new SparkSearchEngine(spark, io)
    val terms = Seq("whale", "blue", "the", "run", "engin", "a", "zzzunknown")
    val bulk = engine.searchMany(terms, k = 50)
      .select("query", "docId", "score")
      .as[(String, Long, Double)].collect()
      .groupBy(_._1)
      .map { case (q, rs) =>
        q -> rs.map(r => (r._2, r._3)).sortBy { case (d, s) => (-s, d) }.toVector
      }
    terms.foreach { t =>
      // accuracy > 0 suppresses the single-query dense zero-fill (bulk
      // returns matching docs only); scores compare with exact ==
      val single = engine.termTopKWand(t, Double.MinPositiveValue, 50)
      assert(bulk.getOrElse(t, Vector.empty) == single, s"term '$t'")
    }
    // a missing term yields no rows, not an error
    assert(!bulk.contains("zzzunknown"))
    // the WAND candidate scan (bulk and single) prunes to the queried
    // terms (pushed-down In filter) and reads the compressed BLOCKS table
    // (WAND kernel), not flat postings
    val plan = engine.wandScan(Map("whale" -> 1.0, "blue" -> 1.0), k = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term, [blue,whale])"),
      s"term In-filter must reach the parquet scan:\n$plan")
    assert(plan.contains("index_blocks") && !plan.contains("/postings]"),
      s"bulk term scoring must read the block index, not flat postings:\n$plan")
    // at one key (termTopKWand) the In becomes the equality filter
    val one = engine.wandScan(Map("whale" -> 1.0), k = 5).queryExecution.executedPlan.toString
    assert(one.contains("PushedFilters: [IsNotNull(term), EqualTo(term,whale)]"),
      s"a single-key scan must push EqualTo down:\n$one")
  }

  test("bulk mixed search (terms + phrases) is bit-identical to the single-query paths") {
    val (io, _) = built
    import spark.implicits._
    val engine = new SparkSearchEngine(spark, io)
    val qs = Seq("whale", "\"blue whale\"", "\"red fish\"", "blue", "\"zzz nothing\"")
    val bulk = engine.searchMany(qs, k = 50)
      .select("query", "docId", "score").as[(String, Long, Double)].collect()
      .groupBy(_._1)
      .map { case (q, rs) =>
        q -> rs.map(r => (r._2, r._3)).sortBy { case (d, s) => (-s, d) }.toVector
      }
    val tiny = Double.MinPositiveValue // accuracy > 0: no dense zero-fill
    qs.foreach { q =>
      val single = engine.topKAuto(q, tiny, 50)
      assert(bulk.getOrElse(q, Vector.empty) == single, s"query '$q'")
    }
    // non-atomic queries are rejected, not silently mis-scored
    intercept[RuntimeException](engine.searchMany(Seq("whale AND blue")))
  }

  test("phrase head-stem Bloom prefilter: forced path bit-identical on all phrase queries") {
    val (io, oracle) = built
    import spark.implicits._
    val engine = new SparkSearchEngine(spark, io)
    // the default gates (min corpus size, head-selectivity ratio) never
    // trigger at this corpus, so force the Bloom path and assert full
    // bit-identity — false positives must fold to tf=0, never perturb a
    // score
    val forced = new SparkSearchEngine(spark, io,
      GraftParams(phrasePrefilterMinDf = 1L, phrasePrefilterMaxRatio = 1.0))
    val phraseQueries = queries.filter(_._2._1.contains("\""))
    assert(phraseQueries.nonEmpty)
    phraseQueries.foreach { case (name, (q, acc)) =>
      assert(forced.topKDriver(q, acc, 100).contains(oracle.search(q, acc, 100)),
        s"$name forced vs oracle")
      assert(forced.topKDriver(q, acc, 100) == engine.topKDriver(q, acc, 100),
        s"$name driver")
      assert(forced.topKDense(q, acc, 100) == engine.topKDense(q, acc, 100),
        s"$name dense")
    }
    // bulk phrase path under the forced filter
    val qs = Seq("\"blue whale\"", "\"red fish\"", "whale")
    def rows(e: SparkSearchEngine) = e.searchMany(qs, k = 50)
      .select("query", "docId", "score").as[(String, Long, Double)]
      .collect().sortBy(r => (r._1, -r._3, r._2)).toSeq
    assert(rows(forced) == rows(engine))
  }

  test("bulk boolean/mixed search (searchManyAuto) bit-identical to topKAuto per query") {
    val (io, _) = built
    import spark.implicits._
    val engine = new SparkSearchEngine(spark, io)
    val qs = Seq(
      "(\"blue whale\" OR \"query engine\") NOT \"red fish\"",
      "\"blue whale\" whale engine",
      "\"blue whale\" AND \"red fish\"",
      "NOT \"blue whale\"", // nonzero default → dense fill path
      "whale", // single term: WAND on the single path, algebra in bulk
      "\"blue whale\"",
      "\"zzz nothing\"")
    def collectBulk(e: SparkSearchEngine, acc: Double) =
      e.searchManyAuto(qs, k = 50, accuracy = acc)
        .select("query", "docId", "score").as[(String, Long, Double)].collect()
        .groupBy(_._1)
        .map { case (q, rs) =>
          q -> rs.map(r => (r._2, r._3)).sortBy { case (d, s) => (-s, d) }.toVector
        }
    for (acc <- Seq(0.0, Double.MinPositiveValue, 0.4)) {
      val bulk = collectBulk(engine, acc)
      qs.foreach { q =>
        assert(bulk.getOrElse(q, Vector.empty) == engine.topKAuto(q, acc, 50),
          s"query '$q' at accuracy $acc")
      }
    }
    // forced per-query fallback (operands exceed the driver cap): identical
    val tiny = new SparkSearchEngine(spark, io, GraftParams(driverAlgebraMaxDocs = 2))
    val bulkTiny = collectBulk(tiny, 0.0)
    qs.foreach { q =>
      assert(bulkTiny.getOrElse(q, Vector.empty) == engine.topKAuto(q, 0.0, 50),
        s"fallback query '$q'")
    }
  }

  test("searchManyAuto phrase gate: an exact split below the fetch quota, all phrases over at it") {
    val (io, _) = built
    import spark.implicits._
    val engine = new SparkSearchEngine(spark, io)
    // the batch's only phrases: `big` matches ≥ 2 more docs than `small`
    val byDf = Seq("\"blue whale\"", "\"red fish\"", "\"query engine\"")
      .map(p => p -> engine.topKDriver(p, Double.MinPositiveValue, Int.MaxValue).get.size)
      .sortBy(_._2)
    val ((small, dfSmall), (big, dfBig)) = (byDf.head, byDf.last)
    assert(dfSmall >= 1 && dfBig >= dfSmall + 2, s"fixture phrase dfs: $byDf")
    val qs = Seq(big, small, s"$small AND $big", s"NOT $small", s"$small whale")
    // cap = dfBig - 1: big over, small under, and the dfBig + dfSmall rows
    // stay below the 2·cap + 1 quota — the split is exact.
    // cap = dfSmall: the rows reach the quota, so both phrases count as
    // over and every query falls back to its own topKAuto
    for (cap <- Seq(dfBig - 1, dfSmall)) {
      val e = new SparkSearchEngine(spark, io, GraftParams(driverAlgebraMaxDocs = cap))
      assert((dfBig + dfSmall < 2 * cap + 1) == (cap == dfBig - 1), s"cap $cap: quota side")
      for (acc <- Seq(0.0, Double.MinPositiveValue, 0.4)) {
        val bulk = e.searchManyAuto(qs, k = 50, accuracy = acc)
          .select("query", "docId", "score").as[(String, Long, Double)].collect()
          .groupBy(_._1)
          .map { case (q, rs) => q -> rs.map(r => (r._2, r._3)).sortBy { case (d, s) => (-s, d) }.toVector }
        qs.foreach { q =>
          assert(bulk.getOrElse(q, Vector.empty) == e.topKAuto(q, acc, 50), s"cap $cap '$q' at accuracy $acc")
        }
      }
    }
  }

  test("bulk snippets equal the single-query search snippets") {
    val (io, _) = built
    import spark.implicits._
    val engine = new SparkSearchEngine(spark, io)
    val turns = TranscriptGen.generate(spark, Convs).toDF()
    val tiny = Double.MinPositiveValue
    val qs = Seq("whale", "\"blue whale\"")
    val bulk = engine.searchManyWithSnippets(qs, turns, k = 20, accuracy = tiny)
      .select("query", "docId", "score", "snippet")
      .as[(String, Long, Double, String)].collect()
      .groupBy(_._1)
      .map { case (q, rs) =>
        q -> rs.map(r => (r._2, r._3, r._4)).sortBy(x => (-x._2, x._1)).toVector
      }
    qs.foreach { q =>
      val single = engine.search(q, turns, tiny).take(20)
        .map(h => (h.docId, h.score, h.snippet)).toVector
      assert(bulk.getOrElse(q, Vector.empty) == single, q)
    }
  }

  test("row-level invariant: per-turn text equality via the dictionary") {
    val (io, _) = built
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, Convs).toDF()
    val joined = io.read(Tables.DocDict)
      .join(turns, Seq("conv_id", "turn_idx"), "full_outer")
    assert(joined.filter($"docId".isNull || $"text".isNull).count() == 0)
    assert(io.read(Tables.DocDict).count() == turns.count())
    // doc_len must equal the raw token count of the source text, per row
    val badLen = joined.select($"doc_len", $"text")
      .as[(Int, String)]
      .filter { case (dl, text) => graft.text.TextPipeline.tokenize(text).length != dl }
      .count()
    assert(badLen == 0)
  }

  test("golden files: oracle top-10 matches the checked-in fixtures exactly") {
    val (_, oracle) = built
    queries.foreach { case (name, (q, accuracy)) =>
      val src = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream(s"/golden/$name.json"), "UTF-8")
      val text = try src.mkString finally src.close()
      val pat = """\{"docId":(\d+),"score":([-0-9.eE]+)\}""".r
      val want = pat.findAllMatchIn(text)
        .map(m => (m.group(1).toLong, m.group(2).toDouble)).toVector
      val got = oracle.search(q, accuracy, 10)
      assert(got == want, s"$name '$q'")
    }
  }

  test("determinism: rebuild at a different parallelism yields identical tables and results") {
    val (io, _) = built
    import spark.implicits._
    val wh2 = java.nio.file.Files.createTempDirectory("graft_wh2_").toString
    val io2 = new ParquetTableIO(spark, wh2)
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      new IndexBuilder(spark, io2, blockSize = 8).build(TranscriptGen.generate(spark, Convs))
    } finally spark.conf.set("spark.sql.shuffle.partitions", old)
    def content(i: graft.store.TableIO) = i.read(Tables.Postings)
      .as[(String, Long, Int, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5.toSeq)).sortBy(r => (r._1, r._2)).toSeq
    assert(content(io2) == content(io))
    val e1 = new SparkSearchEngine(spark, io)
    val e2 = new SparkSearchEngine(spark, io2)
    queries.take(6).foreach { case (name, (q, acc)) =>
      assert(e1.topKAuto(q, acc, 50) == e2.topKAuto(q, acc, 50), s"$name auto")
      assert(e1.topKDense(q, acc, 50) == e2.topKDense(q, acc, 50), s"$name dense")
    }
  }

  test("sharded tokenize stage: identical index, per-shard resume") {
    val (io, _) = built
    import spark.implicits._
    val wh4 = java.nio.file.Files.createTempDirectory("graft_wh4_").toString
    val io4 = new ParquetTableIO(spark, wh4)
    val turns = TranscriptGen.generate(spark, Convs)
    new IndexBuilder(spark, io4, blockSize = 8, rawShards = 3).build(turns)
    def content(i: graft.store.TableIO) = i.read(Tables.Postings)
      .as[(String, Long, Int, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5.toSeq)).sortBy(r => (r._1, r._2)).toSeq
    assert(content(io4) == content(io))
    // a fresh build killed right after shard 0 committed (shard write,
    // commit, vacuum — then the shard-1 write): resume redoes only the
    // missing shards and the downstream stages
    intercept[graft.store.CrashingIO.Crash] {
      new IndexBuilder(spark, new graft.store.CrashingIO(io4, failAt = 3), blockSize = 8,
        rawShards = 3).build(turns)
    }
    new IndexBuilder(spark, io4, blockSize = 8, rawShards = 3).build(turns, resume = true)
    assert(content(io4) == content(io))
    assert(io4.read(Tables.Lineage).filter($"stage" === s"${Tables.PostingsRaw}/shard=0").count() == 1,
      "the committed shard is not redone")
  }

  test("resume: killed-after-stage build completes to an identical index") {
    val (io, _) = built
    import spark.implicits._
    val wh3 = java.nio.file.Files.createTempDirectory("graft_wh3_").toString
    val io3 = new ParquetTableIO(spark, wh3)
    val turns = TranscriptGen.generate(spark, Convs)
    // a build killed after stage 2 committed: the raw and dict stages
    // (write, commit, vacuum each), then the term_stats write throws
    intercept[graft.store.CrashingIO.Crash] {
      new IndexBuilder(spark, new graft.store.CrashingIO(io3, failAt = 6), blockSize = 8).build(turns)
    }
    val metrics = new IndexBuilder(spark, io3, blockSize = 8).build(turns, resume = true)
    val skipped = metrics.filter(_.skipped).map(_.stage).toSet
    assert(skipped == Set(Tables.PostingsRaw, Tables.DocDict, Tables.Stats))
    def content(i: graft.store.TableIO) = i.read(Tables.Postings)
      .as[(String, Long, Int, Int, Array[Byte])].collect()
      .map(r => (r._1, r._2, r._3, r._4, r._5.toSeq)).sortBy(r => (r._1, r._2)).toSeq
    assert(content(io3) == content(io))
  }

  test("plans: term lookup pushes down; top-k is TakeOrdered; scoring is codegen'd") {
    val (io, _) = built
    val engine = new SparkSearchEngine(spark, io)
    engine.stats // keep the one-off stats read out of the captures
    // executed plans of everything `call` runs; listener events arrive
    // asynchronously, so wait until `expected` holds (or time out)
    def assertPlans(call: => Any, clue: String)(expected: Seq[String] => Boolean): Seq[String] = {
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val listener = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan.toString)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      try {
        call
        eventually(timeout(Span(30, Seconds))) {
          assert(expected(plans.asScala.toSeq), s"$clue:\n${plans.asScala.mkString("\n\n")}")
        }
        plans.asScala.toSeq
      } finally spark.listenerManager.unregister(listener)
    }
    val lookup = assertPlans(engine.topKDriver("whale", 0.0, 10),
      "term filter must reach the parquet scan")(
      _.exists(_.contains("PushedFilters: [IsNotNull(term), EqualTo(term,whale)]")))
      .filter(_.contains("EqualTo(term,whale)"))
    assert(!lookup.exists(_.contains("positions_vb")),
      "term scoring must not read the positions column")
    // BM25 itself is scalar code on every path; the Catalyst work left in
    // scoring is the pruned term scan feeding it, and that stays in
    // whole-stage codegen
    assert(lookup.exists(
      """\*\(\d+\) Filter \(isnotnull\(term#\d+\) AND \(term#\d+ = whale\)\)""".r.findFirstIn(_).isDefined),
      s"the scored term lookup must stay in whole-stage codegen:\n${lookup.mkString("\n\n")}")
    assertPlans(engine.topKDense("\"blue whale\" whale", 0.0, 10),
      "top-k must not global-sort")(_.exists(_.contains("TakeOrderedAndProject")))
    // every bulk top-k is a per-partition heap merged on the driver: no
    // bulk plan ranks in a Window
    val bulkPlans = assertPlans({
      engine.searchMany(Seq("whale", "blue", "\"blue whale\"", "\"red fish\""), k = 5).collect()
      engine.searchManyAuto(Seq("\"blue whale\" AND \"red fish\"", "\"blue whale\" whale engine"), k = 5)
        .collect()
      org.apache.spark.TestBus.drain(spark.sparkContext) // every plan delivered
    }, "the bulk calls' plans")(_.exists(_.contains("index_blocks")))
    assert(!bulkPlans.exists(_.contains("Window")), s"a bulk plan ranks in a Window:\n${bulkPlans.mkString("\n\n")}")
  }

  test("search returns snippets over top-k") {
    val (io, _) = built
    val engine = new SparkSearchEngine(spark, io)
    val turns = TranscriptGen.generate(spark, Convs).toDF()
    val hits = engine.search("\"blue whale\" whale", turns)
    assert(hits.nonEmpty)
    assert(hits.head.snippet.contains("<span>"))
    assert(hits == hits.sortBy(h => (-h.score, h.docId)))
  }
}
