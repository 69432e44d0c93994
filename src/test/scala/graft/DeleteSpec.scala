package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, Tables}
import graft.corpus.TranscriptGen
import graft.store.ParquetTableIO

/** Document deletion (IndexBuilder.deleteDocs): tombstones + exact df
  * deltas + stats recompute, applied by every query path, physically
  * purged by compact(). The contract: a tombstoned index answers every
  * query exactly like a from-scratch build on the surviving corpus
  * (scores bit-identical — same stats aggregate, same df, same IEEE
  * order), before AND after compaction, and purged docIds are never
  * reused by later incremental appends.
  */
class DeleteSpec extends AnyFunSuite {
  import EngineSpecFixture.spark

  private val Convs = 40L
  private val allTurns = TranscriptGen.generateLocal(Convs)
  private val queries = Seq(
    "whale",
    "\"blue whale\"",
    "(\"blue whale\" OR \"query engine\") NOT \"red fish\"",
    "\"blue whale\" whale engine")

  /** top-k keyed by (conv_id, turn_idx) — docIds relabel between the
    * tombstoned and rebuilt warehouses. k exceeds the corpus, so there is
    * no cutoff and score equality is exact (no rounding). */
  private def keyed(engine: SparkSearchEngine, io: ParquetTableIO, q: String) = {
    import spark.implicits._
    val dict = io.read(Tables.DocDict)
      .as[(Long, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    engine.topKAuto(q, 0.0, 1000).map { case (d, s) => (dict(d), s) }.toSet
  }

  private def freshWh() = new ParquetTableIO(spark,
    java.nio.file.Files.createTempDirectory("del_wh_").toString)

  /** A built warehouse over the full corpus + the docIds tombstoned from
    * it (every docId ≡ 3 mod 7, like q44) + the surviving turns. */
  private def tombstoned(): (ParquetTableIO, IndexBuilder, Seq[graft.model.Turn], Seq[Long]) = {
    import spark.implicits._
    val io = freshWh()
    val b = new IndexBuilder(spark, io, blockSize = 8)
    b.build(spark.createDataset(allTurns))
    val dict = io.read(Tables.DocDict).as[(Long, String, Int, Int)].collect()
    val delIds = dict.map(_._1).filter(_ % 7 == 3).toSeq
    val delKeys = dict.filter(r => r._1 % 7 == 3).map(r => (r._2, r._3)).toSet
    val survivors = allTurns.filterNot(t => delKeys((t.conv_id, t.turn_idx)))
    b.deleteDocs(delIds, batchId = 0L)
    (io, b, survivors, delIds)
  }

  test("tombstoned index ≡ from-scratch build on the survivors, all query paths") {
    import spark.implicits._
    val (ioDel, _, survivors, delIds) = tombstoned()
    assert(delIds.nonEmpty && survivors.size == allTurns.size - delIds.size)
    val eDel = new SparkSearchEngine(spark, ioDel)

    val ioRef = freshWh()
    new IndexBuilder(spark, ioRef, blockSize = 8).build(spark.createDataset(survivors))
    val eRef = new SparkSearchEngine(spark, ioRef)

    // corpus stats recomputed EXACTLY (integer doc_len sums are exact in
    // IEEE double, so the avg is order-free)
    assert(eDel.stats == eRef.stats)

    queries.foreach { q =>
      assert(keyed(eDel, ioDel, q) == keyed(eRef, ioRef, q), s"query $q")
    }
    // the WAND kernel path (block df minus delta + exact skip set) stays
    // bit-identical to the exhaustive driver path (df counted over the
    // filtered postings) ON the tombstoned engine
    assert(eDel.termTopKWand("whale", 0.0, 50) == eDel.topKDriver("whale", 0.0, 50).get)
    // the dense one-shuffle evaluator applies the tombstones too
    assert(eDel.topKDense(queries(2), 0.0, 1000) == eDel.topKAuto(queries(2), 0.0, 1000))
    // bulk path: per-query ≡ single-query on the tombstoned engine
    val bulk = eDel.searchManyAuto(queries)
      .select(col("query"), col("docId"), col("score"))
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(r => (r._2, r._3)).toSet).toMap
    queries.foreach { q =>
      assert(bulk(q) == eDel.topKAuto(q, 0.0, 100).toSet, s"bulk $q")
    }
  }

  /** The tombstoned warehouse, the survivors' oracle, and top-k lists
    * keyed by (conv_id, turn_idx): docIds relabel between the two, but
    * both rank by that key. */
  private def gateFixture() = {
    import spark.implicits._
    val (io, _, survivors, _) = tombstoned()
    val oracle = new graft.oracle.RefOracle(survivors)
    val engineKey = io.read(Tables.DocDict).as[(Long, String, Int, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val oracleKey = oracle.docs.map { case (d, t) => d -> ((t.conv_id, t.turn_idx)) }.toMap
    def ranked(top: Vector[(Long, Double)], key: Map[Long, (String, Int)]) =
      top.map { case (d, s) => (key(d), s) }
    /** The live docs an atom matches, from the oracle. */
    def docsOf(atom: String): Set[Long] =
      if (atom.startsWith("\""))
        oracle.DenseAlgebra.phraseScore(atom.stripPrefix("\"").stripSuffix("\""))
          .collect { case (d, s) if s > 0 => d }.toSet
      else oracle.index.getOrElse(atom, Map.empty).keySet
    def engine(cap: Int) = new SparkSearchEngine(spark, io, GraftParams(driverAlgebraMaxDocs = cap))
    def want(q: String) = ranked(oracle.search(q, 0.0, 1000), oracleKey)
    def got(top: Vector[(Long, Double)]) = ranked(top, engineKey)
    (docsOf _, engine _, want _, got _)
  }

  test("driver gate at its boundary: max operand live df → driver, one less → dense") {
    val (docsOf, engine, want, got) = gateFixture()
    // a term, a phrase, and a mixed query whose merges never outgrow its
    // largest operand (the phrase's docs all contain its head stem, blue)
    Seq(Seq("whale"), Seq("\"blue whale\""), Seq("\"blue whale\"", "blue")).foreach { atoms =>
      val q = atoms.mkString(" ")
      val max = atoms.map(docsOf(_).size).max
      val atGate = engine(max)
      val over = engine(max - 1)
      assert(atGate.topKDriver(q, 0.0, 1000).map(got).contains(want(q)),
        s"'$q' at driverAlgebraMaxDocs = $max must route to the driver, == oracle")
      assert(over.topKDriver(q, 0.0, 1000).isEmpty, s"'$q' at ${max - 1} must decline")
      assert(got(over.topKDense(q, 0.0, 1000)) == want(q), s"'$q' dense")
      assert(got(over.topKAuto(q, 0.0, 1000)) == want(q), s"'$q' auto")
    }
  }

  test("driver gate on the union: operands that fit, a union that does not → dense") {
    val (docsOf, engine, want, got) = gateFixture()
    val (a, b) = ("\"blue whale\"", "\"red fish\"")
    val q = s"$a OR $b"
    val max = math.max(docsOf(a).size, docsOf(b).size)
    val union = (docsOf(a) ++ docsOf(b)).size
    assert(max < union - 1, s"the two phrases must each add docs: max $max, union $union")
    assert(engine(union).topKDriver(q, 0.0, 1000).map(got).contains(want(q)),
      s"'$q' at driverAlgebraMaxDocs = $union (the union) must route to the driver, == oracle")
    Seq(union - 1, max).foreach { cap =>
      val over = engine(cap)
      assert(over.topKDriver(q, 0.0, 1000).isEmpty, s"'$q' at $cap: every operand fits, the union does not")
      assert(got(over.topKDense(q, 0.0, 1000)) == want(q), s"'$q' at $cap dense")
      assert(got(over.topKAuto(q, 0.0, 1000)) == want(q), s"'$q' at $cap auto")
    }
  }

  test("doc directory on tombstones: both sides of its gate ==, sub-k fills skip the lowest ids") {
    import spark.implicits._
    val io = freshWh()
    val b = new IndexBuilder(spark, io, blockSize = 8)
    b.build(spark.createDataset(allTurns))
    val ids = io.read(Tables.DocDict).select(col("docId")).as[Long].collect().sorted.toSeq
    val deleted = Seq(ids(0), ids(1), ids(3)) // the lowest live docIds a fill would take
    b.deleteDocs(deleted, batchId = 0L)
    val live = ids.filterNot(deleted.contains)
    val turns = spark.createDataset(allTurns).toDF()
    val shapes = Seq("\"zzz nothing\"", "zzzunknown", "whale", "NOT \"blue whale\"", "\"blue whale\" whale engine")
    def compare(label: String): Unit = for (k <- Seq(100, 3)) {
      val held = new SparkSearchEngine(spark, io, GraftParams(topK = k))
      val n = held.stats.total_docs
      assert(n == live.size, s"$label: live docs")
      val over = new SparkSearchEngine(spark, io, GraftParams(topK = k, driverAlgebraMaxDocs = (n - 1).toInt))
      for (q <- shapes; acc <- Seq(0.0, Double.MinPositiveValue, 0.4)) {
        assert(held.topKAuto(q, acc, k) == over.topKAuto(q, acc, k), s"$label '$q' acc=$acc k=$k topKAuto")
        assert(held.search(q, turns, acc) == over.search(q, turns, acc), s"$label '$q' acc=$acc k=$k search")
      }
      // a query matching nothing is all fill: the k lowest LIVE docIds
      Seq("\"zzz nothing\"", "zzzunknown").foreach { q =>
        assert(held.topKAuto(q, 0.0, k) == live.take(k).map(_ -> 0.0), s"$label '$q' k=$k fill")
      }
    }
    compare("tombstoned")
    b.compact()
    assert(!io.exists(Tables.Deletes))
    compare("compacted")
  }

  test("lexicon on an appended, tombstoned warehouse: every term's df == the Spark liveDf sum") {
    import spark.implicits._
    val io = freshWh()
    val b = new IndexBuilder(spark, io, blockSize = 8)
    val convs = allTurns.map(_.conv_id).distinct.sorted
    val (base, appended) = allTurns.partition(t => convs.indexOf(t.conv_id) < convs.size / 2)
    b.build(spark.createDataset(base))
    b.buildIncremental(spark.createDataset(appended), batchId = 1L)
    val ids = io.read(Tables.DocDict).select(col("docId")).as[Long].collect().sorted
    // tombstones in both segments, left un-compacted
    b.deleteDocs(ids.filter(_ % 5 == 2).toSeq, batchId = 2L)
    assert(io.exists(Tables.Deletes) && io.exists(Tables.DeletedTermDf))
    val held = new SparkSearchEngine(spark, io)
    val n = held.stats.total_docs
    val over = new SparkSearchEngine(spark, io, GraftParams(driverAlgebraMaxDocs = (n - 1).toInt))
    val blocks = io.read(Tables.Blocks).select($"term", $"n_docs".cast("long")).as[(String, Long)].collect()
    val vocab = blocks.map(_._1).distinct.toSeq
    val lexicon = held.liveDf(vocab)
    assert(lexicon.keySet == vocab.toSet)
    assert(lexicon == over.liveDf(vocab), "the lexicon's df must equal the Spark liveDf sum")
    // the deltas matter: some term's live df is below its blocks' n_docs sum
    val blockDf = blocks.groupMapReduce(_._1)(_._2)(_ + _)
    assert(vocab.exists(t => lexicon(t) < blockDf(t)))
    // and both sides of the gate answer the phrase shapes alike
    for (q <- queries ++ Seq("\"blue zzzmissing whale\"", "\"zzzmissing blue whale\" whale", "\"blue blue whale\""))
      assert(held.topKAuto(q, 0.0, 100) == over.topKAuto(q, 0.0, 100), s"'$q'")
  }

  test("deleteDocs is batch-idempotent; unknown/already-deleted ids are ignored") {
    import spark.implicits._
    val (io, b, survivors, delIds) = tombstoned()
    // replay of a committed batch: no-op
    assert(b.deleteDocs(delIds, batchId = 0L).isEmpty)
    // superset batch (already-deleted + never-indexed ids): nothing new
    val m1 = b.deleteDocs(delIds ++ Seq(999999L, 888888L), batchId = 1L)
    assert(m1.head.rows == 0)
    val (n, _) = io.read(Tables.Stats).as[(Long, Double)].head()
    assert(n == survivors.size)
    assert(io.read(Tables.Deletes).count() == delIds.size)
  }

  test("compact purges tombstones physically without changing any result") {
    import spark.implicits._
    val (io, b, survivors, delIds) = tombstoned()
    val before = queries.map(q => q -> keyed(new SparkSearchEngine(spark, io), io, q)).toMap

    b.compact()
    assert(!io.exists(Tables.Deletes) && !io.exists(Tables.DeletedTermDf))
    assert(io.read(Tables.DocDict).count() == survivors.size)
    assert(io.read(Tables.Postings).filter(col("docId").isin(delIds: _*)).count() == 0)
    // blocks rebuilt from the purged postings: no tombstoned doc survives
    val eC = new SparkSearchEngine(spark, io) // re-open: compact committed a new version
    queries.foreach { q =>
      assert(keyed(eC, io, q) == before(q), s"query $q after compact")
    }
    assert(eC.termTopKWand("whale", 0.0, 50) == eC.topKDriver("whale", 0.0, 50).get)
  }

  test("purged docIds are never reused by a later incremental append") {
    import spark.implicits._
    val (io, b, _, _) = tombstoned()
    val maxId = io.read(Tables.DocDict).agg(org.apache.spark.sql.functions.max(col("docId")))
      .as[Long].head()
    // tombstone the tail ids too, so the post-purge dict max drops
    b.deleteDocs(Seq(maxId, maxId - 1), batchId = 5L)
    b.compact()
    val maxAfter = io.read(Tables.DocDict).agg(org.apache.spark.sql.functions.max(col("docId")))
      .as[Long].head()
    assert(maxAfter < maxId)
    val extra = allTurns.take(2).map(t => t.copy(conv_id = "conv-fresh" + t.conv_id))
    b.buildIncremental(spark.createDataset(extra.toIndexedSeq), batchId = 100L)
    val newIds = io.read(Tables.DocDict)
      .filter(col("conv_id").startsWith("conv-fresh")).select(col("docId"))
      .as[Long].collect().sorted
    assert(newIds.head == maxId + 1, s"watermark must floor nextId past the purged range: $newIds")
  }

  test("tombstone cap: block-index queries refuse past maxDeletedIdsInMemory") {
    val (io, _, _, delIds) = tombstoned()
    assert(delIds.size > 2)
    val capped = new SparkSearchEngine(spark, io,
      GraftParams(maxDeletedIdsInMemory = 2))
    intercept[IllegalStateException] { capped.termTopKWand("whale", 0.0, 10) }
    // the exhaustive paths do not need the driver-side skip set
    assert(capped.topKDriver("whale", 0.0, 10).exists(_.nonEmpty))
    assert(capped.topKDense("whale", 0.0, 10).nonEmpty)
  }

  test("fresh full build clears stale tombstones and watermark") {
    import spark.implicits._
    val (io, b, _, _) = tombstoned()
    b.compact() // the docId watermark outlives the purge
    assert(io.snapshot().state.nextDocId == allTurns.size)
    val rebuilt = allTurns.dropRight(5)
    b.build(spark.createDataset(rebuilt)) // resume = false: new corpus life
    assert(!io.exists(Tables.Deletes) && io.snapshot().state.nextDocId == rebuilt.size)
    val e = new SparkSearchEngine(spark, io)
    assert(e.stats.total_docs == rebuilt.size)
  }
}
