package graft.ops

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.build.Tables
import graft.store.{CrashingIO, ParquetTableIO, TestWarehouses}
import graft.streaming.StreamingDedup

/** The ops indexes over the commit log: a writer killed before any of its
  * file operations leaves an index whose recovery is exact, frames built
  * before a rewrite still evaluate, and probes run no metadata job. */
class IndexStoreSpec extends AnyFunSuite {
  import OpsFixture.spark
  import spark.implicits._

  private val vecs = {
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(8, 16)(rnd.nextGaussian())
    (0L until 300L).map { i =>
      (i, centers((i % 8).toInt).map(x => (x + rnd.nextGaussian() * 0.1).toFloat).toSeq)
    }
  }
  private val emb = spark.createDataset(vecs).toDF("vec_id", "embedding")
  private val q = vecs.head._2
  private lazy val docs = spark.read.parquet(s"${OpsFixture.sfDir}/documents.parquet")
    .select("doc_id", "text")

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)
  private def rows(path: String, table: String) = IndexStore.open(spark, path).read(table)

  /** Every file the latest version references exists, and every parquet
    * file under the index's tables is live or retired by the latest commit. */
  private def noOrphans(idx: Path): Unit = {
    val snap = new ParquetTableIO(spark, idx.toString).snapshot()
    val live = snap.files.values.flatten.map(_.path).toSet
    live.foreach(p => assert(Files.exists(idx.resolve(p)), s"commit references missing $p"))
    val onDisk = Tables.IndexData.map(idx.resolve).filter(Files.isDirectory(_)).flatMap { d =>
      val st = Files.walk(d)
      try st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => idx.relativize(p).toString).toVector finally st.close()
    }
    val stray = onDisk.filterNot(p => live(p) || snap.retired(p))
    assert(stray.isEmpty, s"unreferenced files: $stray")
  }

  /** The `id` column of `table`, sorted; asserts each id is held once. */
  private def once(path: String, table: String, id: String): Seq[Long] = {
    val ids = rows(path, table).select(id).as[Long].collect().toSeq.sorted
    assert(ids.distinct.size == ids.size, s"duplicated $id rows in $table")
    ids
  }

  /** Kill `op` before each of its file operations in turn, on a fresh copy
    * of the index at `src`, then recover by rerunning `op`: every write is
    * idempotent (an append whose commit landed finds its ledger row and
    * does nothing). The recovered index must `observe` exactly like the
    * uninterrupted run's, with no orphan file, and so must the
    * uninterrupted run's after a retry. Returns the number of file
    * operations. */
  private def crashEverywhere[T](src: Path)(op: String => Any)(observe: String => T): Int = {
    def copy() = { val d = tmp("idx_crash_").resolve("idx"); TestWarehouses.copyTree(src, d); d }
    val ref = copy().toString
    var counting: CrashingIO = null
    IndexStore.wrapIO.withValue { io => counting = new CrashingIO(io, Int.MaxValue); counting } {
      op(ref)
    }
    val want = observe(ref)
    op(ref)
    assert(observe(ref) == want, "a retry after the uninterrupted run")
    (0 until counting.ops).foreach { k =>
      val idx = copy()
      intercept[CrashingIO.Crash](
        IndexStore.wrapIO.withValue(io => new CrashingIO(io, k))(op(idx.toString)))
      op(idx.toString)
      assert(observe(idx.toString) == want, s"recovery after a crash before file operation $k")
      noOrphans(idx)
    }
    counting.ops
  }

  private def lshTop(p: String) =
    Similarity.lshTopKIndexed(spark, p, q, 0L, 10, probeHamming = 2).as[(Long, Double)].collect().toSeq

  test("crash injection: LSH append, ANN delete, MinHash compaction and a dedup-gate batch recover exactly") {
    val lsh = tmp("lsh_src_")
    Similarity.buildLshIndex(spark, emb.filter($"vec_id" < 200), lsh.toString, planesOpt = Some(3))
    val appendOps = crashEverywhere(lsh)(
      Similarity.appendLshAssignments(spark, emb.filter($"vec_id" >= 200), _, 1L))(p =>
      (lshTop(p), once(p, Tables.LshAssignments, "vec_id")))

    val ivfPq = tmp("ivfpq_src_")
    Similarity.buildIvfPqIndex(spark, emb, ivfPq.toString)
    val deleteOps = crashEverywhere(ivfPq)(IndexStore.delete(spark, _, (20L to 40L) ++ Seq(0L, 299L))) { p =>
      (Similarity.ivfPqTopKIndexed(spark, p, emb, q, 0L, 15, nProbe = 6).as[(Long, Double)].collect().toSeq,
        rows(p, Tables.IvfPqCodes).count())
    }

    val mh = tmp("mh_src_")
    Dedup.buildMinHashIndex(spark, docs.filter($"doc_id" < 100), mh.toString)
    (0 until 3).foreach { i =>
      Dedup.appendMinHashSigs(spark, docs.filter($"doc_id" >= 100 + i * 50 && $"doc_id" < 150 + i * 50),
        mh.toString, i.toLong)
    }
    val batch = docs.filter($"doc_id" >= 250 && $"doc_id" < 300)
    val compactOps = crashEverywhere(mh)(IndexStore.compact(spark, _)) { p =>
      (Dedup.minHashLshIndexed(spark, p, threshold = 0.2).as[(Long, Long, Double)].collect().toSeq,
        Dedup.minHashDedupBatch(spark, p, batch, threshold = 0.2).as[(Long, Long, Double)].collect().toSeq,
        rows(p, Tables.MinHashSigs).count())
    }

    // the gate replays its batch after any crash: the ledger row rides on
    // the append's commit, so no signature row is ever appended twice
    val gate = tmp("gate_src_")
    Dedup.buildMinHashIndex(spark, docs.filter($"doc_id" < 200), gate.toString)
    val gateBatch = docs.filter($"doc_id" >= 200 && $"doc_id" < 260)
    def survivors(p: String) = StreamingDedup.dedupBatch(spark, p, gateBatch, 7L, threshold = 0.2)
      .select($"doc_id").as[Long].collect().toSet
    val gateOps = crashEverywhere(gate)(survivors) { p =>
      val sigs = rows(p, Tables.MinHashSigs)
      assert(sigs.count() == sigs.select($"doc_id").distinct().count(), "duplicated signature rows")
      (survivors(p), sigs.count())
    }
    // two writes, the commit and the vacuum (one write for the append)
    assert((appendOps, deleteOps, compactOps, gateOps) == ((3, 3, 4, 4)))
  }

  test("crash injection: the IVF, PQ and MinHash appends recover by a plain rerun, no row twice") {
    val newVecs = emb.filter($"vec_id" >= 200)
    val ivf = tmp("ivf_src_")
    Similarity.buildIvfIndex(spark, emb.filter($"vec_id" < 200), ivf.toString)
    val ivfOps = crashEverywhere(ivf)(Similarity.appendIvfAssignments(spark, newVecs, _, 1L)) { p =>
      (Similarity.ivfTopKIndexed(spark, p, q, 0L, 10).as[(Long, Double)].collect().toSeq,
        once(p, Tables.IvfAssignments, "vec_id"))
    }
    val pq = tmp("pq_src_")
    Similarity.buildPqIndex(spark, emb.filter($"vec_id" < 200), pq.toString)
    val pqOps = crashEverywhere(pq)(Similarity.appendPqCodes(spark, newVecs, _, 1L)) { p =>
      (Similarity.pqTopKIndexed(spark, p, emb, q, 0L, 10).as[(Long, Double)].collect().toSeq,
        once(p, Tables.PqCodes, "vec_id"))
    }
    val mh = tmp("mh_append_src_")
    Dedup.buildMinHashIndex(spark, docs.filter($"doc_id" < 200), mh.toString)
    val mhOps = crashEverywhere(mh)(
      Dedup.appendMinHashSigs(spark, docs.filter($"doc_id" >= 200 && $"doc_id" < 260), _, 1L)) { p =>
      (Dedup.minHashLshIndexed(spark, p, threshold = 0.2).as[(Long, Long, Double)].collect().toSeq,
        once(p, Tables.MinHashSigs, "doc_id"), rows(p, Tables.MinHashBuckets).count())
    }
    // one write per table, the commit and the vacuum
    assert((ivfOps, pqOps, mhOps) == ((3, 3, 4)))
  }

  test("a probe frame built before a compaction or a delete still evaluates") {
    val lsh = tmp("lsh_frame_").toString
    Similarity.buildLshIndex(spark, emb.filter($"vec_id" < 150), lsh, planesOpt = Some(3))
    (0 until 3).foreach { i =>
      Similarity.appendLshAssignments(spark,
        emb.filter($"vec_id" >= 150 + i * 50 && $"vec_id" < 200 + i * 50), lsh, i.toLong)
    }
    val frame = Similarity.lshTopKIndexed(spark, lsh, q, 0L, 10, probeHamming = 2)
    val want = lshTop(lsh)
    IndexStore.compact(spark, lsh)
    assert(frame.as[(Long, Double)].collect().toSeq == want)
    val frame2 = Similarity.lshTopKIndexed(spark, lsh, q, 0L, 10, probeHamming = 2)
    IndexStore.delete(spark, lsh, want.map(_._1).take(3))
    assert(frame2.as[(Long, Double)].collect().toSeq == want)
    assert(lshTop(lsh).map(_._1).intersect(want.map(_._1).take(3)).isEmpty)
  }

  test("probe job floor: opening an index runs no job, a warm probe only its data jobs") {
    val lsh = tmp("lsh_jobs_").toString
    val ivf = tmp("ivf_jobs_").toString
    val pq = tmp("pq_jobs_").toString
    val ivfPq = tmp("ivfpq_jobs_").toString
    val mh = tmp("mh_jobs_").toString
    Similarity.buildLshIndex(spark, emb, lsh)
    Similarity.buildIvfIndex(spark, emb, ivf)
    Similarity.buildPqIndex(spark, emb, pq)
    Similarity.buildIvfPqIndex(spark, emb, ivfPq)
    Dedup.buildMinHashIndex(spark, docs.filter($"doc_id" < 150), mh)
    val batch = docs.filter($"doc_id" >= 150 && $"doc_id" < 200)
    val qs = Seq(0L, 7L, 123L).map(id => id -> vecs(id.toInt)._2)
    val probes = Seq[(String, () => Any)](
      "lsh" -> (() => Similarity.lshTopKIndexed(spark, lsh, q, 0L, 10).collect()),
      "ivf" -> (() => Similarity.ivfTopKIndexed(spark, ivf, q, 0L, 10).collect()),
      "pq" -> (() => Similarity.pqTopKIndexed(spark, pq, emb, q, 0L, 10).collect()),
      "ivfpq" -> (() => Similarity.ivfPqTopKIndexed(spark, ivfPq, emb, q, 0L, 10).collect()),
      "lsh bulk" -> (() => Similarity.lshTopKManyIndexed(spark, lsh, qs, 10).collect()),
      "ivf bulk" -> (() => Similarity.ivfTopKManyIndexed(spark, ivf, qs, 10).collect()),
      "pq bulk" -> (() => Similarity.pqTopKManyIndexed(spark, pq, emb, qs, 10).collect()),
      "lsh one-shot" -> (() => Similarity.lshTopK(spark, emb, 0L, 10).collect()),
      "brute" -> (() => Similarity.bruteForceTopK(emb, 0L, 10).collect()),
      "minhash" -> (() => Dedup.minHashDedupBatch(spark, mh, batch).collect()))

    val sc = spark.sparkContext
    val group = "index-store-job-floor"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def count(call: => Any): Int = {
      org.apache.spark.TestBus.drain(sc)
      jobs.set(0)
      call
      org.apache.spark.TestBus.drain(sc)
      jobs.get
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "index job floor")
    try {
      val open = Seq(lsh, ivf, pq, ivfPq, mh).map(p => count(IndexStore.open(spark, p)))
      assert(open.forall(_ == 0), s"opening an index ran jobs: $open")
      val warm = probes.map { case (name, probe) => probe(); name -> count(probe()) }
      info(s"warm probe jobs: ${warm.mkString(", ")}")
      // one kernel job per probe, single or bulk (pq/ivfpq: plus the
      // shortlist re-rank); the one-shot LSH also reads the table's dims and
      // the query vector; the minhash batch probe releases its per-batch
      // caches, so a repeat recomputes them (the managed variant's count)
      assert(warm.toMap == Map("lsh" -> 1, "ivf" -> 1, "pq" -> 2, "ivfpq" -> 2,
        "lsh bulk" -> 1, "ivf bulk" -> 1, "pq bulk" -> 2, "lsh one-shot" -> 3, "brute" -> 1,
        "minhash" -> 17), s"warm probe jobs $warm")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
