package graft.store

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.api.SparkSearchEngine
import graft.build.{IndexBuilder, Tables}
import graft.corpus.TranscriptGen
import graft.model.Turn

/** The warehouse commit log: every write is one atomic commit, so a
  * writer killed between any two of its file operations leaves a
  * warehouse whose replay is exact; the write path and engine open read
  * their metadata from the log instead of running Spark jobs. */
class CommitLogSpec extends AnyFunSuite {
  import graft.EngineSpecFixture.spark
  import spark.implicits._

  private val allTurns = TranscriptGen.generateLocal(30)
  private val (baseTurns, batchTurns) = allTurns.partition(_.conv_id < allTurns.map(_.conv_id).max)
  private val queries = Seq(
    "whale",
    "\"blue whale\"",
    "(\"blue whale\" OR \"query engine\") NOT \"red fish\"",
    "\"blue whale\" whale engine")

  private def tmp(prefix: String): Path = Files.createTempDirectory(prefix)
  private def builder(io: TableIO) = new IndexBuilder(spark, io, blockSize = 8)
  private def ds(ts: Seq[Turn]) = spark.createDataset(ts)

  /** A built warehouse over `baseTurns`; `prep` runs further writes on it. */
  private def base(prep: IndexBuilder => Unit): Path = {
    val wh = tmp("log_base_")
    val b = builder(new ParquetTableIO(spark, wh.toString))
    b.build(ds(baseTurns))
    prep(b)
    wh
  }
  private val tombstoneIds = Seq(1L, 5L, 8L, 13L, 21L)

  /** What a reader sees: the stats and every query's ranked results. */
  private def observed(io: TableIO) = {
    val e = new SparkSearchEngine(spark, io)
    (e.stats, queries.map(q => e.topKAuto(q, 0.0, 1000)))
  }

  /** Every file the latest version references exists, and every data file
    * on disk is referenced or was retired by the latest commit. */
  private def noOrphans(wh: Path): Unit = {
    val snap = new ParquetTableIO(spark, wh.toString).snapshot()
    val live = snap.files.values.flatten.map(_.path).toSet
    live.foreach(p => assert(Files.exists(wh.resolve(p)), s"commit references missing $p"))
    val onDisk = Tables.Data.map(wh.resolve).filter(Files.isDirectory(_)).flatMap { d =>
      val st = Files.walk(d)
      try st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => wh.relativize(p).toString).toVector finally st.close()
    }
    val stray = onDisk.filterNot(p => live(p) || snap.retired(p))
    assert(stray.isEmpty, s"unreferenced files: $stray")
  }

  /** Kill `op` before each of its file operations in turn, on a fresh copy
    * of `src`; the replay must reach the uninterrupted run's results and
    * stats exactly, with no orphan left behind. */
  private def crashEverywhere(src: Path)(op: IndexBuilder => Any): Int = {
    def copy() = { val d = tmp("log_crash_").resolve("wh"); TestWarehouses.copyTree(src, d); d }
    val ref = copy()
    val counting = new CrashingIO(new ParquetTableIO(spark, ref.toString), Int.MaxValue)
    op(builder(counting))
    val want = observed(new ParquetTableIO(spark, ref.toString))
    (0 until counting.ops).foreach { k =>
      val wh = copy()
      val io = new ParquetTableIO(spark, wh.toString)
      intercept[CrashingIO.Crash](op(builder(new CrashingIO(io, k))))
      op(builder(io))
      assert(observed(io) == want, s"replay after a crash before file operation $k")
      noOrphans(wh)
    }
    counting.ops
  }

  test("crash injection: ingest, delete and compact replay exactly after a kill between any two file operations") {
    val ingestOps = crashEverywhere(base(_ => ()))(_.buildIncremental(ds(batchTurns), batchId = 1L))
    val deleteOps = crashEverywhere(base(_ => ()))(_.deleteDocs(tombstoneIds, batchId = 0L))
    val compactOps = crashEverywhere(base { b =>
      b.buildIncremental(ds(batchTurns), batchId = 1L)
      b.deleteDocs(tombstoneIds, batchId = 0L)
    })(_.compact())
    // three segment writes / two tombstone writes / three rewrites, each
    // followed by the commit and the vacuum
    assert((ingestOps, deleteOps, compactOps) == ((5, 4, 5)))
  }

  test("a second writer on the same version fails cleanly; the log keeps the first") {
    val wh = base(_ => ())
    val io = new ParquetTableIO(spark, wh.toString)
    val s0 = io.snapshot()
    val c = Commit(-1L, "noop", reset = false, Map.empty, Map.empty, s0.state, Nil, 0L)
    io.commit(s0, c.copy(action = "first"))
    intercept[java.util.ConcurrentModificationException](io.commit(s0, c.copy(action = "second")))
    assert(io.snapshot().version == s0.version + 1)
    assert(new CommitLog(wh).commits().last.action == "first")
  }

  /** Counts the Spark jobs of one call (this thread's job group only). */
  private final class JobCount(group: String) {
    private val sc = spark.sparkContext
    private val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    def apply(call: => Any): Int = {
      org.apache.spark.TestBus.drain(sc)
      jobs.set(0)
      call
      org.apache.spark.TestBus.drain(sc)
      jobs.get
    }
  }

  private def withJobCount[T](group: String)(body: JobCount => T): T = {
    val sc = spark.sparkContext
    val count = new JobCount(group)
    sc.addSparkListener(count.listener)
    sc.setJobGroup(group, group)
    try body(count)
    finally {
      sc.clearJobGroup()
      sc.removeSparkListener(count.listener)
    }
  }

  test("write-path job floor: metadata is read from the log, not from Spark jobs") {
    val wh = base(_ => ())
    val io = new ParquetTableIO(spark, wh.toString)
    withJobCount("commit-log-job-floor") { count =>
      val b = builder(io)
      val ingest = count(b.buildIncremental(ds(batchTurns), batchId = 1L))
      val delete = count(b.deleteDocs(tombstoneIds, batchId = 0L))
      val open = count(new SparkSearchEngine(spark, io))
      val engine = new SparkSearchEngine(spark, io)
      val first = count(engine.topKAuto("whale", 0.0, 10))
      val warm = count(engine.topKAuto("whale", 0.0, 10))
      val compact = count(b.compact())
      info(s"jobs: ingest $ingest, delete $delete, open $open, first query $first (warm $warm), compact $compact")
      assert(open == 0, "engine open reads the log on the driver")
      // the first term query pays only its data jobs plus the one
      // tombstone collect and the one lexicon load — no schema
      // inference, stats or ledger job
      assert(first == warm + 2, s"first query $first vs warm $warm")
      assert(ingest == 8, s"ingest jobs $ingest")
      assert(delete == 5, s"delete jobs $delete")
      assert(compact == 9, s"compact jobs $compact")
    }
  }

  test("search looks its hits up in the raw dictionary: tombstones add no job to a warm search") {
    val wh = base(b => b.deleteDocs(tombstoneIds, batchId = 0L))
    val io = new ParquetTableIO(spark, wh.toString)
    val turns = ds(baseTurns).toDF()
    def warm(count: JobCount) = {
      val e = new SparkSearchEngine(spark, io)
      e.search("whale", turns)
      (count(e.search("whale", turns)), e.search("whale", turns))
    }
    withJobCount("commit-log-search-jobs") { count =>
      val (tombstoned, hits) = warm(count)
      builder(io).compact()
      val (compacted, hitsAfter) = warm(count)
      info(s"warm search jobs: tombstoned $tombstoned, compacted $compacted")
      assert(tombstoned == compacted)
      assert(hits == hitsAfter && hits.nonEmpty)
      assert(hits.forall(h => !tombstoneIds.contains(h.docId)))
    }
  }

  test("log compatibility: a commit written before State.params existed opens to the same snapshot") {
    val wh = tmp("log_compat_")
    val dir = Files.createDirectories(wh.resolve(CommitLog.DirName))
    // exactly the fields FormatVersion 7 wrote before `State.params`
    // existed, and before the ledger key was a Long: a `batchId` field and
    // a ledger row whose `partition_id` was an Int
    Files.writeString(dir.resolve(CommitLog.fileName(0L)),
      "{\"version\":0,\"action\":\"build\",\"batchId\":3,\"reset\":true," +
        "\"add\":{\"doc_dict\":[{\"path\":\"doc_dict/w-1/part-0.parquet\",\"bytes\":3488}]}," +
        "\"remove\":{},\"state\":{\"format\":7,\"docs\":898,\"docLenSum\":70234," +
        "\"avgDocLen\":78.21158129175947,\"nextDocId\":898,\"tombstones\":0}," +
        "\"lineage\":[{\"stage\":\"doc_dict\",\"partition_id\":-1,\"status\":\"done\"," +
        "\"rows\":898,\"wall_ms\":423},{\"stage\":\"delete_batch\",\"partition_id\":3," +
        "\"status\":\"done\",\"rows\":2,\"wall_ms\":9}],\"timestampMs\":1792384546852}")
    val state = State(7, 898L, 70234L, 78.21158129175947, 898L, 0L)
    val want = Snapshot.empty(7).next(Commit(0L, "build", reset = true,
      Map("doc_dict" -> Seq(FileEntry("doc_dict/w-1/part-0.parquet", 3488L))), Map.empty, state,
      Seq(graft.model.LineageRow("doc_dict", -1, "done", 898L, 423L),
        graft.model.LineageRow(Tables.DeleteLedgerStage, 3L, "done", 2L, 9L)), 1792384546852L))
    val got = new CommitLog(wh).latest()
    assert(got.contains(want))
    assert(got.get.state.params == Map.empty[String, Long])
    // the ledger answers its key: a replay of delete batch 3 commits nothing
    assert(got.get.committed(Tables.DeleteLedgerStage, 3L))
    assert(builder(new ParquetTableIO(spark, wh.toString)).deleteDocs(Seq(1L), 3L) == Seq.empty)
    assert(builder(new ParquetTableIO(spark, wh.toString)).nextDeleteBatchId() == 4L)
    assert(new CommitLog(wh).latest() == got)
    // and a commit that carries parameters reads them back as Longs
    val io = new ParquetTableIO(spark, wh.toString)
    val s1 = io.commit(got.get, Commit(-1L, "params", reset = false, Map.empty, Map.empty,
      state.copy(params = Map("planes" -> 3L, "seed" -> (1L << 40))), Nil, 0L))
    assert(new CommitLog(wh).latest().map(_.state) == Some(s1.state))
    assert(new CommitLog(wh).latest().get.state.params("seed") == (1L << 40))

    // an index log as the streaming gate wrote it: its batch's ledger row
    // (an Int `partition_id`) in the append's commit, `batchId` -1
    val idx = tmp("log_compat_idx_")
    Files.writeString(Files.createDirectories(idx.resolve(CommitLog.DirName)).resolve(CommitLog.fileName(0L)),
      "{\"version\":0,\"action\":\"append\",\"batchId\":-1,\"reset\":true," +
        "\"add\":{\"minhash_sigs\":[{\"path\":\"minhash_sigs/w-1/part-0.parquet\",\"bytes\":900}]}," +
        "\"remove\":{},\"state\":{\"format\":4,\"docs\":0,\"docLenSum\":0,\"avgDocLen\":0.0," +
        "\"nextDocId\":0,\"tombstones\":0,\"params\":{\"shingle_n\":3,\"k\":64,\"bands\":16}}," +
        "\"lineage\":[{\"stage\":\"stream_batch/1a2b3c4d\",\"partition_id\":7,\"status\":\"done\"," +
        "\"rows\":50,\"wall_ms\":31}],\"timestampMs\":1792384546852}")
    val index = graft.ops.IndexStore.open(spark, idx.toString)
    assert(index.snap.committed("stream_batch/1a2b3c4d", 7L))
    index.append(7L, "stream_batch/1a2b3c4d")(fail("a replayed append ran its write"))
    assert(new CommitLog(idx).latest().map(_.version) == Some(0L))
  }

  test("reads race a compaction: an engine opened before it keeps its whole snapshot") {
    val wh = base(b => b.deleteDocs(tombstoneIds, batchId = 0L))
    val io = new ParquetTableIO(spark, wh.toString)
    val before = new SparkSearchEngine(spark, io)
    val want = queries.map(q => before.topKAuto(q, 0.0, 1000))
    builder(io).compact()
    // the retired files stay readable until the next commit
    assert(queries.map(q => before.topKAuto(q, 0.0, 1000)) == want)
    val after = new SparkSearchEngine(spark, io)
    assert(queries.map(q => after.topKAuto(q, 0.0, 1000)) == want)
    assert(after.snapshot.version == before.snapshot.version + 1)
  }
}
