package graft.build

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.model._
import graft.store.{Change, Snapshot, State, TableIO, Written}
import graft.text.TextPipeline
import graft.codec.VarByte

object Tables {
  /** Bump on any index-table schema/layout change: resumable builds skip
    * committed stages, so a resume against tables from an older format
    * must be impossible (cache paths embed this).
    * v5: block payload = scores section (docIds, tf/docLen) + length-
    * prefixed positions section, and BUILT blocks are positions-free
    * (phrases read the postings table, which keeps full positions).
    * v6: optional tombstone tables (`deleted_docs` + per-term `deleted_df`
    * deltas) that every query path must apply — a deletes-unaware engine
    * reading a tombstoned warehouse would silently resurrect deleted docs,
    * which is exactly the silent-wrong-results class the format check
    * guards.
    * v7: one commit log per warehouse (`graft.store.CommitLog`). Each
    * commit lists the files it adds and removes per table and carries the
    * stats, the exact live doc count and doc_len sum, the docId watermark
    * and the lineage rows; the `format` marker, the `stats` and `lineage`
    * tables, the `next_doc_id` marker and tag-named appends are gone. The
    * data tables' columns are unchanged, and a v6 warehouse migrates on
    * first open (one commit synthesized from its tables). */
  val FormatVersion = 7
  val PostingsRaw = "postings_raw"
  val DocDict = "doc_dict"
  /** The stats singleton (total_docs, avg_doc_len): a local relation over
    * the log's state, no longer a table. */
  val Stats = "stats"
  val TermStats = "term_stats"
  val Postings = "postings"
  val Blocks = "index_blocks"
  /** Lineage rows (LineageRow): a local relation over the log's commits. */
  val Lineage = "lineage"
  /** Tombstoned docIds (docId: Long) — applied by every query path until
    * `compact()` physically purges them. */
  val Deletes = "deleted_docs"
  /** Per-term df deltas of the tombstoned docs (term, delta) — keeps the
    * WAND path's block-metadata df exact without re-scanning postings at
    * query time. */
  val DeletedTermDf = "deleted_df"
  /** Lineage stage of committed delete batches (deleteDocs idempotency;
    * the server derives its next batchId from it). */
  val DeleteLedgerStage = "delete_batch"
  /** Lineage stage of committed incremental batches. */
  val IngestLedgerStage = "incremental_batch"
  /** Lineage stage of an ops index's committed append batches. */
  val AppendLedgerStage = "append_batch"

  // The tables of the ops indexes (`graft.ops.IndexStore`): each index
  // directory holds one family's tables under its own commit log.
  /** LSH: (vec_id, embedding, bucket), partitioned by `part` = the bucket's high bits. */
  val LshAssignments = "lsh_assignments"
  /** IVF: (vec_id, embedding), partitioned by `cell`. */
  val IvfAssignments = "ivf_assignments"
  /** IVF and IVF-PQ codebook: (cell, embedding). */
  val Centroids = "centroids"
  /** PQ: (vec_id, codes). */
  val PqCodes = "pq_codes"
  /** IVF-PQ: (vec_id, codes), partitioned by `cell`. */
  val IvfPqCodes = "ivfpq_codes"
  /** PQ and IVF-PQ codebook: (j, code, sub). */
  val Codebook = "codebook"
  /** MinHash signatures: (doc_id, sig). */
  val MinHashSigs = "minhash_sigs"
  /** MinHash banding rows: (band, bucket, doc_id). */
  val MinHashBuckets = "minhash_buckets"

  /** The parquet tables and their declared schemas: every read uses
    * these (no inference), every write is checked against them. */
  private val schemas: Map[String, StructType] = {
    import scala.reflect.runtime.universe.TypeTag
    def of[T <: Product : TypeTag] = Encoders.product[T].schema
    def cols[T <: Product : TypeTag](names: String*) =
      StructType(of[T].fields.zip(names).map { case (f, n) => f.copy(name = n) })
    val postings = of[RawIndexRow].fields.take(5) // term, docId, tf, doc_len, positions_vb
    Map(
      PostingsRaw -> of[RawIndexRow],
      DocDict -> of[DocDictEntry],
      TermStats -> of[graft.model.TermStats],
      Postings -> StructType(postings),
      Blocks -> of[IndexBlock],
      Deletes -> new StructType().add("docId", LongType, nullable = false),
      DeletedTermDf -> new StructType().add("term", StringType).add("delta", LongType, nullable = false),
      LshAssignments -> cols[(Long, Seq[Float], Long, Long)]("vec_id", "embedding", "bucket", "part"),
      IvfAssignments -> cols[(Long, Seq[Float], Int)]("vec_id", "embedding", "cell"),
      Centroids -> cols[(Int, Seq[Float])]("cell", "embedding"),
      PqCodes -> cols[(Long, Seq[Int])]("vec_id", "codes"),
      IvfPqCodes -> cols[(Long, Seq[Int], Int)]("vec_id", "codes", "cell"),
      Codebook -> cols[(Int, Int, Seq[Double])]("j", "code", "sub"),
      MinHashSigs -> cols[(Long, Array[Long])]("doc_id", "sig"),
      MinHashBuckets -> cols[(Int, Long, Long)]("band", "bucket", "doc_id"))
  }
  val Data: Seq[String] = Seq(PostingsRaw, DocDict, TermStats, Postings, Blocks, Deletes, DeletedTermDf)
  val IndexData: Seq[String] = Seq(LshAssignments, IvfAssignments, Centroids, PqCodes, IvfPqCodes,
    Codebook, MinHashSigs, MinHashBuckets)
  def schema(table: String): StructType =
    schemas.getOrElse(table, throw new IllegalArgumentException(s"unknown table '$table'"))
  /** The Hive partition column of a table (its last declared column), so
    * a probe's filter on it prunes whole partitions of the file list. */
  def partitionColumn(table: String): Option[String] = table match {
    case LshAssignments => Some("part")
    case IvfAssignments | IvfPqCodes => Some("cell")
    case _ => None
  }

  /** Whether `name` reads as present at `snap`. */
  def present(snap: Snapshot, name: String): Boolean = name match {
    case Stats => snap.has(DocDict)
    case Lineage => snap.lineage.nonEmpty
    case t => snap.has(t)
  }
}

final case class StageMetric(stage: String, rows: Long, wallMs: Long, skipped: Boolean)

/** The format check every resume / incremental / delete / compact / query
  * entry point runs (round-2 ADVICE): `Tables.FormatVersion` used to gate
  * only /tmp cache PATHS, so a warehouse built at an older block layout
  * would silently misdecode every block instead of failing. The version
  * now lives in each commit of the log; a warehouse without a log is
  * migrated (v6) or refused (`Snapshot.refusal`). */
object FormatGuard {
  def check(snap: Snapshot, context: String): Unit = {
    snap.refusal.foreach(r => throw new IllegalStateException(s"$context: $r"))
    if (snap.state.format != Tables.FormatVersion) throw new IllegalStateException(
      s"$context: warehouse format v${snap.state.format} != engine v${Tables.FormatVersion} — " +
        "refusing to read/resume (blocks would misdecode); rebuild with resume=false")
  }
}

/** Distributed inverted-index build.
  *
  * Replaces the reference's thread-pool batch indexer
  * (/root/reference/source/InvertedIndex.cpp:11-109): instead of per-batch
  * in-memory maps merged on read (DataBase.cpp:32-89, InvertedIndex.cpp:248-283),
  * each stage is a declarative Spark job writing a checkpointed table:
  *
  *   raw      turns → dense docId (global (conv_id, turn_idx) rank) →
  *            single-pass tokenize/normalize/stem → one posting row per
  *            (term, doc) + one sentinel row per doc carrying dict columns.
  *            tf/positions are doc-local, so this stage needs NO shuffle
  *            beyond the range partitioning for id assignment.
  *   dict     sentinel rows → docID↔(conv_id,turn_idx) dictionary (north
  *            rule); its write also observes the doc count and doc_len sum,
  *            which give the stats singleton (reference metadata doc)
  *   terms    per-term df/ctf — map-side partial agg, shuffles only the
  *            tiny (term, counts) pairs
  *   postings flat index sorted by (term, docId): parquet min/max on `term`
  *            makes a term lookup a near-point read at any scale
  *   blocks   delta+varbyte block-max cells (≤ blockSize postings each) for
  *            WAND pruning; bounded row size even for `the`-class terms
  *            (stop words are NOT removed — SURVEY.md §1.3)
  *
  * Every write puts new files beside the live ones and commits them to the
  * warehouse's log (`TableIO.commit`) with its lineage row, whose row count
  * the write itself observed. Resume: a build stage the log records as
  * committed is skipped — the scalable analogue of the reference's
  * per-document `processed` flag (InvertedIndex.cpp:29-46).
  *
  * Run one writer per warehouse (the HTTP server serializes its writes).
  * Two writers that do race take the same log version, and the loser's
  * commit fails with nothing of it visible.
  */
final class IndexBuilder(spark: SparkSession, io: TableIO, blockSize: Int = 4096,
    rawShards: Int = 1) {
  import spark.implicits._
  import IndexBuilder.rawRows

  /** Explicit shuffle width. An un-parameterized repartitionByRange lets
    * AQE coalesce to its 64 MB advisory size — at local[32] that collapses
    * the sort/write (and every downstream scan of the files it wrote) to
    * ~5-way parallelism. Explicit counts are preserved by AQE; on a real
    * cluster size this from data volume instead. */
  private def nShuffle: Int =
    math.max(spark.conf.get("spark.sql.shuffle.partitions").toInt,
      spark.sparkContext.defaultParallelism)

  private def millisSince(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

  /** The removal of every current file of `tables` at `base`. */
  private def replaced(base: Snapshot, tables: Seq[String]): Map[String, Seq[String]] =
    tables.flatMap(t => base.files.get(t).map(fs => t -> fs.map(_.path))).toMap

  /** A ledgered write's metric: its ledger row, the last of its commit. */
  private def ledgerMetric(snap: Snapshot): StageMetric = {
    val r = snap.lineage.last
    StageMetric(s"${r.stage}:${r.partition_id}", r.rows, r.wall_ms, skipped = false)
  }

  /** Dense docId = global rank under (conv_id, turn_idx) ordering.
    * Range-partition + in-partition sort gives a total order at any
    * parallelism; zipWithIndex is the one justified RDD drop-down (dense
    * rank needs the two-pass per-partition offset sum — a single-partition
    * window would not scale). `assumeSorted` skips the range shuffle when
    * the source is already globally (conv_id, turn_idx)-ordered with
    * contiguous partitions (e.g. the deterministic generator, or an
    * ingest-sorted table) — ids are identical either way. */
  private def withDocIds(turns: Dataset[Turn], assumeSorted: Boolean): Dataset[(Long, Turn)] = {
    val sorted =
      if (assumeSorted) turns
      else turns
        .repartitionByRange(nShuffle, col("conv_id"), col("turn_idx"))
        .sortWithinPartitions("conv_id", "turn_idx")
    spark.createDataset(sorted.rdd.zipWithIndex().map { case (t, id) => (id, t) })
  }

  def build(turns: Dataset[Turn], resume: Boolean = false,
      assumeSorted: Boolean = false): Seq[StageMetric] =
    buildStages(turns, resume, assumeSorted, ingestBatch = None)

  /** The build stages, one commit each. The first commit of a fresh build
    * (`resume = false`) resets the warehouse: a new corpus life restarts
    * docIds at 0, so stale tombstones, watermark and ledger go with it.
    * `ingestBatch` is the incremental batch a bootstrap build indexes: its
    * ledger row rides on the last commit (a warehouse without blocks holds
    * no ingest ledger row, so nothing before that commit can be a replay). */
  private def buildStages(turns: Dataset[Turn], resume: Boolean, assumeSorted: Boolean,
      ingestBatch: Option[Long]): Seq[StageMetric] = {
    val latest = io.snapshot()
    if (resume) FormatGuard.check(latest, "IndexBuilder.build(resume)")
    // a fresh build's first commit resets the warehouse to this state
    var snap =
      if (resume) latest else latest.copy(state = Snapshot.empty(Tables.FormatVersion).state)
    val metrics = scala.collection.mutable.ArrayBuffer.empty[StageMetric]
    var reset = !resume
    def done(stage: String) = resume && snap.lineage.exists(_.stage == stage)
    def commitStage(stage: String, table: String, w: Written, t0: Long, state: State = snap.state,
        extra: Seq[LineageRow] = Nil, replace: Boolean = true,
        key: Option[(String, Long)] = None): Unit = {
      val wallMs = millisSince(t0)
      io.commitWrite(snap, key)(Change("build", state, Map(table -> w),
        replaced(snap, if (replace) Seq(table) else Nil), LineageRow(stage, -1, "done", w.rows, wallMs) +: extra,
        reset, // a bootstrap's ledger row records the whole build
        rows = metrics.map(_.rows).sum + w.rows, wallMs = metrics.map(_.wallMs).sum + wallMs)).foreach(snap = _)
      reset = false
      if (stage == table) metrics += StageMetric(stage, w.rows, wallMs, skipped = false)
    }
    def stage(name: String)(run: Long => Unit): Unit =
      if (done(name)) metrics += StageMetric(name, -1L, 0L, skipped = true)
      else run(System.nanoTime())
    def raw = io.read(Tables.PostingsRaw, snap)

    stage(Tables.PostingsRaw) { t0 =>
      def tokenized(slice: Dataset[(Long, Turn)]) =
        slice.mapPartitions(_.flatMap { case (docId, turn) => rawRows(docId, turn) }).toDF()
      val ids = withDocIds(turns, assumeSorted)
      if (rawShards <= 1) commitStage(Tables.PostingsRaw, Tables.PostingsRaw,
        io.write(tokenized(ids), Tables.PostingsRaw), t0)
      else {
        // shard-level resume: at corpus scale a restart must not redo the
        // whole tokenize pass, so each docId-modulo shard commits on its
        // own (the shuffle files behind the id assignment are reused
        // across shard jobs within a session; a restarted session skips
        // committed shards entirely)
        val s = rawShards
        val shardStages = (0 until s).map(i => s"${Tables.PostingsRaw}/shard=$i")
        shardStages.zipWithIndex.foreach { case (shard, i) =>
          if (!done(shard)) commitStage(shard, Tables.PostingsRaw,
            io.write(tokenized(ids.filter(_._1 % s == i)), Tables.PostingsRaw), System.nanoTime(),
            replace = false)
        }
        // the stage's own row, over every shard's rows
        val rows = snap.lineage.filter(r => shardStages.contains(r.stage)).map(_.rows).sum
        val wallMs = millisSince(t0)
        io.commitWrite(snap)(Change("build", snap.state,
          lineage = Seq(LineageRow(Tables.PostingsRaw, -1, "done", rows, wallMs)))).foreach(snap = _)
        metrics += StageMetric(Tables.PostingsRaw, rows, wallMs, skipped = false)
      }
    }

    stage(Tables.DocDict) { t0 =>
      val dict = raw.filter(col("term") === "")
        .select(col("docId"), col("conv_id"), col("turn_idx"), col("doc_len"))
      val w = io.write(dict, Tables.DocDict, sortCols = Seq("docId"),
        observe = Seq(sum(col("doc_len")).as("doc_len_sum"), max(col("docId")).as("max_doc_id")))
      // the stats singleton from the dictionary write itself: Spark's
      // avg(doc_len) is the exact integer sum as a double over the count
      val n = w.rows
      val dlSum = Option(w.observed("doc_len_sum")).fold(0L)(_.asInstanceOf[Long])
      val maxId = Option(w.observed("max_doc_id")).fold(-1L)(_.asInstanceOf[Long])
      val state = snap.state.copy(docs = n, docLenSum = dlSum,
        avgDocLen = if (n == 0) 0.0 else dlSum.toDouble / n, nextDocId = maxId + 1L, tombstones = 0L)
      commitStage(Tables.DocDict, Tables.DocDict, w, t0, state,
        extra = Seq(LineageRow(Tables.Stats, -1, "done", 1L, 0L)))
      metrics += StageMetric(Tables.Stats, 1L, 0L, skipped = false)
    }
    if (done(Tables.DocDict)) metrics += StageMetric(Tables.Stats, -1L, 0L, skipped = true)

    stage(Tables.TermStats) { t0 =>
      val ts = raw.filter(col("term") =!= "")
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("ctf"))
      commitStage(Tables.TermStats, Tables.TermStats,
        io.write(ts, Tables.TermStats, sortCols = Seq("term")), t0)
    }

    stage(Tables.Postings) { t0 =>
      val postings = raw.filter(col("term") =!= "")
        .select("term", "docId", "tf", "doc_len", "positions_vb")
        .repartitionByRange(nShuffle, col("term"), col("docId"))
        .sortWithinPartitions("term", "docId")
      commitStage(Tables.Postings, Tables.Postings, io.write(postings, Tables.Postings), t0)
    }

    stage(Tables.Blocks) { t0 =>
      // positions are NOT part of built blocks (v5 layout) — pruning the
      // positions_vb column out of this scan skips decoding the largest
      // column of the postings table for all ~rows of it (guide §6:
      // verify ReadSchema lists only what is used). Split boundaries are
      // computed from file sizes, not read schema, so the term-clustered
      // row runs (and the resulting blocks) are byte-identical.
      val blocks = blockify(io.read(Tables.Postings, snap)
        .select("term", "docId", "tf", "doc_len")
        .as[(String, Long, Int, Int)])
      val w = io.write(blocks.toDF(), Tables.Blocks, sortCols = Seq("term", "min_doc"))
      commitStage(Tables.Blocks, Tables.Blocks, w, t0, key = ingestBatch.map(Tables.IngestLedgerStage -> _))
    }

    metrics.toSeq
  }

  /** (term, docId)-sorted posting rows → delta+varbyte block-max cells
    * (≤ blockSize postings per block, scoring-only: positions stay in the
    * postings table). Rows must arrive term-clustered within each split. */
  private def blockify(
      postings: Dataset[(String, Long, Int, Int)]): Dataset[IndexBlock] = {
    val bs = blockSize
    postings.mapPartitions { iter =>
      new Iterator[IndexBlock] {
        private val it = iter.buffered
        def hasNext: Boolean = it.hasNext
        def next(): IndexBlock = {
          val term = it.head._1
          val buf = scala.collection.mutable.ArrayBuffer.empty[VarByte.Posting]
          var maxTf = 0; var minDl = Int.MaxValue
          while (it.hasNext && it.head._1 == term && buf.size < bs) {
            val (_, docId, tf, docLen) = it.next()
            maxTf = math.max(maxTf, tf); minDl = math.min(minDl, docLen)
            buf += VarByte.Posting(docId, tf, docLen, Array.empty)
          }
          IndexBlock(term, buf.head.docId, buf.last.docId, buf.size,
            maxTf, minDl, VarByte.encodeBlock(buf.toSeq))
        }
      }
    }
  }

  /** Compact incremental segments back to batch-build layout (round-4
    * VERDICT item 1). Every `buildIncremental` batch appends its own
    * (term, docId)-sorted postings/blocks segment; segments overlap in
    * term range, so after many batches a term-pruned read touches every
    * segment's files and WAND sees one under-filled block run per segment.
    * This re-sorts the postings table globally on (term, docId) and
    * rebuilds the block index from it — query results are bit-identical
    * (same posting rows; WAND is exact under any blocking), stats keep
    * their incremental weighted mean untouched (recomputing it would
    * drift the IEEE value), and the ledger and docId watermark are
    * unchanged.
    *
    * Deletions: when the warehouse carries tombstones (`deleteDocs`), the
    * rewrite also PURGES them — postings/blocks lose the tombstoned rows,
    * the dictionary loses the tombstoned docs, and the tombstone tables
    * are retired (queries stop paying the anti-join/skip-set). Query
    * results are unchanged: the purge removes exactly the rows every query
    * path was already filtering.
    *
    * The rewritten tables are new files; one commit swaps them in and
    * retires the old ones, so there is no moment without a `postings`
    * table, and a crash before the commit leaves the warehouse as it was.
    */
  def compact(): Seq[StageMetric] = {
    val snap = io.snapshot()
    FormatGuard.check(snap, "IndexBuilder.compact")
    require(snap.has(Tables.DocDict), "compact: warehouse has no index")
    val metrics = scala.collection.mutable.ArrayBuffer.empty[StageMetric]
    val written = scala.collection.mutable.LinkedHashMap.empty[String, Written]
    def timed(table: String)(write: => Written): Written = {
      val t0 = System.nanoTime()
      val w = write
      metrics += StageMetric(s"compact:$table", w.rows, millisSince(t0), skipped = false)
      written(table) = w
      w
    }
    val hasDeletes = snap.has(Tables.Deletes)
    def purged(df: DataFrame): DataFrame =
      if (!hasDeletes) df
      else df.join(broadcast(io.read(Tables.Deletes, snap).select(col("docId"))),
        Seq("docId"), "left_anti")
    val postings = timed(Tables.Postings) {
      io.write(purged(io.read(Tables.Postings, snap))
        .select("term", "docId", "tf", "doc_len", "positions_vb")
        .repartitionByRange(nShuffle, col("term"), col("docId"))
        .sortWithinPartitions("term", "docId"), Tables.Postings)
    }
    timed(Tables.Blocks) {
      io.write(blockify(io.readFiles(Tables.Postings, postings.files)
        .select("term", "docId", "tf", "doc_len")
        .as[(String, Long, Int, Int)]).toDF(), Tables.Blocks)
    }
    if (hasDeletes) timed(Tables.DocDict) {
      io.write(purged(io.read(Tables.DocDict, snap))
        .repartitionByRange(nShuffle, col("docId"))
        .sortWithinPartitions("docId"), Tables.DocDict)
    }
    // stats were made exact at delete time — nothing to recompute; the
    // tombstones are fully folded in, so retire them
    io.commitWrite(snap)(Change("compact", snap.state.copy(tombstones = 0L), written.toMap,
      replaced(snap, written.keys.toSeq ++ Seq(Tables.Deletes, Tables.DeletedTermDf)),
      metrics.map(m => LineageRow(m.stage, -1, "done", m.rows, m.wallMs)).toSeq))
    metrics.toSeq
  }

  /** Delete documents from the index — the maintenance op between builds
    * (the reference can only truncate whole collections,
    * /root/reference/source/DataBase.cpp; per-document retraction is what
    * a GDPR/takedown/quality-recall pipeline actually needs).
    *
    * Tombstone design (the Lucene-style two-phase delete, adapted so BM25
    * stays EXACT rather than drifting until merge):
    *  - `deleted_docs` gets the ids; every query path anti-joins/skips
    *    them (postings, dictionary, dense fill, WAND decode);
    *  - `deleted_df` gets per-term df deltas — ONE column-pruned pass over
    *    postings with the id set inlined (linear in index size, the price
    *    of keeping the WAND path's block-metadata df exact; batch deletes
    *    to amortize it — every other path derives df from the
    *    already-filtered rows for free);
    *  - the stats are recomputed from the log's exact live count and
    *    doc_len sum, minus the deleted docs' — bit-identical to the batch
    *    build's `avg(doc_len)` over the surviving dictionary, so post-delete
    *    scores equal a from-scratch build on the surviving corpus (integer
    *    doc_len sums < 2^53 are exact in IEEE double);
    *  - `compact()` later purges the tombstoned rows physically and
    *    retires both tables.
    *
    * One job finds the ids' dictionary rows (and which are already
    * tombstoned); the batch's ids are held on the driver, as the engine
    * holds every tombstone (`GraftParams.maxDeletedIdsInMemory`).
    * Idempotent per `batchId` through the log's ledger: the tables, stats
    * and ledger row land in one commit, so a crashed batch left nothing
    * visible and its replay simply redoes it, and a committed batch's
    * replay does nothing (`ids` is not even evaluated). Ids not in the index (or
    * already tombstoned) are ignored, so retrying with a superset id list
    * is safe.
    */
  def deleteDocs(ids: => Seq[Long], batchId: Long): Seq[StageMetric] = {
    val snap = io.snapshot()
    FormatGuard.check(snap, "IndexBuilder.deleteDocs")
    require(snap.has(Tables.DocDict), "deleteDocs: warehouse has no index")
    io.commitWrite(snap, Some(Tables.DeleteLedgerStage -> batchId)) {
      val wanted = ids.distinct
      val inDict = io.read(Tables.DocDict, snap).filter(col("docId").isin(wanted: _*))
        .select(col("docId"), col("doc_len"), lit(false).as("tombstoned"))
      val found = (if (!snap.has(Tables.Deletes)) inDict
        else inDict.union(io.read(Tables.Deletes, snap).filter(col("docId").isin(wanted: _*))
          .select(col("docId"), lit(0).as("doc_len"), lit(true).as("tombstoned"))))
        .as[(Long, Int, Boolean)].collect()
      val already = found.collect { case (d, _, true) => d }.toSet
      val fresh = found.filter { case (d, _, t) => !t && !already(d) }.sortBy(_._1)
      val nNew = fresh.length.toLong
      val written =
        if (nNew == 0) Map.empty[String, Written]
        else {
          val newIds = fresh.map(_._1).toSeq
          val delta = io.read(Tables.Postings, snap).select(col("term"), col("docId"))
            .filter(col("docId").isin(newIds: _*))
            .groupBy(col("term")).agg(count(lit(1)).as("delta"))
            .repartitionByRange(1, col("term"))
          Map(
            Tables.DeletedTermDf -> io.write(delta, Tables.DeletedTermDf, sortCols = Seq("term")),
            Tables.Deletes -> io.write(newIds.toDF("docId").coalesce(1), Tables.Deletes,
              sortCols = Seq("docId")))
        }
      val st = snap.state
      val docs = st.docs - nNew
      val docLenSum = st.docLenSum - fresh.map(_._2.toLong).sum
      val state =
        if (nNew == 0) st
        else st.copy(docs = docs, docLenSum = docLenSum,
          avgDocLen = if (docs == 0) 0.0 else docLenSum.toDouble / docs,
          tombstones = st.tombstones + nNew)
      Change("delete", state, written, rows = nNew)
    }.map(ledgerMetric).toSeq
  }

  /** Distributed id lists: collected (distinct) to the driver first, and
    * only when the batch is not yet committed. */
  def deleteDocs(ids: Dataset[Long], batchId: Long): Seq[StageMetric] =
    deleteDocs(ids.distinct().collect().toSeq, batchId)

  /** One past the last committed delete batch (0 on a never-deleted
    * warehouse) — the default idempotency key for callers that don't
    * number their own batches (CLI, HTTP route). Single-writer like the
    * op itself: two concurrent unkeyed deleters could mint the same id. */
  def nextDeleteBatchId(): Long = io.snapshot().nextBatchId(Tables.DeleteLedgerStage)

  /** One past the last committed incremental batch. */
  def nextIngestBatchId(): Long = io.snapshot().nextBatchId(Tables.IngestLedgerStage)

  /** Empty the warehouse: one reset commit with no tables. Every table,
    * tombstone, the docId watermark and the ledger go together, so the
    * next build starts a new corpus life at docId 0. */
  def clear(): Unit =
    io.commitWrite(io.snapshot())(Change("clear", Snapshot.empty(Tables.FormatVersion).state, reset = true))

  /** Incremental indexing — the scalable re-expression of the reference's
    * `processed`-flag batches (/root/reference/source/InvertedIndex.cpp:29-51):
    * new turns get docIds continuing after the docId watermark (insertion
    * order, exactly like the reference's ObjectId-ordered batches), their
    * postings/blocks/dict rows are APPENDED as new parquet segments (the
    * term-pruned reads see all segments; new docIds are disjoint so no
    * merge is needed), and the stats singleton is advanced with the
    * reference's weighted incremental mean (InvertedIndex.cpp:317-334).
    *
    * Idempotent per `batchId` via the log's ledger — the standard
    * exactly-once foreachBatch sink contract, and this pipeline's
    * equivalent of marking documents processed. The three segments, the
    * stats and the ledger row land in ONE commit: a crash before it leaves
    * only unreferenced files (vacuumed by the next commit), and the replay
    * redoes the batch exactly. A warehouse without a complete index (no
    * committed blocks) is bootstrapped by a full build of the batch.
    *
    * term_stats is a batch-build analytics artifact; the query paths derive
    * df from postings/blocks directly, so it is not maintained here.
    */
  def buildIncremental(newTurns: Dataset[Turn], batchId: Long): Seq[StageMetric] = {
    val snap = io.snapshot()
    FormatGuard.check(snap, "IndexBuilder.buildIncremental")
    if (!snap.has(Tables.Blocks))
      return buildStages(newTurns, resume = false, assumeSorted = false, ingestBatch = Some(batchId))

    io.commitWrite(snap, Some(Tables.IngestLedgerStage -> batchId)) {
      val nextId = snap.state.nextDocId
      val raw = withDocIds(newTurns, assumeSorted = false)
        .mapPartitions(_.flatMap { case (rank, turn) => rawRows(nextId + rank, turn) })
        .toDF().cache()
      val sortedDelta = raw.filter(col("term") =!= "")
        .select("term", "docId", "tf", "doc_len", "positions_vb")
        .repartitionByRange(nShuffle, col("term"), col("docId"))
        .sortWithinPartitions("term", "docId")
        .cache()
      try {
        val dict = io.write(raw.filter(col("term") === "")
          .select(col("docId"), col("conv_id"), col("turn_idx"), col("doc_len")),
          Tables.DocDict, observe = Seq(sum(col("doc_len")).as("doc_len_sum")))
        val postings = io.write(sortedDelta, Tables.Postings)
        val blocks = io.write(blockify(sortedDelta
          .select("term", "docId", "tf", "doc_len")
          .as[(String, Long, Int, Int)]).toDF(), Tables.Blocks)

        // weighted incremental mean — the reference's updateMetadataDocument
        val (n1, m1) = (snap.state.docs, snap.state.avgDocLen)
        val n2 = dict.rows
        val sum2 = Option(dict.observed("doc_len_sum")).fold(0L)(_.asInstanceOf[Long])
        val m2 = if (n2 == 0) 0.0 else sum2.toDouble / n2
        val (n, m) =
          if (n1 + n2 == 0) (0L, 0.0)
          else (n1 + n2, (n1 * m1 + n2 * m2) / (n1 + n2))
        Change("ingest",
          snap.state.copy(docs = n, docLenSum = snap.state.docLenSum + sum2, avgDocLen = m,
            nextDocId = nextId + n2),
          Map(Tables.DocDict -> dict, Tables.Postings -> postings, Tables.Blocks -> blocks),
          // the tokenizer's rows: sentinels + postings
          rows = dict.rows + postings.rows)
      } finally { raw.unpersist(); sortedDelta.unpersist(); () }
    }.map(ledgerMetric).toSeq
  }
}

object IndexBuilder {
  /** The tokenizer's rows for one turn: a sentinel carrying the dictionary
    * columns, then one posting per term. */
  private def rawRows(docId: Long, turn: Turn): Iterator[RawIndexRow] = {
    val (docLen, terms) = TextPipeline.analyze(turn.text)
    Iterator.single(RawIndexRow("", docId, 0, docLen, Array.empty[Byte], turn.conv_id, turn.turn_idx)) ++
      terms.iterator.map { case (term, poss) =>
        RawIndexRow(term, docId, poss.length, docLen, VarByte.encodePositions(poss), null, -1)
      }
  }
}

/** Structured Streaming ingest: stream of turns → incremental index.
  * foreachBatch + the log's idempotent batchId ledger gives exactly-once index
  * updates under restarts (with the checkpointLocation).
  */
object StreamingIngest {
  import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

  def start(
      turnsStream: Dataset[Turn],
      builder: IndexBuilder,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(1000)): StreamingQuery =
    turnsStream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        builder.buildIncremental(batch, batchId); ()
      }
      .start()
}
