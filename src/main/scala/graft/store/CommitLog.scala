package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.model.LineageRow

/** One data file of a table: its path relative to the warehouse root (so
  * a copied warehouse stays valid) and its size in bytes. */
final case class FileEntry(path: String, bytes: Long)

/** The warehouse's scalar metadata after a commit — the reference's
  * metadata document (InvertedIndex.cpp:317-334), plus what the log needs
  * to keep every later write free of Spark jobs:
  *  - `docs`/`docLenSum`: the exact live doc count and doc_len sum, so a
  *    delete recomputes the surviving-dictionary mean as
  *    `docLenSum / docs` — bit-identical to Spark's `avg(doc_len)` over
  *    those docs (integer sums < 2^53 are exact in IEEE double);
  *  - `avgDocLen`: the stats value as committed. An ingest advances it by
  *    the reference's weighted incremental mean, whose IEEE value differs
  *    from `docLenSum / docs`, so it is carried, not derived;
  *  - `nextDocId`: one past the highest docId ever assigned (the docId
  *    watermark) — compaction purges tombstoned ids, which must never be
  *    reused;
  *  - `tombstones`: rows of the `deleted_docs` table;
  *  - `params`: an ops index's build parameters (`graft.ops.IndexStore`),
  *    empty for a warehouse. A commit without the field reads as empty, so
  *    every earlier commit opens unchanged. */
final case class State(
    format: Int,
    docs: Long,
    docLenSum: Long,
    avgDocLen: Double,
    nextDocId: Long,
    tombstones: Long,
    // the element type, which erasure hides from the JSON reader
    @JsonDeserialize(contentAs = classOf[java.lang.Long]) params: Map[String, Long] = Map.empty)

/** One numbered entry of the log: what a write did (`action`), the files
  * it added and removed per table, the resulting `state`, and its lineage
  * rows — among them a ledgered write's key (`TableIO.commitWrite`). A
  * `reset` commit first removes every file and every lineage row before it
  * (a fresh build, a clear, a migration). Logs written before the key was
  * a `Long` also carry a `batchId` field, which is ignored. */
final case class Commit(
    version: Long,
    action: String,
    reset: Boolean,
    add: Map[String, Seq[FileEntry]],
    remove: Map[String, Seq[String]],
    state: State,
    lineage: Seq[LineageRow],
    timestampMs: Long)

/** The warehouse at one log version: the live files of every table, the
  * scalar state, the lineage since the last reset, the files this
  * version's own commit retired (still readable by the version before)
  * and when it was committed. `refusal` is set when the directory holds
  * tables this engine must not read (an older format without a
  * migration, or no format at all). */
final case class Snapshot(
    version: Long,
    state: State,
    files: Map[String, Vector[FileEntry]],
    lineage: Vector[LineageRow],
    retired: Set[String] = Set.empty,
    committedAtMs: Long = 0L,
    refusal: Option[String] = None) {

  def has(table: String): Boolean = files.contains(table)

  /** Whether `stage` committed batch `batchId` (the idempotency ledger;
    * asked only by `TableIO.commitWrite`). */
  def committed(stage: String, batchId: Long): Boolean =
    lineage.exists(r => r.stage == stage && r.partition_id == batchId)

  /** One past the highest batch `stage` committed; 0 before the first. */
  def nextBatchId(stage: String): Long =
    lineage.filter(_.stage == stage).map(_.partition_id + 1L).maxOption.getOrElse(0L)

  /** `c` applied on top of this snapshot. */
  def next(c: Commit): Snapshot = {
    val base = if (c.reset) Snapshot.empty(c.state.format) else this
    val removed = c.remove.view.mapValues(_.toSet).toMap
    val tables = base.files.keySet ++ c.add.keySet
    val files = tables.iterator.flatMap { t =>
      val kept = base.files.getOrElse(t, Vector.empty)
        .filterNot(f => removed.get(t).exists(_(f.path)))
      val all = kept ++ c.add.getOrElse(t, Nil)
      // a table exists while it has files or was just written (an empty
      // write still adds its one schema-only file)
      if (all.isEmpty) None else Some(t -> all)
    }.toMap
    val retired =
      if (c.reset) this.files.values.flatten.map(_.path).toSet else removed.values.flatten.toSet
    Snapshot(c.version, c.state, files, base.lineage ++ c.lineage, retired, c.timestampMs)
  }
}

object Snapshot {
  def empty(format: Int): Snapshot =
    Snapshot(-1L, State(format, 0L, 0L, 0.0, 0L, 0L), Map.empty, Vector.empty)
}

/** A numbered, append-only commit log (`_graft_log/NNNNNN.json`) after the
  * Delta Lake transaction log (VLDB 2020): a warehouse's state is the fold
  * of its commits, read on the driver with no Spark job.
  *
  * A commit becomes visible atomically: it is written in full to a temp
  * file, then hard-linked to its numbered name. The link fails if the
  * name exists, so of two writers racing for one version exactly one
  * wins and the other gets a `ConcurrentModificationException` — no lock
  * and no partial commit is ever visible. Hard links need a local
  * filesystem; on an object store the same create-if-absent step needs
  * that store's conditional put (Delta's per-store `LogStore`). */
final class CommitLog(root: Path) {
  val dir: Path = root.resolve(CommitLog.DirName)

  private def versions(): Vector[(Long, Path)] =
    if (!Files.isDirectory(dir)) Vector.empty
    else {
      val st = Files.list(dir)
      try st.iterator().asScala.flatMap { p =>
        val n = p.getFileName.toString
        if (n.endsWith(".json") && n.dropRight(5).forall(_.isDigit)) Some(n.dropRight(5).toLong -> p)
        else None
      }.toVector.sortBy(_._1)
      finally st.close()
    }

  /** Every commit, oldest first. */
  def commits(): Vector[Commit] =
    versions().map { case (_, p) => CommitLog.json.readValue(Files.readString(p, UTF_8), classOf[Commit]) }

  /** The latest snapshot; None when the log has no commit. */
  def latest(): Option[Snapshot] = {
    val cs = commits()
    if (cs.isEmpty) None
    else Some(cs.foldLeft(Snapshot.empty(cs.head.state.format))(_ next _))
  }

  /** Append `c` as version `base.version + 1`; fails when another commit
    * took that version first. */
  def append(base: Snapshot, c: Commit): Snapshot = {
    val v = base.version + 1L
    val commit = c.copy(version = v, timestampMs = System.currentTimeMillis())
    Files.createDirectories(dir)
    val tmp = Files.createTempFile(dir, ".commit-", ".tmp")
    try {
      Files.writeString(tmp, CommitLog.json.writeValueAsString(commit), UTF_8)
      try Files.createLink(dir.resolve(CommitLog.fileName(v)), tmp)
      catch {
        case _: FileAlreadyExistsException => throw new java.util.ConcurrentModificationException(
          s"warehouse $root: version $v was committed by another writer")
      }
    } finally Files.deleteIfExists(tmp)
    base.next(commit)
  }
}

object CommitLog {
  val DirName = "_graft_log"
  def fileName(version: Long): String = f"$version%06d.json"
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
}
