package graft.store

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import graft.build.Tables
import graft.model.LineageRow

/** Files a `TableIO.write` produced — invisible to readers until a commit
  * adds them — and the aggregates observed on the written rows themselves:
  * their count, and each extra (aliased) aggregate the caller asked for,
  * by alias. */
final case class Written(files: Seq[FileEntry], rows: Long, observed: Map[String, Any])

/** One write before the log numbers it: the files it adds and removes per
  * table, the resulting state and its lineage rows (`reset`: first remove
  * every file and lineage row before it, as a fresh build or a clear
  * does). A ledger row records `rows`, and the write body's wall time
  * plus `wallMs`, the time the write spent before its body. */
final case class Change(action: String, state: State, add: Map[String, Written] = Map.empty,
    remove: Map[String, Seq[String]] = Map.empty, lineage: Seq[LineageRow] = Nil,
    reset: Boolean = false, rows: Long = 0L, wallMs: Long = 0L)

/** Table persistence over a commit log.
  *
  * The north rule targets Iceberg tables; the build ships no Iceberg or
  * Delta runtime jar (BASELINE.md), so the default implementation keeps
  * parquet files under a warehouse directory and a `CommitLog` beside
  * them. A write never touches a live file: `write` puts new files in a
  * fresh directory, and only `commit` makes them (and the removal of the
  * files they replace) visible, in one atomic step. Readers resolve one
  * `Snapshot` and read exactly its files, so a reader that races a write
  * sees either the whole old version or the whole new one.
  */
trait TableIO {
  /** The latest committed version: a driver read of the log, no Spark job. */
  def snapshot(): Snapshot
  /** `name` as of `snap`, read from its file list with the table's
    * declared schema (no listing, no schema inference). `stats` and
    * `lineage` are local relations over the log. */
  def read(name: String, snap: Snapshot): DataFrame
  def read(name: String): DataFrame = read(name, snapshot())
  def exists(name: String): Boolean = Tables.present(snapshot(), name)
  /** Write `df` as new files of `table` (optionally sorted within each
    * file), observing the row count and the aliased `observe` aggregates
    * on the written rows — in the write's own job. */
  def write(df: DataFrame, table: String, sortCols: Seq[String] = Nil,
      observe: Seq[Column] = Nil): Written
  /** Files written but not yet committed (a rewrite that reads its own
    * output before the commit). */
  def readFiles(table: String, files: Seq[FileEntry]): DataFrame
  /** Commit on top of `base`; fails if another commit landed since. */
  def commit(base: Snapshot, c: Commit): Snapshot
  /** Delete every data file that is neither live at `snap` nor removed by
    * its own commit: orphans of crashed writes, and files the commit
    * before it removed. A snapshot's files thus stay readable until the
    * second commit after it, so a query that raced a rewrite finishes on
    * the files it resolved. Files newer than `snap`'s commit are kept:
    * they belong to a write that started after it (a writer whose base
    * is older fails at its own commit instead). */
  def vacuum(snap: Snapshot): Unit

  /** The one step that makes a write visible: `write`'s change committed
    * on `base`, then the vacuum. With a ledger `key` (stage, batchId) the
    * write is idempotent, after Delta Lake's `txn` action (VLDB 2020): when
    * `base` already holds the key, `write` does not run and the result is
    * None; otherwise the key's lineage row (the change's `rows`, the
    * write's wall time) rides in that same commit, so a crash leaves both
    * or neither and a replay of a committed key does nothing. */
  final def commitWrite(base: Snapshot, key: Option[(String, Long)] = None)(
      write: => Change): Option[Snapshot] =
    if (key.exists { case (stage, batchId) => base.committed(stage, batchId) }) None
    else {
      val t0 = System.nanoTime()
      val c = write
      val wallMs = c.wallMs + (System.nanoTime() - t0) / 1000000L
      val ledger = key.map { case (stage, batchId) => LineageRow(stage, batchId, "done", c.rows, wallMs) }
      val snap = commit(base, Commit(-1L, c.action, c.reset, c.add.map { case (t, w) => t -> w.files },
        c.remove, c.state, c.lineage ++ ledger, 0L))
      vacuum(snap)
      Some(snap)
    }
}

final class ParquetTableIO(spark: SparkSession, warehouse: String) extends TableIO {
  private val root: Path = {
    val uri = new HPath(warehouse).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"warehouse $warehouse: the commit log needs a local filesystem")
    Paths.get(uri.getPath)
  }
  private val log = new CommitLog(root)
  private def abs(rel: String): String = root.resolve(rel).toString

  override def snapshot(): Snapshot =
    log.latest().getOrElse(LegacyWarehouse.snapshot(spark, this, root))

  override def read(name: String, snap: Snapshot): DataFrame = {
    import spark.implicits._
    snap.refusal.foreach(r => throw new IllegalStateException(r))
    name match {
      case Tables.Stats =>
        require(snap.has(Tables.DocDict), s"warehouse $warehouse has no index (version ${snap.version})")
        Seq((snap.state.docs, snap.state.avgDocLen)).toDF("total_docs", "avg_doc_len")
      case Tables.Lineage => snap.lineage.toDF()
      case t =>
        readFiles(t, snap.files.getOrElse(t, throw new IllegalStateException(
          s"warehouse $warehouse has no table '$t' at version ${snap.version}")))
    }
  }

  override def readFiles(table: String, files: Seq[FileEntry]): DataFrame = {
    val declared = Tables.schema(table)
    val partition = Tables.partitionColumn(table).map(declared(_))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new ListedFileIndex(files.map(f => (abs(f.path), f.bytes)), partition),
      StructType(partition.toSeq), StructType(declared.filterNot(partition.contains)), None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  override def write(df: DataFrame, table: String, sortCols: Seq[String],
      observe: Seq[Column]): Written = {
    val declared = Tables.schema(table)
    require(df.schema.map(f => (f.name, f.dataType)) == declared.map(f => (f.name, f.dataType)),
      s"$table: writing ${df.schema.simpleString}, declared ${declared.simpleString}")
    val dir = s"$table/w-${java.util.UUID.randomUUID()}"
    val sorted = if (sortCols.nonEmpty) df.sortWithinPartitions(sortCols.map(col): _*) else df
    // observed on top of the written plan, so sampling jobs of a range
    // partitioning below it never run the aggregate
    val obs = Observation()
    val writer = sorted.observe(obs, count(lit(1)).as("rows"), observe: _*).write
    Tables.partitionColumn(table).fold(writer)(writer.partitionBy(_)).parquet(abs(dir))
    val observed = obs.get
    val files = walk(root.resolve(dir)).filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => FileEntry(root.relativize(p).toString, Files.size(p))).sortBy(_.path)
    Written(files, observed("rows").asInstanceOf[Long], observed)
  }

  override def commit(base: Snapshot, c: Commit): Snapshot = log.append(base, c)

  override def vacuum(snap: Snapshot): Unit = {
    val keep = snap.files.values.flatten.map(_.path).toSet ++ snap.retired
    (Tables.Data ++ Tables.IndexData).map(root.resolve).filter(Files.isDirectory(_)).foreach { d =>
      val st = Files.list(d)
      val entries = try st.iterator().asScala.toVector finally st.close()
      entries.filter(Files.getLastModifiedTime(_).toMillis < snap.committedAtMs).foreach { p =>
        val rel = root.relativize(p).toString
        val held = keep.filter(_.startsWith(rel + "/"))
        if (held.isEmpty && !keep(rel)) deleteTree(p)
        else if (held.nonEmpty)
          // an ops index delete retires single files of a write directory
          walk(p).filter(f => f.toString.endsWith(".parquet") && !held(root.relativize(f).toString))
            .foreach { f => Files.delete(f); Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc")) }
      }
    }
    // the metadata directories of a format-6 warehouse and of a pre-log
    // ops index: the log replaces them
    (LegacyWarehouse.MetadataDirs ++ LegacyWarehouse.IndexDirs).foreach(d => deleteTree(root.resolve(d)))
  }

  private def walk(p: Path): Vector[Path] = {
    val st = Files.walk(p)
    try st.iterator().asScala.toVector finally st.close()
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p).reverse.foreach(Files.deleteIfExists)
}

/** The file list of one table version, as the log recorded it: Spark
  * plans the scan from these paths and sizes without listing or touching
  * the files (as Delta's `TahoeFileIndex` does). A partitioned table's
  * files sit under `<column>=<value>` directories; the value is read from
  * that path, and a scan's partition filters drop whole partitions here. */
private final class ListedFileIndex(files: Seq[(String, Long)], partition: Option[StructField])
    extends FileIndex {
  private val statuses = files.map { case (p, n) =>
    FileStatusWithMetadata(new FileStatus(n, false, 1, 128L << 20, 0L, new HPath(p)))
  }
  private val partitions: Seq[PartitionDirectory] = partition match {
    case None => Seq(PartitionDirectory(InternalRow.empty, statuses))
    case Some(f) =>
      statuses.groupBy { s =>
        val v = s.getPath.getParent.getName.stripPrefix(s"${f.name}=")
        f.dataType match {
          case IntegerType => v.toInt
          case LongType => v.toLong
          case t => throw new IllegalArgumentException(s"partition column ${f.name}: unsupported type $t")
        }
      }.toSeq.sortBy(_._1.toString).map { case (v, ss) => PartitionDirectory(InternalRow(v), ss) }
  }
  override def rootPaths: Seq[HPath] = statuses.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    (partition, partitionFilters.reduceOption(And)) match {
      case (Some(f), Some(filter)) =>
        val keep = Predicate.createInterpreted(filter.transform {
          case a: AttributeReference if a.name == f.name => BoundReference(0, f.dataType, nullable = true)
        })
        partitions.filter(p => keep.eval(p.values))
      case _ => partitions
    }
  override def inputFiles: Array[String] = files.map(_._1).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = files.map(_._2).sum
  override def partitionSchema: StructType = StructType(partition.toSeq)
}

/** Format-6 warehouses (no log; a `format` marker, `stats` and `lineage`
  * tables, a `next_doc_id` marker, `_SUCCESS`-gated table directories).
  * A version-6 warehouse migrates to the log on first open: one reset
  * commit synthesized from its tables. Anything else without a log but
  * with index tables is refused. */
private object LegacyWarehouse {
  val MetadataDirs = Seq("format", "stats", "lineage", "next_doc_id")
  /** The directories of an ops index from before the log (index version
    * 3 and older): such an index is refused, and its rebuild removes them. */
  val IndexDirs = Seq("version", "meta", "deleted", "stream_ledger", "assignments", "codes", "sigs", "buckets")
  private val MigratableFormat = 6

  private def marker(spark: SparkSession, root: Path, name: String): Option[String] = {
    val m = root.resolve(name).resolve("MARKER")
    if (Files.exists(m)) Some(Files.readString(m))
    else if (Files.exists(root.resolve(name).resolve("_SUCCESS")))
      // before round 4 the marker was a one-row parquet table
      spark.read.parquet(root.resolve(name).toString).take(1).headOption.map(_.get(0).toString)
    else None
  }

  private def committed(root: Path, table: String) =
    Files.exists(root.resolve(table).resolve("_SUCCESS"))

  def snapshot(spark: SparkSession, io: TableIO, root: Path): Snapshot = {
    val empty = Snapshot.empty(Tables.FormatVersion)
    marker(spark, root, "format") match {
      case Some(raw) =>
        // a truncated/corrupt marker (crash mid-write) is refused like a
        // version mismatch, not a NumberFormatException
        val v = scala.util.Try(raw.trim.toInt).getOrElse(-1)
        if (v == MigratableFormat) migrate(spark, io, root)
        else empty.copy(refusal = Some(
          s"warehouse format v$v (unparseable/corrupt = -1) != engine v${Tables.FormatVersion} — " +
            "refusing to read/resume (blocks would misdecode); rebuild with resume=false"))
      case None if (Tables.Data ++ Tables.IndexData ++ IndexDirs).exists(t => Files.isDirectory(root.resolve(t))) =>
        empty.copy(refusal = Some(
          s"unversioned warehouse (no commit log, no format marker) — refusing to read/resume; " +
            "rebuild required"))
      case None => empty
    }
  }

  /** Commit 0 from the v6 tables: their parquet files, the stats singleton
    * as stored, the exact live count and doc_len sum, the watermark and
    * the lineage rows. Runs a few Spark jobs, once per warehouse. */
  private def migrate(spark: SparkSession, io: TableIO, root: Path): Snapshot = {
    import spark.implicits._
    val files = Tables.Data.filter(committed(root, _)).map { t =>
      val st = Files.walk(root.resolve(t))
      val fs = try st.iterator().asScala.filter { p =>
        val rel = root.resolve(t).relativize(p).toString
        rel.endsWith(".parquet") && !rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
      }.map(p => FileEntry(root.relativize(p).toString, Files.size(p))).toVector.sortBy(_.path)
      finally st.close()
      t -> fs
    }.toMap
    val base = Snapshot.empty(Tables.FormatVersion)
    def table(t: String) = io.readFiles(t, files(t))
    val dict = if (files.contains(Tables.DocDict)) Some(table(Tables.DocDict)) else None
    val deletes = if (files.contains(Tables.Deletes)) Some(table(Tables.Deletes)) else None
    val state = dict.fold(base.state) { d =>
      val maxId = d.agg(org.apache.spark.sql.functions.max($"docId")).as[Option[Long]].head()
      val live = deletes.fold(d)(x => d.join(x, Seq("docId"), "left_anti"))
      val (docs, sum) = live.agg(count(lit(1)), org.apache.spark.sql.functions.sum($"doc_len"))
        .as[(Long, Option[Long])].head()
      val stats = if (committed(root, Tables.Stats))
        spark.read.parquet(root.resolve(Tables.Stats).toString).as[(Long, Double)].head()._2
      else if (docs == 0) 0.0 else sum.getOrElse(0L).toDouble / docs
      val watermark = marker(spark, root, "next_doc_id").flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      base.state.copy(docs = docs, docLenSum = sum.getOrElse(0L), avgDocLen = stats,
        nextDocId = math.max(watermark.getOrElse(0L), maxId.getOrElse(-1L) + 1L),
        tombstones = deletes.fold(0L)(_.count()))
    }
    val lineage =
      if (committed(root, Tables.Lineage))
        spark.read.parquet(root.resolve(Tables.Lineage).toString).as[LineageRow].collect().toSeq
      else Nil
    io.commitWrite(base)(Change("migrate", state,
      files.map { case (t, fs) => t -> Written(fs, 0L, Map.empty) }, lineage = lineage, reset = true)).get
  }
}
