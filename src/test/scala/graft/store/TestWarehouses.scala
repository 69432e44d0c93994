package graft.store

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.build.Tables

/** A `TableIO` that throws `CrashingIO.Crash` instead of running its
  * `failAt`-th file operation (0-based; a data write, a log commit or a
  * vacuum) — the crash a killed writer leaves behind. `ops` counts the
  * operations run so far, so `failAt = Int.MaxValue` measures a run. */
final class CrashingIO(inner: TableIO, failAt: Int) extends TableIO {
  var ops = 0
  private def op[T](body: => T): T = {
    if (ops == failAt) throw new CrashingIO.Crash(ops)
    ops += 1
    body
  }
  override def snapshot(): Snapshot = inner.snapshot()
  override def read(name: String, snap: Snapshot): DataFrame = inner.read(name, snap)
  override def readFiles(table: String, files: Seq[FileEntry]): DataFrame = inner.readFiles(table, files)
  override def write(df: DataFrame, table: String, sortCols: Seq[String],
      observe: Seq[Column]): Written = op(inner.write(df, table, sortCols, observe))
  override def commit(base: Snapshot, c: Commit): Snapshot = op(inner.commit(base, c))
  override def vacuum(snap: Snapshot): Unit = op(inner.vacuum(snap))
}

object CrashingIO {
  final class Crash(val at: Int) extends RuntimeException(s"injected crash before file operation $at")
}

object TestWarehouses {
  def copyTree(src: Path, dst: Path): Unit = {
    val st = Files.walk(src)
    try st.forEach { p =>
      val to = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to) else Files.copy(p, to)
    } finally st.close()
  }

  /** The format-6 layout of `io`'s latest version, written at `dst`: each
    * table's live files flat in its `_SUCCESS`-gated directory, the
    * `stats` and `lineage` parquet tables, the docId watermark marker, and
    * a `format` marker holding `marker` (a plain MARKER file, or with
    * `parquetMarker` the pre-round-4 one-row parquet table; None for an
    * unversioned warehouse). */
  def asFormat6(spark: SparkSession, wh: String, dst: String, marker: Option[String],
      parquetMarker: Boolean = false): Unit = {
    import spark.implicits._
    val io = new ParquetTableIO(spark, wh)
    val snap = io.snapshot()
    val root = Paths.get(dst)
    snap.files.foreach { case (t, fs) =>
      val d = Files.createDirectories(root.resolve(t))
      fs.zipWithIndex.foreach { case (f, i) =>
        Files.copy(Paths.get(wh).resolve(f.path), d.resolve(f"part-$i%05d-v6.snappy.parquet"))
      }
      Files.createFile(d.resolve("_SUCCESS"))
    }
    io.read(Tables.Stats, snap).coalesce(1).write.parquet(root.resolve(Tables.Stats).toString)
    io.read(Tables.Lineage, snap).coalesce(1).write.parquet(root.resolve(Tables.Lineage).toString)
    Files.createDirectories(root.resolve("next_doc_id"))
    Files.writeString(root.resolve("next_doc_id/MARKER"), snap.state.nextDocId.toString)
    marker.foreach { m =>
      if (parquetMarker) Seq(m.toInt).toDF("format_version").coalesce(1).write
        .parquet(root.resolve("format").toString)
      else {
        Files.createDirectories(root.resolve("format"))
        Files.writeString(root.resolve("format/MARKER"), m)
      }
    }
  }
}
