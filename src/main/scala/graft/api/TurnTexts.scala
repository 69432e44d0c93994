package graft.api

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import graft.ops.StampedCache

/** `search`'s hit texts read on the driver from the parquet files behind a
  * turns frame, with no Spark job — the document store's fetch by id.
  *
  * It applies when the frame is a bare parquet scan (its analyzed plan one
  * parquet file relation, no partition columns) whose every file holds
  * `conv_id`, `turn_idx` and `text` with the types of `graft.model.Turn`.
  * The files' footers are read once per file listing (each file's path,
  * length and mtime) and keep every row group's `conv_id` [min, max] and
  * row count; a request then
  * reads the three columns of only the row groups whose range holds a
  * wanted `conv_id` (data skipping by per-file min/max, after Delta Lake's),
  * decoding `text` at the wanted rows alone. When those row groups hold
  * more than `MaxRows` rows (an input not clustered by `conv_id`) it
  * declines, and `search` runs its Spark filter instead. */
private[graft] object TurnTexts {

  /** The most rows the covering row groups may hold for a read on the
    * driver. Measured on 4 cpus over `TranscriptGen` inputs of 4 files of
    * one row group each, 100 random keys (BASELINE.md): the driver read
    * costs ~1.6 µs per covered row (the key columns decoded, every text
    * page decompressed), 15–30 ms at 6.7k rows, 90–130 ms at 67k and
    * 320–350 ms at 202k; the Spark filter's job 135–230 ms at each size.
    * The two meet near 100k rows; this keeps a margin below, bounds the
    * column chunks one request holds, and covers the benchmark's `/search`,
    * whose 100 hits cover its whole 6.7k-turn input. */
  val MaxRows = 65536L

  /** One parquet file's footer and, per row group, its row count and its
    * `conv_id` range (`min` null when the statistics do not bound it). */
  private final class Footer(val meta: ParquetMetadata, val groups: IndexedSeq[Group])
  private final class Group(val index: Int, val rows: Long, val min: Array[Byte], val max: Array[Byte]) {
    def holds(key: Array[Byte]): Boolean =
      min == null || (java.util.Arrays.compareUnsigned(min, key) <= 0 &&
        java.util.Arrays.compareUnsigned(key, max) <= 0)
  }

  private val Columns = Seq("conv_id" -> StringType, "turn_idx" -> IntegerType, "text" -> StringType)
  /** Per input (its root paths), the footers of its current listing; None
    * when a file lacks one of the three columns. A new listing replaces
    * the input's entry. */
  private val footers = new StampedCache[String, Option[Seq[(FileStatus, Footer)]]]

  /** The row groups of `turns`'s files whose `conv_id` range holds one of
    * `convIds`, per file; None when `turns` is not a bare parquet scan of
    * files holding the three columns. Loads the listing's footers on its
    * first use. */
  private def covering(turns: DataFrame, convIds: Set[String]): Option[Seq[(FileStatus, Footer, Seq[Group])]] =
    listing(turns).flatMap { case (root, statuses) =>
      val conf = turns.sparkSession.sparkContext.hadoopConfiguration
      val stamp = statuses.map(s => s"${s.getPath}:${s.getLen}:${s.getModificationTime}").sorted.mkString(",")
      footers(root, stamp) {
        val loaded = statuses.map(s => footer(s, conf).map(s -> _))
        if (loaded.contains(None)) None else Some(loaded.flatten)
      }.map { files =>
        val keys = convIds.toSeq.map(Binary.fromString(_).getBytes)
        files.map { case (s, f) => (s, f, f.groups.filter(g => keys.exists(g.holds))) }.filter(_._3.nonEmpty)
      }
    }

  /** (row groups, rows) that `search` would read for hits in `convIds`;
    * None when `turns` is not a readable bare parquet scan. */
  private[graft] def coverage(turns: DataFrame, convIds: Set[String]): Option[(Int, Long)] =
    covering(turns, convIds).map(c => (c.map(_._3.size).sum, c.flatMap(_._3).map(_.rows).sum))

  /** The text of every `keys` turn that `turns` holds (a turn it lacks is
    * absent from the map; a null text maps to null, as the Spark filter
    * collects it), read on the driver; None when the frame does not
    * qualify or the covering row groups hold more than `MaxRows` rows. */
  def read(turns: DataFrame, keys: Seq[(String, Int)]): Option[Map[(String, Int), String]] = {
    val wanted = new java.util.HashMap[Binary, Set[Int]]()
    keys.groupMap(_._1)(_._2).foreach { case (c, ts) => wanted.put(Binary.fromString(c), ts.toSet) }
    covering(turns, keys.map(_._1).toSet)
      .filter(_.flatMap(_._3).map(_.rows).sum <= MaxRows)
      .map { cover =>
        val conf = turns.sparkSession.sparkContext.hadoopConfiguration
        val out = Map.newBuilder[(String, Int), String]
        cover.foreach { case (s, f, groups) => readGroups(s, f, groups, conf, wanted, out) }
        out.result()
      }
  }

  /** The root paths and the files of a bare parquet scan with `Turn`'s
    * column types. */
  private def listing(turns: DataFrame): Option[(String, Seq[FileStatus])] = turns.queryExecution.analyzed match {
    case l: LogicalRelation =>
      val types: Map[String, DataType] = l.output.map(a => a.name -> a.dataType).toMap
      l.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
            h.partitionSchema.isEmpty && Columns.forall { case (c, t) => types.get(c).contains(t) } =>
          Some((h.location.rootPaths.mkString(","), h.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)))
        case _ => None
      }
    case _ => None
  }

  /** A file's footer; None unless it holds the three columns as top-level,
    * non-repeated BINARY (plain or string), INT32 (plain or signed 32-bit)
    * and BINARY. */
  private def footer(status: FileStatus, conf: Configuration): Option[Footer] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(status, conf))
    val meta = try reader.getFooter finally reader.close()
    val schema = meta.getFileMetaData.getSchema
    def column(name: String, physical: PrimitiveType.PrimitiveTypeName, logical: LogicalTypeAnnotation => Boolean) =
      schema.containsField(name) && {
        val t = schema.getType(schema.getFieldIndex(name))
        t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) &&
          t.asPrimitiveType.getPrimitiveTypeName == physical &&
          Option(t.getLogicalTypeAnnotation).forall(logical)
      }
    val string = (l: LogicalTypeAnnotation) => l == LogicalTypeAnnotation.stringType()
    val readable = column("conv_id", PrimitiveType.PrimitiveTypeName.BINARY, string) &&
      column("turn_idx", PrimitiveType.PrimitiveTypeName.INT32, _ == LogicalTypeAnnotation.intType(32, true)) &&
      column("text", PrimitiveType.PrimitiveTypeName.BINARY, string)
    Option.when(readable)(new Footer(meta, meta.getBlocks.asScala.toIndexedSeq.zipWithIndex.map { case (b, i) =>
      val stats = b.getColumns.asScala.find(_.getPath.toDotString == "conv_id").map(_.getStatistics)
      stats.filter(st => st != null && !st.isEmpty && st.hasNonNullValue) match {
        case Some(st) => new Group(i, b.getRowCount, st.getMinBytes, st.getMaxBytes)
        case None => new Group(i, b.getRowCount, null, null)
      }
    }))
  }

  /** Reads the three columns of `groups`; per row, the keys first, then
    * the text decoded only when (conv_id, turn_idx) is wanted. */
  private def readGroups(
      status: FileStatus,
      f: Footer,
      groups: Seq[Group],
      conf: Configuration,
      wanted: java.util.HashMap[Binary, Set[Int]],
      out: scala.collection.mutable.Builder[((String, Int), String), Map[(String, Int), String]]): Unit = {
    val file = HadoopInputFile.fromStatus(status, conf)
    val reader = ParquetFileReader.open(file, f.meta, HadoopReadOptions.builder(conf).build(), file.newStream())
    try {
      val schema = f.meta.getFileMetaData.getSchema
      val projection = new MessageType(schema.getName, Columns.map(c => schema.getType(schema.getFieldIndex(c._1))): _*)
      reader.setRequestedSchema(projection)
      groups.foreach { g =>
        val pages = reader.readRowGroup(g.index)
        val store = new ColumnReadStoreImpl(pages, NoConverter, projection, f.meta.getFileMetaData.getCreatedBy)
        def col(name: String) = store.getColumnReader(projection.getColumnDescription(Array(name)))
        val (conv, turn, text) = (col("conv_id"), col("turn_idx"), col("text"))
        def present(r: ColumnReader) = r.getCurrentDefinitionLevel == r.getDescriptor.getMaxDefinitionLevel
        var row = 0L
        while (row < pages.getRowCount) {
          // every present key value is read (an unread value must be
          // skipped before `consume`), the text only at a wanted row
          val ts = if (present(conv)) wanted.get(conv.getBinary) else null
          val t = if (present(turn)) Some(turn.getInteger) else None
          if (ts != null && t.exists(ts.contains))
            out += (conv.getBinary.toStringUsingUTF8, t.get) ->
              (if (present(text)) text.getBinary.toStringUsingUTF8 else null)
          else if (present(text)) text.skip()
          conv.consume(); turn.consume(); text.consume()
          row += 1
        }
      }
    } finally reader.close()
  }

  /** The column readers' converter: never called, since values are read
    * through the readers' getters. */
  private object NoConverter extends GroupConverter {
    private val value = new PrimitiveConverter {}
    override def getConverter(i: Int): Converter = value
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
