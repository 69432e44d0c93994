package graft.ops

import org.apache.spark.sql.SparkSession

/** Values loaded from on-disk state, one `(stamp, value)` entry per key:
  * a load under a new stamp replaces the key's entry (a rewritten
  * directory never strands its old value), and a load that throws stores
  * nothing, so the next call retries it instead of serving a pinned
  * failure. Loads of one key are serialized; loads of other keys in the
  * same hash bin wait for them too, so keep them short (a metadata read). */
final class StampedCache[K, V] {
  private val entries = new java.util.concurrent.ConcurrentHashMap[K, (String, V)]()

  def apply(key: K, stamp: String)(load: => V): V =
    entries.compute(key, (_, old) =>
      if (old != null && old._1 == stamp) old else (stamp, load))._2

  def size: Int = entries.size
}

object StampedCache {
  /** A directory's file listing (names + sizes + mtimes, one filesystem
    * call): any rewrite, tamper or rebuild changes it. */
  def dirStamp(spark: SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.listStatus(p)
      .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.mkString(",")
    catch { case _: java.io.FileNotFoundException => "missing" }
  }
}
