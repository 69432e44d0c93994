package graft.query

import scala.collection.mutable
import org.apache.spark.sql.Dataset

/** The per-query bounded-heap top-k kernel shared by the ANN probes
  * (`graft.ops.Similarity`) and the bulk phrase path of the search engine
  * (`SparkSearchEngine.searchMany`). */
private[graft] object TopK {

  /** A candidate scan for a batch of queries: the pruned rows
    * (id, route key, payload) and, per route key, the indices of the
    * queries that rank it. */
  final case class Scan[P](rows: Dataset[(Long, Long, P)], route: Long => Array[Int])

  /** Score descending, then id ascending: the rank order of every top-k. */
  val ScoreDesc: Ordering[(Double, Long)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)

  /** Per query of `m`, its best `k` rows in `ord` among the rows `scan`
    * routes to it. Each partition keeps one bounded heap per query and the
    * driver merges the ≤ partitions·k survivors of each query: the top k of
    * per-partition top ks is the global top k under the total (score, id)
    * order, so every partitioning returns the same rows. One Spark job.
    * `score(payload)` prepares a row once, then scores it per query index.
    * A caller that must drop an id from a query's result (the ANN probes'
    * own vector) asks for k + 1 and drops it.
    *
    * @return per query index, its ≤ k (id, score) in `ord` */
  def topKPerQuery[P](scan: Scan[P], m: Int, k: Int,
      ord: Ordering[(Double, Long)])(score: P => Int => Double): Array[Seq[(Long, Double)]] = {
    import scan.rows.sparkSession.implicits._
    val route = scan.route
    val kept = scan.rows.mapPartitions { it =>
      // natural max-heaps: the head is the query's worst kept row
      val heaps = Array.fill(m)(mutable.PriorityQueue.empty[(Double, Long)](ord))
      it.foreach { case (id, key, p) =>
        val qs = route(key)
        if (qs.nonEmpty) {
          val s = score(p)
          qs.foreach { qi =>
            val h = heaps(qi)
            val r = (s(qi), id)
            if (h.size < k) h.enqueue(r)
            else if (h.nonEmpty && ord.lt(r, h.head)) { h.dequeue(); h.enqueue(r) }
          }
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, qi) => h.iterator.map { case (s, id) => (qi, id, s) } }
    }.collect().groupBy(_._1)
    Array.tabulate(m) { qi =>
      kept.getOrElse(qi, Array.empty).map(r => (r._3, r._2)).sorted(ord).take(k).map(_.swap).toSeq
    }
  }
}
