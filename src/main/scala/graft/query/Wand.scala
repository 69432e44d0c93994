package graft.query

import graft.GraftParams
import graft.codec.VarByte
import graft.model.{IndexBlock, IndexStats}

/** Block-max pruned top-k scoring (the WAND family, Broder et al. 2003 /
  * Ding & Suel 2011 block-max variant) over the compressed block index.
  *
  * Each block row carries (max_tf, min_dl): since the BM25 tf-part is
  * monotone increasing in tf and decreasing in doc_len for any k1/b, the
  * block upper bound UB = idf · tfPart(max_tf, min_dl) dominates every
  * member score. A partition processes its blocks in UB-descending order
  * keeping a k-heap, and stops decoding as soon as UB < the current k-th
  * score — sound per-partition (a skipped block cannot contribute to that
  * partition's top-k superset), and the per-partition candidates merge
  * into the exact global top-k.
  *
  * Results are rank- AND score-identical to the exhaustive path: the
  * per-term max used for normalization is the top-1 score itself.
  */
object Wand {

  /** Per-partition top-k over one term's blocks. Returns ≤ k candidates.
    *
    * `deleted` skips tombstoned docs DURING decode (post-filtering the
    * candidates would be unsound: a deleted doc inside the per-partition
    * top-k would mask a live doc that never entered it). It must be exact
    * — a Bloom filter's false positive would drop a live doc. Pruning
    * stays exact under deletions: a block's UB still dominates every
    * SURVIVING member score (removing rows can't raise the max). */
  def topKForPartition(
      blocks: Iterator[IndexBlock],
      idf: Double,
      k: Int,
      params: GraftParams,
      stats: IndexStats,
      deleted: Long => Boolean = _ => false): Iterator[(Long, Double)] = {
    val k1 = params.k1; val b = params.b; val avgdl = stats.avg_doc_len
    def tfPart(tf: Double, dl: Double): Double = Bm25.tfPart(tf, dl, k1, b, avgdl)
    // PriorityQueue dequeues its max; rank so the WORST candidate (lowest
    // score, then highest docId) is the max and sits at `head`.
    val worstAtHead: Ordering[(Long, Double)] =
      Ordering.by[(Long, Double), (Double, Long)] { case (d, s) => (-s, d) }
    val heap = scala.collection.mutable.PriorityQueue.empty[(Long, Double)](worstAtHead)
    val sorted = blocks.toArray.sortBy(blk => -idf * tfPart(blk.max_tf.toDouble, blk.min_dl.toDouble))
    var i = 0
    var pruned = false
    while (i < sorted.length && !pruned) {
      val blk = sorted(i)
      val ub = idf * tfPart(blk.max_tf.toDouble, blk.min_dl.toDouble)
      if (heap.size >= k && ub < heap.head._2) {
        pruned = true // UB-sorted: every later block is also dominated
      } else {
        // scores-only decode: the trailing positions section is skipped
        VarByte.decodeBlockScores(blk.block).foreach { p =>
          if (!deleted(p.docId)) {
            val score = idf * tfPart(p.tf.toDouble, p.docLen.toDouble)
            if (heap.size < k) heap.enqueue((p.docId, score))
            else {
              val worst = heap.head
              if (score > worst._2 || (score == worst._2 && p.docId < worst._1)) {
                heap.dequeue(); heap.enqueue((p.docId, score))
              }
            }
          }
        }
      }
      i += 1
    }
    heap.iterator
  }

  /** Merge per-partition candidates into the exact global top-k
    * ((score desc, docId asc) order). */
  def mergeTopK(candidates: Seq[(Long, Double)], k: Int): Vector[(Long, Double)] =
    candidates.sortBy { case (d, s) => (-s, d) }.take(k).toVector

  /** Multi-term variant, the partition kernel of every WAND scan (one
    * term or a bulk batch): one partition may hold blocks
    * of MANY queried terms — run the same pruned kernel per term and tag
    * candidates with it. Per-term results are identical to running
    * topKForPartition on that term's blocks alone. */
  def topKForPartitionMulti(
      blocks: Iterator[IndexBlock],
      idfByTerm: collection.Map[String, Double],
      k: Int,
      params: GraftParams,
      stats: IndexStats,
      deleted: Long => Boolean = _ => false): Iterator[(String, Long, Double)] =
    blocks.toArray.groupBy(_.term).iterator.flatMap { case (term, bs) =>
      topKForPartition(bs.iterator, idfByTerm(term), k, params, stats, deleted)
        .map { case (d, s) => (term, d, s) }
    }
}
