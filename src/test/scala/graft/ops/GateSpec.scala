package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingDedup

/** Each size gate of the dedup family (`Dedup.Gates`) at its boundary:
  * set to the probed input's size n the chain takes its driver side, set
  * to n − 1 its distributed side, and both return the same rows. The side
  * a call took is read off the analyzed plan of the frame it returned —
  * every probe runs when the frame is built. */
class GateSpec extends AnyFunSuite {
  import OpsFixture._
  import Dedup.{Gates, gates}

  /** Whether a plan holds a node of the distributed side. */
  private type Side = LogicalPlan => Boolean

  private def sideAndRows(df: DataFrame, distributed: Side): (Boolean, Seq[Any]) =
    (df.queryExecution.analyzed.find(distributed).isDefined, df.collect().toSeq)

  /** `observe` (side taken, rows) with the gate `at` set to n, then n − 1. */
  private def boundary(n: Long, at: Int => Gates)(observe: => (Boolean, Seq[Any])): Unit = {
    val (distributedAtN, atN) = gates.withValue(at(n.toInt))(observe)
    val (distributedBelow, belowN) = gates.withValue(at(n.toInt - 1))(observe)
    assert(!distributedAtN, s"gate = n = $n must take the driver side")
    assert(distributedBelow, s"gate = n - 1 = ${n - 1} must take the distributed side")
    assert(atN == belowN)
    assert(atN.nonEmpty)
  }

  private val grouped: Side = _.isInstanceOf[Aggregate]
  private val joined: Side = _.isInstanceOf[Join]

  test("band-row gate: the LSH pair chain at n and n - 1 keyed rows") {
    import spark.implicits._
    val hashes = docsWithDups.as[(Long, String)]
      .map { case (id, t) => (id, Dedup.simHash64(t)) }.toDF("doc_id", "simhash").cache()
    val n = Dedup.simHashKeyed(spark, hashes, maxBits = 3, blocks = 4).count()
    boundary(n, g => Gates(driverBandRows = g))(
      sideAndRows(Dedup.simHashNearDupBits(spark, hashes, maxBits = 3, blocks = 4), grouped))
    hashes.unpersist()
  }

  test("isin gate: the signature prune at n and n - 1 candidate ids") {
    import spark.implicits._
    val docs = docsWithDups
    val cands = Dedup.minHashLshCandidates(spark, docs)
    val n = cands.select($"doc_a".as("id")).union(cands.select($"doc_b".as("id"))).distinct().count()
    val semiJoined: Side = {
      case j: Join => j.joinType == LeftSemi
      case _ => false
    }
    // the side is read inside the estimate's cache scope (minHashLsh
    // returns a local frame); minHashLsh runs the same prune, same rows
    boundary(n, g => Gates(isinIds = g)) {
      val (side, rows) = Dedup.estimatePairs(spark, cands, Dedup.minHashSigs(spark, docs, 3, 64), 0.5)(
        sideAndRows(_, semiJoined))
      assert(Dedup.minHashLsh(spark, docs, threshold = 0.5).collect().toSeq == rows)
      (side, rows)
    }
  }

  test("prefilter gate: the exact key set at n batch keys, the Bloom filter at n - 1") {
    import spark.implicits._
    val docs = docsWithDups
    val batch = docs.filter($"doc_id" >= 1000)
    val idx = java.nio.file.Files.createTempDirectory("gate_prefilter").toString
    Dedup.buildMinHashIndex(spark, docs.filter($"doc_id" < 1000), idx)
    val n = Dedup.bandRows(spark, Dedup.minHashSigs(spark, batch, 3, 64), 64, 16)
      .select("band", "bucket").distinct().count()
    val bloom: Side = _.expressions.exists(_.find(_.isInstanceOf[XxHash64]).isDefined)
    // the pair chain on its executor side keeps the prefilter in the plan
    boundary(n, g => Gates(driverBandRows = 0, exactPrefilterKeys = g))(
      Dedup.minHashDedupBatchManaged(spark, idx, batch, threshold = 0.5)(sideAndRows(_, bloom)))
  }

  test("brute-force gate: all-pairs jaccard and cosine at n and n - 1 rows") {
    val docs = docsWithDups
    boundary(docs.count(), g => Gates(bruteRows = g))(
      sideAndRows(Dedup.ngramJaccardBrute(spark, docs), joined))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    boundary(emb.count(), g => Gates(bruteRows = g))(
      sideAndRows(Dedup.embeddingNearDupExact(emb, threshold = 0.3), joined))
  }

  test("edge gate: union-find at n symmetric edge rows, the Pregel loop at n - 1") {
    import spark.implicits._
    val docs = docsWithDups
    val pairs = Dedup.simHashNearDup(spark, docs).select("doc_a", "doc_b")
      .as[(Long, Long)].collect().toSeq.toDF("doc_a", "doc_b")
    boundary(2 * pairs.count(), g => Gates(driverEdgeRows = g))(
      Dedup.dedupClustersManaged(spark, pairs, docs)(
        sideAndRows(_, _.isInstanceOf[LogicalRDD])))
  }

  /** A path 0 - 1 - … - 12: one component of diameter 12. */
  private def path = {
    import spark.implicits._
    ((0L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
      (0L to 12L).toDF("doc_id"))
  }

  test("maxIter: a path longer than maxIter clusters exactly below the edge gate, fails above it") {
    import spark.implicits._
    val (pairs, nodes) = path
    val got = Dedup.dedupClustersManaged(spark, pairs, nodes, maxIter = 4)(
      _.as[(Long, Long, Boolean)].collect().toSeq)
    assert(got == (0L to 12L).map(i => (i, 0L, i == 0L)))
    val e = intercept[IllegalArgumentException](gates.withValue(Gates.Zero)(
      Dedup.dedupClustersManaged(spark, pairs, nodes, maxIter = 4)(_.count())))
    assert(e.getMessage.contains("did not converge in 4 iterations"))
  }

  /** Descriptions of the RDDs `call` created that are still persisted
    * once it returns. `getPersistentRDDs` is JVM-global: another
    * suite's in-flight caches drain when its query finishes, a leak never
    * does, so poll before declaring one. */
  private def leftPersisted(call: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val mark = sc.emptyRDD[Int].id
    call
    def mine = sc.getPersistentRDDs.filter(_._1 > mark)
    val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
    while (mine.nonEmpty && System.nanoTime < deadline) Thread.sleep(1000)
    mine.values.map(r => s"[${r.id}] ${r.toString.replace('\n', ' ').take(120)}").toSeq
  }

  test("above every gate, managed calls release every RDD they persisted") {
    import spark.implicits._
    val docs = docsWithDups
    val pairs = Dedup.simHashNearDup(spark, docs)
    val all = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
    val idx = java.nio.file.Files.createTempDirectory("gate_managed").toString
    Dedup.buildMinHashIndex(spark, docs.filter($"doc_id" < 1000), idx)
    val batch = docs.filter($"doc_id" >= 1000)
    val (path0, pathNodes) = path
    val calls = Seq[(String, () => Unit)](
      "dedupClustersManaged" -> (() => Dedup.dedupClustersManaged(spark, pairs, docs)(_.count())),
      "dedupClustersManaged, not converging" -> (() => {
        intercept[IllegalArgumentException](
          Dedup.dedupClustersManaged(spark, path0, pathNodes, maxIter = 4)(_.count()))
        ()
      }),
      "trainingCorpusManaged" -> (() => Pipeline.trainingCorpusManaged(spark, docs)(_.count())),
      "hygieneCorpusManaged" -> (() => Pipeline.hygieneCorpusManaged(spark,
        all.filter($"doc_id" % 50 =!= 7), all.filter($"doc_id" % 50 === 7))(_.count())),
      "minHashDedupBatchManaged" -> (() => Dedup.minHashDedupBatchManaged(spark, idx, batch)(_.count())),
      "StreamingDedup.dedupBatchManaged" -> (() =>
        StreamingDedup.dedupBatchManaged(spark, idx, batch, 0L)(_.count())))
    gates.withValue(Gates.Zero) {
      calls.foreach { case (name, call) =>
        val held = leftPersisted(call())
        assert(held.isEmpty, s"$name left persisted: ${held.mkString("; ")}")
      }
    }
  }
}
