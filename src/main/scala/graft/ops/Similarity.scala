package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.build.Tables

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k as pure Catalyst higher-order
  * functions (`zip_with` + `aggregate`) — whole-stage-codegen'd, scans the
  * table once, TakeOrderedAndProject for the top-k (no full sort).
  *
  * Scale path: a PERSISTED index (build once, query many — the shape the
  * reference's own one-time index build + cheap per-query lookups has,
  * `/root/reference/source/BM25Ranker.cpp:26-30`):
  *   - `buildIvfIndex` / `buildLshIndex` commit an assignment table
  *     partitioned by `cell` | `part` to the directory's `IndexStore`, so
  *   - `ivfTopKIndexed` / `lshTopKIndexed` probes are PARTITION-PRUNED
  *     parquet reads (`PartitionFilters` in the scan) — a top-k query
  *     touches nProbe cells / hamming-ball buckets, never the corpus.
  * All randomness (hyperplanes, centroid choice) is DetHash-deterministic,
  * so the driver's DuckDB oracle recomputes identical buckets/cells.
  */
object Similarity {

  /** On-disk index layout version — bump on any change (cache paths embed
    * it, and every commit of an index's log carries it: probes REFUSE a
    * mismatched or pre-log index instead of misdecoding — the warehouse
    * FormatGuard contract extended to the ops indexes).
    * v3: optional `deleted` tombstone table every probe must anti-join.
    * v4: each index directory is an `IndexStore` over the warehouse's
    * commit log — builds, retrains, appends, deletes and compactions are
    * single commits, the parameters live in the commit state, and a
    * delete rewrites the files holding its ids (no tombstones). */
  val IndexVersion = 4

  /** Sorted (cell, centroid) rows of an IVF-family index — cached until a
    * commit rewrites them. Stored as floats, held as doubles (exact). */
  private def readCentroids(spark: SparkSession, idx: IndexStore): Array[(Int, Array[Double])] = {
    import spark.implicits._
    idx.cached(Tables.Centroids)(_.as[(Int, Seq[Float])].collect().sortBy(_._1)
      .map { case (cell, c) => (cell, c.map(_.toDouble).toArray) })
  }

  /** The `n` lowest-vec_id vectors in id order: the deterministic initial
    * codebook of IVF (centroids) and PQ (subvector seeds). */
  private def lowestVectors(spark: SparkSession, embeddings: DataFrame, n: Int): Array[Seq[Float]] = {
    import spark.implicits._
    embeddings.select("vec_id", "embedding").orderBy("vec_id").limit(n)
      .as[(Long, Seq[Float])].collect().sortBy(_._1).map(_._2)
  }

  /** Index of the max-cosine centroid (ties → lowest cell). */
  private def nearestCell(v: Seq[Float], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestCos = Double.MinValue; var i = 0
    while (i < cs.length) {
      val c = cosine(v, cs(i))
      if (c > bestCos) { bestCos = c; best = i } // first wins: lowest cell on ties
      i += 1
    }
    best
  }

  /** Cosine of a float vector against a double one (a float vector
    * widens exactly, so float pairs score alike through it). */
  def cosine(a: Seq[Float], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i).toDouble
      nb += b(i) * b(i)
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** dot(a, b) over array<double> columns, as a codegen'd expression. */
  def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosineCol(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    dotCol(ad, bd) / (sqrt(dotCol(ad, ad)) * sqrt(dotCol(bd, bd)))
  }

  /** Brute-force cosine top-k against the embedding of `queryId`.
    * The 1-row query side is broadcast; plan = scan + codegen'd cosine +
    * TakeOrderedAndProject. */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    embeddings.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        cosineCol(col("embedding"), col("q_embedding")).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** planes sized so the expected bucket occupancy stays ~64: more data →
    * more planes → finer buckets; the probe cost stays bounded. Capped at
    * 48 (not the round-2 20): bits are free up to 63, and a 2^20 ceiling
    * meant bucket width grew linearly past ~67M vectors. 48 planes keep
    * ~64-wide buckets out to 2^54 vectors — beyond any real corpus. */
  def adaptivePlanes(n: Long): Int =
    math.min(48, math.max(2, math.ceil(math.log(n / 64.0) / math.log(2)).toInt))

  /** Hyperplane-sign bucket of a vector (bit p = sign of v·hyper(p)). */
  def hyperplaneSig(v: Seq[Float], hyper: Array[Array[Double]]): Long = {
    var sig = 0L
    var p = 0
    while (p < hyper.length) {
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += hyper(p)(i) * v(i); i += 1 }
      if (dot >= 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** All buckets within hamming distance ≤ h of `bucket` over `planes`
    * bits — the multi-probe set (size Σ_{i≤h} C(planes, i)). */
  def probeBuckets(bucket: Long, planes: Int, h: Int): Seq[Long] = {
    def flips(start: Int, left: Int, cur: Long): Seq[Long] =
      if (left == 0) Seq(cur)
      else (start until planes).flatMap(p => flips(p + 1, left - 1, cur ^ (1L << p)))
    (0 to h).flatMap(i => flips(0, i, bucket)).distinct
  }

  /** Partition-directory cap: the partition column is bucket >>> shift so
    * at most 2^12 directories exist even at 48 planes; the full bucket
    * stays a row column, pruned file-level by parquet min/max stats. */
  private def partShift(planes: Int): Int = math.max(0, planes - 12)

  // ---------------------------------------------------------------- LSH --

  /** One-time LSH index build: every vector is assigned its hyperplane-sign
    * bucket (map-side only — no shuffle except the partitioned write), and
    * the table is written partitioned by the bucket's high bits. Returns
    * the plane count used. */
  def buildLshIndex(
      spark: SparkSession,
      embeddings: DataFrame,
      path: String,
      planesOpt: Option[Int] = None,
      seed: Long = 7L): Int = {
    import spark.implicits._
    val dims = embeddings.select(size(col("embedding"))).as[Int].head()
    val planes = planesOpt.getOrElse(adaptivePlanes(embeddings.count()))
    IndexStore.build(spark, path, "build_lsh",
        Map("planes" -> planes.toLong, "dims" -> dims.toLong, "seed" -> seed)) { idx =>
      Map(Tables.LshAssignments -> idx.write(lshRows(spark, embeddings, planes, dims, seed),
        Tables.LshAssignments))
    }
    planes
  }

  /** (planes, dims, seed) of a built LSH index. */
  private def lshParams(idx: IndexStore): (Int, Int, Long) =
    (idx.param("planes").toInt, idx.param("dims").toInt, idx.param("seed"))

  private def lshRows(spark: SparkSession, embeddings: DataFrame, planes: Int, dims: Int,
      seed: Long): DataFrame = {
    import spark.implicits._
    val shift = partShift(planes)
    val bHyper = spark.sparkContext.broadcast(DetHash.signPlanes(planes, dims, seed))
    embeddings.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .map { case (id, v) =>
        val b = hyperplaneSig(v, bHyper.value)
        (id, v, b, b >>> shift)
      }
      .toDF("vec_id", "embedding", "bucket", "part")
  }

  /** Incremental LSH growth: bucket a NEW disjoint batch with the
    * EXISTING hyperplanes (the committed parameters), one commit adding
    * its files to the same part partitions. */
  def appendLshAssignments(spark: SparkSession, newEmbeddings: DataFrame, path: String): Unit = {
    val idx = IndexStore.open(spark, path)
    val (planes, dims, seed) = lshParams(idx)
    idx.commit("append", Map(Tables.LshAssignments ->
      idx.write(lshRows(spark, newEmbeddings, planes, dims, seed), Tables.LshAssignments)))
  }

  /** Top-k over a persisted LSH index: reads ONLY the partitions covering
    * the query's hamming-≤probeHamming bucket ball (a `PartitionFilters`-
    * pruned scan), scores with the codegen'd cosine, TakeOrderedAndProject. */
  def lshTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      queryVec: Seq[Float],
      queryId: Long,
      k: Int,
      probeHamming: Int = 1): DataFrame = {
    val idx = IndexStore.open(spark, indexPath)
    val (planes, dims, seed) = lshParams(idx)
    require(queryVec.length == dims, s"query dims ${queryVec.length} != index dims $dims")
    val hyper = DetHash.signPlanes(planes, dims, seed)
    val qBucket = hyperplaneSig(queryVec, hyper)
    val probes = probeBuckets(qBucket, planes, probeHamming)
    val shift = partShift(planes)
    val parts = probes.map(_ >>> shift).distinct
    val qd = typedLit(queryVec.map(_.toDouble))
    idx.read(Tables.LshAssignments)
      .filter(col("part").isin(parts: _*) && col("bucket").isin(probes: _*)
        && col("vec_id") =!= queryId)
      .select(col("vec_id"), cosineCol(col("embedding"), qd).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Bulk LSH ANN (round-4 VERDICT item 5): top-k for MANY query vectors
    * in ONE partition-pruned scan of the UNION of their hamming-ball probe
    * buckets — `lshTopKIndexed` costs one job per query; a batch of M
    * queries (deduping a day's documents against the corpus) should pay
    * one scan, like the PQ bulk path (q35) and searchMany. The driver
    * computes each query's probe set, broadcasts (bucket → query_id)
    * pairs plus the query vectors, and one window takes each query's
    * top-k. Per-query results are IDENTICAL to `lshTopKIndexed`: the same
    * codegen'd `cosineCol` over the same probed rows, the same
    * (cosine desc, vec_id asc) order.
    *
    * @return (query_id, vec_id, cosine), ≤ k rows per query */
  def lshTopKManyIndexed(
      spark: SparkSession,
      indexPath: String,
      queries: Seq[(Long, Seq[Float])], // (query vec_id — excluded from results, vector)
      k: Int,
      probeHamming: Int = 1): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "lshTopKManyIndexed needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "lshTopKManyIndexed: duplicate query ids in the batch")
    val idx = IndexStore.open(spark, indexPath)
    val (planes, dims, seed) = lshParams(idx)
    val hyper = DetHash.signPlanes(planes, dims, seed)
    val probePairs = queries.flatMap { case (qid, v) =>
      require(v.length == dims, s"query $qid dims ${v.length} != index dims $dims")
      probeBuckets(hyperplaneSig(v, hyper), planes, probeHamming).map(b => (b, qid))
    }
    val shift = partShift(planes)
    val parts = probePairs.map(_._1 >>> shift).distinct
    val allBuckets = probePairs.map(_._1).distinct
    val pp = spark.createDataset(probePairs).toDF("bucket", "query_id")
    bulkRerank(spark, idx.read(Tables.LshAssignments)
      .filter(col("part").isin(parts: _*) && col("bucket").isin(allBuckets: _*))
      .join(broadcast(pp), Seq("bucket")), queries, k)
  }

  /** Each query's exact-cosine top-k (cosine desc, vec_id asc) among its
    * `candidates` rows (query_id, vec_id, embedding, …), the query's own
    * vector excluded: the tail of every bulk probe.
    *
    * @return (query_id, vec_id, cosine), ≤ k rows per query */
  private def bulkRerank(spark: SparkSession, candidates: DataFrame,
      queries: Seq[(Long, Seq[Float])], k: Int): DataFrame = {
    import spark.implicits._
    val qVecs = spark.createDataset(
        queries.map { case (qid, v) => (qid, v.map(_.toDouble)) })
      .toDF("query_id", "qvec")
    val wK = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("cosine").desc, col("vec_id").asc)
    candidates
      .join(broadcast(qVecs), Seq("query_id"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosineCol(col("embedding"), col("qvec")).as("cosine"))
      .withColumn("rn", row_number().over(wK)).filter(col("rn") <= k)
      .select("query_id", "vec_id", "cosine")
  }

  /** One-shot LSH top-k (no persisted index): the assignment map pass runs
    * inline — use ONLY for ad-hoc queries over transient frames; repeated
    * queries must go through buildLshIndex + lshTopKIndexed, otherwise
    * every query re-scans the corpus. */
  def lshTopK(
      spark: SparkSession,
      embeddings: DataFrame,
      queryId: Long,
      k: Int,
      planesOpt: Option[Int] = None,
      probeHamming: Int = 1,
      seed: Long = 7L): DataFrame = {
    import spark.implicits._
    val dims = embeddings.select(size(col("embedding"))).as[Int].head()
    val planes = planesOpt.getOrElse(adaptivePlanes(embeddings.count()))
    val hyper = DetHash.signPlanes(planes, dims, seed)
    val bHyper = spark.sparkContext.broadcast(hyper)
    val withBucket = embeddings.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .map { case (id, v) => (id, v, hyperplaneSig(v, bHyper.value)) }
      .toDF("vec_id", "embedding", "bucket")
    val qVec = embeddings.filter($"vec_id" === queryId)
      .select("embedding").as[Seq[Float]].head()
    val qBucket = hyperplaneSig(qVec, hyper)
    val probes = probeBuckets(qBucket, planes, probeHamming)
    val qd = typedLit(qVec.map(_.toDouble))
    withBucket
      .filter($"vec_id" =!= queryId && $"bucket".isin(probes: _*))
      .select($"vec_id", cosineCol($"embedding", qd).as("cosine"))
      .orderBy($"cosine".desc, $"vec_id".asc)
      .limit(k)
  }

  // ---------------------------------------------------------------- IVF --

  /** One-time IVF-flat index build. Centroids are the lowest-`nCells`
    * vec_ids (deterministic, engine-reproducible; `trainIvfCentroids`
    * commits a trained codebook instead); every vector goes to its
    * max-cosine centroid (ties → lowest cell), a broadcast map pass; the
    * assignment table is partitioned by `cell`. */
  def buildIvfIndex(
      spark: SparkSession,
      embeddings: DataFrame,
      path: String,
      nCells: Int = 16): Unit =
    writeIvfIndex(spark, embeddings, path, lowestCentroids(spark, embeddings, nCells))

  /** The untrained codebook: the lowest-`nCells` vectors, as doubles. */
  private def lowestCentroids(spark: SparkSession, embeddings: DataFrame, nCells: Int): Array[Array[Double]] =
    lowestVectors(spark, embeddings, nCells).map(_.map(_.toDouble).toArray)

  /** Build (or retrain) commit of an IVF index over `centroids`. */
  private def writeIvfIndex(
      spark: SparkSession, embeddings: DataFrame, path: String, centroids: Array[Array[Double]]): Unit = {
    require(centroids.nonEmpty, "no centroids sampled")
    IndexStore.build(spark, path, "build_ivf") { idx =>
      Map(Tables.Centroids -> idx.write(centroidRows(spark, centroids), Tables.Centroids),
        Tables.IvfAssignments -> idx.write(ivfRows(spark, embeddings, centroids), Tables.IvfAssignments))
    }
  }

  private def centroidRows(spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    spark.createDataset(centroids.toIndexedSeq.map(_.map(_.toFloat).toSeq).zipWithIndex.map(_.swap))
      .toDF("cell", "embedding").coalesce(1)
  }

  private def ivfRows(spark: SparkSession, embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    val bC = spark.sparkContext.broadcast(centroids)
    embeddings.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .map { case (id, v) => (id, v, nearestCell(v, bC.value)) }
      .toDF("vec_id", "embedding", "cell")
  }

  /** Incremental IVF growth: assign a NEW disjoint batch with the
    * EXISTING codebook, one commit adding its files to the same cells. */
  def appendIvfAssignments(spark: SparkSession, newEmbeddings: DataFrame, path: String): Unit = {
    val idx = IndexStore.open(spark, path)
    idx.commit("append", Map(Tables.IvfAssignments -> idx.write(
      ivfRows(spark, newEmbeddings, readCentroids(spark, idx).map(_._2)), Tables.IvfAssignments)))
  }

  /** Lloyd's refinement of the IVF codebook (deterministic init = the
    * lowest-`nCells` vectors, i.e. the untrained codebook). Each iteration
    * is ONE broadcast map + groupBy aggregation over the corpus; the
    * driver holds only the k×dims codebook. Empty cells keep their old
    * centroid. Commits the trained centroids (as floats, the codebook
    * schema) with a fresh assignment pass — a rebuild of the index at
    * `path`. The q27 oracle keeps the untrained codebook; training is the
    * recall knob (spec: recall tightens at the same nProbe). */
  def trainIvfCentroids(
      spark: SparkSession,
      embeddings: DataFrame,
      path: String,
      nCells: Int = 16,
      iters: Int = 5): Unit = {
    import spark.implicits._
    var cs = lowestCentroids(spark, embeddings, nCells)
    val ds = embeddings.select("vec_id", "embedding").as[(Long, Seq[Float])]
    for (_ <- 0 until iters) {
      val bC = spark.sparkContext.broadcast(cs)
      val sums = ds.map { case (_, v) => (nearestCell(v, bC.value), v.map(_.toDouble).toArray, 1L) }
        .groupByKey(_._1)
        .mapGroups { (cell, it) =>
          var n = 0L
          var acc: Array[Double] = null
          it.foreach { case (_, v, k) =>
            if (acc == null) acc = new Array[Double](v.length)
            var i = 0; while (i < v.length) { acc(i) += v(i); i += 1 }
            n += k
          }
          (cell, acc.map(_ / n), n)
        }
        .collect()
      bC.destroy()
      val next = cs.map(_.clone())
      sums.foreach { case (cell, mean, _) => next(cell) = mean }
      cs = next
    }
    // rounded to the stored float codebook: the assignment pass uses
    // exactly the centroids the index keeps
    writeIvfIndex(spark, embeddings, path, cs.map(_.map(_.toFloat.toDouble)))
  }

  // ------------------------------------------------------------------ PQ --
  //
  // Product quantization (Jégou, Douze & Schmid, "Product Quantization for
  // Nearest Neighbor Search", TPAMI 2011). At 100 TB the raw fp32 embedding
  // table itself is the scan bottleneck: 10^10 × 64-dim fp32 = 2.5 TB that
  // every ANN variant above still has to store per bucket/cell. PQ stores
  // each vector as `m` small codes instead: the L2-normalized vector is
  // split into m subvectors and each is replaced by the id of its nearest
  // codeword in a per-subspace codebook — m bytes/vector at nCodes ≤ 256
  // (32× smaller than fp32 at dims=64, m=8). Queries scan ONLY the codes
  // table with ADC (asymmetric distance computation): the query builds an
  // m×nCodes lookup table of partial squared-L2 distances once, a
  // candidate's approximate distance is m table lookups summed (pure
  // codegen'd column arithmetic), and only the ADC shortlist is re-ranked
  // with exact cosine against the raw table (a point-lookup read).
  //
  // The codebook is DetHash-free but still deterministic: init = the
  // subvectors of the `nCodes` lowest vec_ids (engine-reproducible, so the
  // q32 DuckDB oracle recomputes identical codes); `trainPqCodebook` runs
  // per-subspace Lloyd's as the recall knob, a rebuild like
  // trainIvfCentroids. Composes with IVF: a codes table partitioned by
  // `cell` is IVF-PQ (partition-pruned ADC scans).

  /** L2-normalize to double precision (the zero vector stays zero). */
  def l2normalize(v: Seq[Float]): Array[Double] = {
    val d = new Array[Double](v.length)
    var n = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; d(i) = x; n += x * x; i += 1 }
    if (n > 0) { val s = math.sqrt(n); i = 0; while (i < d.length) { d(i) /= s; i += 1 } }
    d
  }

  /** ||v[off..off+len) − cw||², sequential accumulation (the oracle's
    * list_dot_product(diff, diff) folds in the same order). */
  private def sqDist(v: Array[Double], off: Int, cw: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < cw.length) { val diff = v(off + i) - cw(i); s += diff * diff; i += 1 }
    s
  }

  /** PQ codes of one normalized vector: per subspace the nearest codeword
    * (ties → lowest code). */
  def pqEncode(vn: Array[Double], book: Array[Array[Array[Double]]]): Array[Int] = {
    val m = book.length
    val subDim = vn.length / m
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < book(j).length) {
        val d = sqDist(vn, j * subDim, book(j)(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(j) = best
      j += 1
    }
    codes
  }

  /** Deterministic init codebook: subvectors of the nCodes lowest vec_ids. */
  private def pqInitCodebook(
      spark: SparkSession,
      embeddings: DataFrame,
      m: Int,
      nCodes: Int): Array[Array[Array[Double]]] = {
    val seeds = lowestVectors(spark, embeddings, nCodes).map(l2normalize)
    require(seeds.nonEmpty, "no vectors to seed the PQ codebook")
    val dims = seeds.head.length
    require(dims % m == 0, s"dims $dims not divisible by m=$m subspaces")
    val subDim = dims / m
    Array.tabulate(m, seeds.length)((j, c) => seeds(c).slice(j * subDim, (j + 1) * subDim))
  }

  private def codebookRows(spark: SparkSession, book: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val rows = for (j <- book.indices; c <- book(j).indices)
      yield (j, c, book(j)(c).toSeq)
    spark.createDataset(rows).toDF("j", "code", "sub").coalesce(1)
  }

  private def readPqCodebook(spark: SparkSession, idx: IndexStore): Array[Array[Array[Double]]] = {
    import spark.implicits._
    idx.cached(Tables.Codebook) { df =>
      val rows = df.as[(Int, Int, Seq[Double])].collect()
      val m = rows.map(_._1).max + 1
      val nCodes = rows.map(_._2).max + 1
      val book = Array.ofDim[Array[Double]](m, nCodes)
      rows.foreach { case (j, c, sub) => book(j)(c) = sub.toArray }
      book
    }
  }

  /** Encode pass against a codebook (broadcast map-only; the codes table
    * is the persisted index the ADC scan reads). */
  private def pqRows(spark: SparkSession, embeddings: DataFrame,
      book: Array[Array[Array[Double]]]): DataFrame = {
    import spark.implicits._
    val b = spark.sparkContext.broadcast(book)
    embeddings.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .map { case (id, v) => (id, pqEncode(l2normalize(v), b.value).toSeq) }
      .toDF("vec_id", "codes")
  }

  /** Incremental index growth: encode a NEW batch of vectors with the
    * EXISTING codebook and commit its codes — queries see the union on
    * their next open, codebook/LUTs unchanged. Batches must carry fresh
    * vec_ids (the same disjoint-segment contract as the text index's
    * incremental appends). */
  def appendPqCodes(spark: SparkSession, newEmbeddings: DataFrame, path: String): Unit = {
    val idx = IndexStore.open(spark, path)
    idx.commit("append", Map(Tables.PqCodes ->
      idx.write(pqRows(spark, newEmbeddings, readPqCodebook(spark, idx)), Tables.PqCodes)))
  }

  /** One-time PQ index build with the deterministic init codebook. */
  def buildPqIndex(
      spark: SparkSession,
      embeddings: DataFrame,
      path: String,
      m: Int = 8,
      nCodes: Int = 16): Unit =
    writePqIndex(spark, embeddings, path, pqInitCodebook(spark, embeddings, m, nCodes))

  /** Build (or retrain) commit of a PQ index over `book`. */
  private def writePqIndex(spark: SparkSession, embeddings: DataFrame, path: String,
      book: Array[Array[Array[Double]]]): Unit =
    IndexStore.build(spark, path, "build_pq") { idx =>
      Map(Tables.Codebook -> idx.write(codebookRows(spark, book), Tables.Codebook),
        Tables.PqCodes -> idx.write(pqRows(spark, embeddings, book), Tables.PqCodes))
    }

  /** Per-subspace Lloyd's refinement of the PQ codebook (deterministic
    * init = the untrained codebook). One broadcast map + grouped mean per
    * iteration; the driver holds only the m×nCodes×subDim codebook. Empty
    * codes keep their old codeword; commits the trained codebook with a
    * fresh encode pass (a rebuild). The q32 oracle keeps the untrained
    * codebook; training is the recall knob. */
  def trainPqCodebook(
      spark: SparkSession,
      embeddings: DataFrame,
      path: String,
      m: Int = 8,
      nCodes: Int = 16,
      iters: Int = 5): Unit = {
    import spark.implicits._
    var book = pqInitCodebook(spark, embeddings, m, nCodes)
    val ds = embeddings.select("embedding").as[Seq[Float]].map(l2normalize)
    for (_ <- 0 until iters) {
      val b = spark.sparkContext.broadcast(book)
      val means = ds.flatMap { vn =>
          val subDim = vn.length / b.value.length
          pqEncode(vn, b.value).iterator.zipWithIndex.map { case (code, j) =>
            ((j, code), vn.slice(j * subDim, (j + 1) * subDim))
          }
        }
        .groupByKey(_._1)
        .mapGroups { (key: (Int, Int), it: Iterator[((Int, Int), Array[Double])]) =>
          var n = 0L
          var acc: Array[Double] = null
          it.foreach { case (_, sv) =>
            if (acc == null) acc = new Array[Double](sv.length)
            var i = 0; while (i < sv.length) { acc(i) += sv(i); i += 1 }
            n += 1
          }
          (key._1, key._2, acc.map(_ / n).toSeq)
        }
        .collect()
      b.destroy()
      val next = book.map(_.map(_.clone()))
      means.foreach { case (j, c, mean) => next(j)(c) = mean.toArray }
      book = next
    }
    writePqIndex(spark, embeddings, path, book)
  }

  /** Top-k over a persisted PQ index: ADC scan of the codes table (m
    * element_at lookups into the broadcast-literal LUT, whole-stage
    * codegen, never touching raw embeddings) → shortlist → exact cosine
    * re-rank over just those ids against `embeddings`. */
  def pqTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      embeddings: DataFrame,
      queryVec: Seq[Float],
      queryId: Long,
      k: Int,
      shortlist: Int = 100): DataFrame = {
    val idx = IndexStore.open(spark, indexPath)
    adcTopK(spark, readPqCodebook(spark, idx), idx.read(Tables.PqCodes).filter(col("vec_id") =!= queryId),
      embeddings, queryVec, k, shortlist)
  }

  /** ADC scan of `codes` (m element_at lookups into the query's
    * broadcast-literal LUT, whole-stage codegen) → the `shortlist` ids of
    * least approximate distance → exact cosine re-rank against
    * `embeddings`: the tail of the PQ and IVF-PQ probes. */
  private def adcTopK(
      spark: SparkSession,
      book: Array[Array[Array[Double]]],
      codes: DataFrame,
      embeddings: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      shortlist: Int): DataFrame = {
    import spark.implicits._
    val m = book.length
    val nCodes = book(0).length
    val qn = l2normalize(queryVec)
    val subDim = qn.length / m
    // m×nCodes ADC table, flattened j-major (index = j*nCodes + code)
    val lut: Seq[Double] =
      for (j <- 0 until m; c <- 0 until nCodes) yield sqDist(qn, j * subDim, book(j)(c))
    val lutCol = typedLit(lut)
    // explicit left-associated chain 0.0 + x_0 + … + x_{m-1}: the oracle
    // sums the same lookups in the same IEEE order
    val approx = (0 until m).foldLeft(lit(0.0): Column) { (acc, j) =>
      acc + element_at(lutCol, (col("codes").getItem(j) + lit(j * nCodes + 1)).cast("int"))
    }
    val ids = codes
      .select(col("vec_id"), approx.as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(shortlist)
      .select("vec_id").as[Long].collect()
    val qd = typedLit(queryVec.map(_.toDouble))
    embeddings.filter(col("vec_id").isin(ids.toSeq: _*))
      .select(col("vec_id"), cosineCol(col("embedding"), qd).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The `nProbe` cells whose centroids are nearest `v` (cosine desc, then
    * the lower cell). */
  private def probeCells(centroids: Array[(Int, Array[Double])], v: Seq[Float], nProbe: Int): Seq[Int] =
    centroids
      .map { case (cell, c) => (cell, cosine(v, c)) }
      .sortBy { case (cell, c) => (-c, cell) }
      .take(nProbe).map(_._1).toSeq

  /** Bulk ANN: top-k for MANY query vectors in ONE ADC scan of the codes
    * table (the searchMany story for similarity search — deduping a batch
    * of new documents against the corpus pays one scan, not M). Each
    * partition keeps a `shortlist`-heap per query over the same code rows
    * (the Wand.topKForPartitionMulti shape); the merged per-query
    * shortlist is exact (top-L of the per-partition top-Ls IS the global
    * top-L), then one broadcast join re-ranks every shortlist with exact
    * cosine. Per-query results are identical to `pqTopKIndexed`. */
  def pqTopKManyIndexed(
      spark: SparkSession,
      indexPath: String,
      embeddings: DataFrame,
      queries: Seq[(Long, Seq[Float])], // (query vec_id — excluded from results, vector)
      k: Int,
      shortlist: Int = 100): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "pqTopKManyIndexed needs at least one query")
    // a repeated qid would run two heaps whose duplicate rows crowd the
    // row_number shortlist — ambiguous input, refuse instead of guessing
    require(queries.map(_._1).distinct.size == queries.size,
      "pqTopKManyIndexed: duplicate query ids in the batch")
    val idx = IndexStore.open(spark, indexPath)
    val book = readPqCodebook(spark, idx)
    val m = book.length
    val nCodes = book(0).length
    val luts: Array[(Long, Array[Double])] = queries.map { case (qid, v) =>
      val qn = l2normalize(v)
      val subDim = qn.length / m
      val lut = new Array[Double](m * nCodes)
      for (j <- 0 until m; c <- 0 until nCodes) lut(j * nCodes + c) = sqDist(qn, j * subDim, book(j)(c))
      (qid, lut)
    }.toArray
    val bLuts = spark.sparkContext.broadcast(luts)
    val sl = shortlist
    val nc = nCodes
    val cands = idx.read(Tables.PqCodes)
      .select("vec_id", "codes").as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val qs = bLuts.value
        val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
        // natural max-heap: head = worst candidate (largest adc, then id)
        val heaps = qs.map(_ => scala.collection.mutable.PriorityQueue.empty[(Double, Long)](ord))
        it.foreach { case (vecId, codes) =>
          var qi = 0
          while (qi < qs.length) {
            val (qid, lut) = qs(qi)
            if (vecId != qid) {
              // 0.0 + x_0 + … left fold — the single-query ADC order
              var adc = 0.0; var j = 0
              while (j < codes.length) { adc += lut(j * nc + codes(j)); j += 1 }
              val h = heaps(qi)
              if (h.size < sl) h.enqueue((adc, vecId))
              else if (ord.lt((adc, vecId), h.head)) { h.dequeue(); h.enqueue((adc, vecId)) }
            }
            qi += 1
          }
        }
        qs.iterator.zipWithIndex.flatMap { case ((qid, _), qi) =>
          heaps(qi).iterator.map { case (adc, id) => (qid, id, adc) }
        }
      }.toDF("query_id", "vec_id", "adc")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("adc").asc, col("vec_id").asc)
    val short = cands.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sl).select("query_id", "vec_id")
    bulkRerank(spark, embeddings.join(broadcast(short), Seq("vec_id")), queries, k)
  }

  // -------------------------------------------------------------- IVF-PQ --

  /** IVF-PQ: the two prunings composed. The PQ codes table is partitioned
    * by `cell` against the deterministic IVF codebook, so a query
    * ADC-scans only its nProbe cell partitions — at 10^10 vectors that is
    * (nProbe/nCells) × 80 GB of codes instead of 2.56 TB of fp32. Same
    * deterministic init codebooks as the parents → q33 is exactly
    * DuckDB-reproducible. */
  def buildIvfPqIndex(
      spark: SparkSession,
      embeddings: DataFrame,
      path: String,
      nCells: Int = 16,
      m: Int = 8,
      nCodes: Int = 16): Unit = {
    import spark.implicits._
    val centroids = lowestCentroids(spark, embeddings, nCells)
    require(centroids.nonEmpty, "no centroids sampled")
    val book = pqInitCodebook(spark, embeddings, m, nCodes)
    val bC = spark.sparkContext.broadcast(centroids)
    val bB = spark.sparkContext.broadcast(book)
    val codes = embeddings.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .map { case (id, v) => (id, pqEncode(l2normalize(v), bB.value).toSeq, nearestCell(v, bC.value)) }
      .toDF("vec_id", "codes", "cell")
    IndexStore.build(spark, path, "build_ivfpq") { idx =>
      Map(Tables.Centroids -> idx.write(centroidRows(spark, centroids), Tables.Centroids),
        Tables.Codebook -> idx.write(codebookRows(spark, book), Tables.Codebook),
        Tables.IvfPqCodes -> idx.write(codes, Tables.IvfPqCodes))
    }
  }

  /** Top-k over a persisted IVF-PQ index: rank the driver-side centroid
    * codebook, ADC-scan ONLY the nProbe probed cell partitions of the
    * codes table (PartitionFilters-pruned), exact-cosine re-rank the
    * shortlist against the raw table. */
  def ivfPqTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      embeddings: DataFrame,
      queryVec: Seq[Float],
      queryId: Long,
      k: Int,
      nProbe: Int = 4,
      shortlist: Int = 100): DataFrame = {
    val idx = IndexStore.open(spark, indexPath)
    val cells = probeCells(readCentroids(spark, idx), queryVec, nProbe)
    adcTopK(spark, readPqCodebook(spark, idx),
      idx.read(Tables.IvfPqCodes).filter(col("cell").isin(cells: _*) && col("vec_id") =!= queryId),
      embeddings, queryVec, k, shortlist)
  }

  /** Bulk IVF ANN: the `lshTopKManyIndexed` shape over cells — every
    * query ranks the driver-side codebook, the UNION of all probed cells
    * is read in ONE partition-pruned scan, and a broadcast (cell →
    * query_id) join + per-query window replaces M separate jobs.
    * Per-query results are identical to `ivfTopKIndexed`.
    *
    * @return (query_id, vec_id, cosine), ≤ k rows per query */
  def ivfTopKManyIndexed(
      spark: SparkSession,
      indexPath: String,
      queries: Seq[(Long, Seq[Float])], // (query vec_id — excluded from results, vector)
      k: Int,
      nProbe: Int = 4): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "ivfTopKManyIndexed needs at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "ivfTopKManyIndexed: duplicate query ids in the batch")
    val idx = IndexStore.open(spark, indexPath)
    val centroids = readCentroids(spark, idx)
    val probePairs = queries.flatMap { case (qid, v) =>
      probeCells(centroids, v, nProbe).map(cell => (cell, qid))
    }
    val allCells = probePairs.map(_._1).distinct
    val pp = spark.createDataset(probePairs).toDF("cell", "query_id")
    bulkRerank(spark, idx.read(Tables.IvfAssignments)
      .filter(col("cell").isin(allCells: _*))
      .join(broadcast(pp), Seq("cell")), queries, k)
  }

  /** Top-k over a persisted IVF index: the query ranks the (tiny, driver-
    * side) codebook, then reads ONLY its nProbe closest cells — a
    * partition-pruned scan — and scores them with the codegen'd cosine. */
  def ivfTopKIndexed(
      spark: SparkSession,
      indexPath: String,
      queryVec: Seq[Float],
      queryId: Long,
      k: Int,
      nProbe: Int = 4): DataFrame = {
    val idx = IndexStore.open(spark, indexPath)
    val cells = probeCells(readCentroids(spark, idx), queryVec, nProbe)
    val qd = typedLit(queryVec.map(_.toDouble))
    idx.read(Tables.IvfAssignments)
      .filter(col("cell").isin(cells: _*) && col("vec_id") =!= queryId)
      .select(col("vec_id"), cosineCol(col("embedding"), qd).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }
}
