package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.build.Tables

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag
import scala.util.DynamicVariable

/** Deduplication operators for training-data pipelines.
  *
  * Scale notes: every variant is one `groupBy` on a bounded-width key
  * (hash / band bucket), i.e. a single shuffle whose reduce-side state per
  * key is tiny; pairwise work only happens inside near-dup buckets
  * (candidate pairs), never across the corpus.
  *
  * Size gates: each distributed chain has a driver side for small inputs
  * (one collect instead of a shuffle cascade). `Gates` holds every
  * threshold, `probe` makes every choice, and the two sides of a gate
  * share their kernel, so they return the same rows.
  */
object Dedup {

  /** The size gates of the dedup family, one table. At or below a gate
    * the chain collects its probed input once and runs on the driver;
    * above it runs the distributed side the 10M-doc drives validated.
    * Each gate names what its probe counts:
    *  - `driverBandRows`: keyed rows of the LSH pair chain (`keyedPairs`);
    *    ≤ ~32 bytes each, so ≤ ~6 MB collected;
    *  - `isinIds`: distinct candidate ids of the signature prune
    *    (`estimatePairsImpl`): an `isin` pushed into the parquet scan,
    *    else a broadcast semi-join;
    *  - `exactPrefilterKeys`: distinct batch (band, bucket) keys of the
    *    dedup-batch corpus prefilter: an exact broadcast hash set, else
    *    the Bloom filter;
    *  - `bruteRows`: rows of the brute-force all-pairs ops
    *    (`allPairsAtLeast`): a broadcast pair loop, else a self-join;
    *  - `driverEdgeRows`: symmetric edge rows of the clustering step
    *    (`dedupClusters`): union-find, else the Pregel loop. */
  private[graft] final case class Gates(
      driverBandRows: Int = 200000,
      isinIds: Int = 10000,
      exactPrefilterKeys: Int = 500000,
      bruteRows: Int = 20000,
      driverEdgeRows: Int = 200000)

  private[graft] object Gates {
    /** Every chain on its distributed side (for a non-empty input). */
    val Zero: Gates = Gates(0, 0, 0, 0, 0)
  }

  /** The gates the calling thread's chains read. Thread-scoped so a test
    * can move its own calls to the other side of every gate while other
    * suites run at the defaults. */
  private[graft] val gates = new DynamicVariable[Gates](Gates())

  /** THE driver-or-executors choice of every gate: the rows of `ds` when
    * it has at most `gate` of them (the driver side), else None. One
    * `limit(gate + 1)` collect answers both questions. */
  private def probe[T](ds: Dataset[T], gate: Int): Option[Array[T]] = {
    val head = ds.limit(gate + 1).collect()
    if (head.length <= gate) Some(head) else None
  }

  /** Exact dedup by content hash: keep the smallest doc_id per md5(text).
    * Map-side partial agg → one shuffle of (hash, id) pairs. */
  def exact(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("content_md5"), col("doc_id"))
      .groupBy(col("content_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("content_md5"))

  /** Repeated-substring duplication (the Lee-et-al.-2021 axis): fingerprint
    * every `window`-token span (md5 of the space-joined window) and
    * measure, per document, how much of it consists of spans occurring
    * MORE THAN ONCE across the corpus — including repeats within the same
    * document. This is the positional/substring signal the whole-document
    * MinHash / SimHash / n-gram-Jaccard family cannot see (boilerplate,
    * quoted spans, templated intros). Returns
    * `(doc_id, n_windows, n_dup_windows, dup_frac)`; documents shorter
    * than `window` tokens have zero windows.
    *
    * Scale shape: window fingerprints are computed IN-ROW (tokenize →
    * transform → md5, codegen'd) and carried as 60-BIT LONGS (the first 15
    * hex chars of the md5, the splitAssign trick — 8 bytes on the wire vs
    * a 32-char hex string; measured 3× shuffle-volume cut at 10M docs);
    * the (doc, hash) multiset is pre-aggregated map-side before the one
    * hash shuffle, global occurrence counts hold a counter per hash (never
    * a list), and the dup flags flow back through a hash-keyed join of two
    * ALREADY-AGGREGATED frames — a window repeated a billion times costs
    * a counter, not executor memory. Fingerprint collisions (≈n²/2^61)
    * can only mark a unique window as duplicated, and the DuckDB oracle
    * derives the identical 60-bit value, so contract parity is exact by
    * construction. */
  def substringDup(docs: DataFrame, window: Int = 10): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens, got $window")
    import docs.sparkSession.implicits._
    val src = docs.select(col("doc_id"), col("text")).as[(Long, String)]
    // Round 6: window fingerprints come from a typed kernel (one tokenize
    // char-scan + one MD5 per span, TextKernel.windowHashes) instead of
    // the interpreted `transform(... md5(concat_ws(...)))` expression —
    // identical 60-bit values (first 15 md5 hex nibbles), same plan shape
    // downstream (the one hash shuffle, counters not lists).
    val dh = src.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else TextKernel.windowHashes(TextKernel.lowerTokens(text), window, md)
            .iterator.map(h => (id, h))
        }
      }.toDF("doc_id", "h")
      // per-(doc, window-hash) multiplicity — the only corpus-sized shuffle
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
    val occ = dh.groupBy(col("h")).agg(sum(col("c")).as("occ"))
    val dupPerDoc = dh.join(occ.filter(col("occ") > 1), Seq("h"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_dup_windows"))
    // n_windows needs only the token COUNT: a substring-free scan
    // (`greatest(size(toks) - (window-1), 0)`, with NULL text → 0 exactly
    // as greatest(NULL, 0) did)
    src.map { case (id, text) =>
        val nw = if (text == null) 0L
          else math.max(TextKernel.lowerTokenCount(text) - (window - 1), 0).toLong
        (id, nw)
      }.toDF("doc_id", "n_windows")
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("dup_frac",
        when(col("n_windows") > 0,
          col("n_dup_windows").cast("double") / col("n_windows").cast("double"))
          .otherwise(lit(0.0)))
      .orderBy(col("doc_id"))
  }

  /** Word n-gram shingle set of a text (lowercased word tokens). */
  def shingles(text: String, n: Int): Set[String] = {
    val toks = graft.text.TextPipeline.tokenize(text).map(_.toLowerCase)
    if (toks.length < n) if (toks.isEmpty) Set.empty else Set(toks.mkString(" "))
    else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Deterministic 64-bit shingle hash (md5-based so any engine can
    * reproduce it; Spark's hash() is engine-specific). The digest instance
    * is reused per thread — getInstance per call is allocation-bound. */
  def shingleHash64(s: String, seed: Int): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest((seed.toString + ":" + s).getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d).getLong
  }

  private val coeffCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[(Long, Long)]]()
  private def coeffs(k: Int): Array[(Long, Long)] =
    coeffCache.computeIfAbsent(k, DetHash.permCoeffs(_))

  /** Empty-shingle-set sentinel component: P itself is outside the hash
    * range [0, P−1], so only two empty docs can share it (est 1.0 — the
    * convention jaccard(∅,∅)=1 also uses). */
  val EmptySig: Long = DetHash.P

  /** MinHash signature: ONE md5 per shingle, then k universal-hash
    * "permutations" h_i(x) = (a_i·x + b_i) mod (2^61−1) — the classical
    * Carter–Wegman family (same estimator guarantees as true permutations,
    * ~k× fewer digests than hashing each shingle k times — the round-1 hot
    * path was 64 MD5s per shingle). The modular wraparound is what makes a
    * linear family non-monotone and hence usable; it is also exactly
    * reproducible in DuckDB HUGEINT arithmetic, which is what lets the
    * driver oracle q07/q25 (the round-2 mix64(x + i·φ) family was
    * JVM-wrapping-dependent only in spirit — this one is plain math). */
  def minHashSignature(sh: Set[String], k: Int): Array[Long] = {
    val cs = coeffs(k)
    val sig = Array.fill(k)(EmptySig)
    sh.foreach { s =>
      val x = java.lang.Long.remainderUnsigned(shingleHash64(s, 0), DetHash.P)
      var i = 0
      while (i < k) {
        val v = {
          val t = DetHash.mulModP(cs(i)._1, x) + cs(i)._2
          if (t >= DetHash.P) t - DetHash.P else t
        }
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  /** `minHashSignature(shingles(text, n), k)` fused into one pass: the
    * token windows are hashed as they are built (no Set[String] or
    * intermediate shingle collection), deduplicated by their 64-bit
    * residue x — equal shingle strings hash to equal x, and equal x
    * values contribute identical minima, so the signature is the same by
    * construction (an x collision between two distinct shingles would
    * also have produced identical updates twice). */
  private[ops] def signatureOfText(text: String, shingleN: Int, k: Int): Array[Long] = {
    val toks = graft.text.TextPipeline.tokenize(text).map(_.toLowerCase)
    val cs = coeffs(k)
    val sig = Array.fill(k)(EmptySig)
    if (toks.isEmpty) return sig
    val md = md5Local.get()
    val seen = new java.util.HashSet[java.lang.Long]()
    def update(s: String): Unit = {
      md.reset()
      val d = md.digest(("0:" + s).getBytes("UTF-8"))
      val x = java.lang.Long.remainderUnsigned(
        java.nio.ByteBuffer.wrap(d).getLong, DetHash.P)
      if (seen.add(x)) {
        var i = 0
        while (i < k) {
          val t = DetHash.mulModP(cs(i)._1, x) + cs(i)._2
          val v = if (t >= DetHash.P) t - DetHash.P else t
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
    }
    if (toks.length < shingleN) update(toks.mkString(" "))
    else {
      val arr = toks.toArray
      var i = 0
      while (i <= arr.length - shingleN) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < shingleN) {
          if (j > 0) sb.append(' ')
          sb.append(arr(i + j))
          j += 1
        }
        update(sb.toString)
        i += 1
      }
    }
    sig
  }

  private[ops] def minHashSigs(
      spark: SparkSession, docs: DataFrame, shingleN: Int, k: Int): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, text) => (id, signatureOfText(text, shingleN, k)) }
      .toDF("doc_id", "sig")
  }

  /** LSH candidate pairs only — band rows carry (band, 8-byte bucket hash,
    * doc_id), NOT the k-long signature (round 1 shipped the full signature
    * on both sides of a self-join: bands×sigBytes×2 shuffle bytes per doc;
    * this is bands×16 bytes per doc plus one groupBy). Pairs are emitted
    * inside each bucket; `maxBucket` caps degenerate buckets (e.g. all
    * empty docs share one signature) so bucket width can't go quadratic —
    * capped buckets are SKIPPED, trading recall on pathological keys for
    * bounded work, like AQE skew-join salting would. */
  def minHashLshCandidates(
      spark: SparkSession,
      docs: DataFrame,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      maxBucket: Int = 100000): DataFrame =
    candidatesFromSigs(spark, minHashSigs(spark, docs, shingleN, k), k, bands, maxBucket)

  /** (band, bucket, doc_id) banding rows of a signature frame — 24 bytes
    * per (doc, band); the shuffle unit of every LSH variant. */
  private[ops] def bandRows(
      spark: SparkSession, sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    import spark.implicits._
    require(k % bands == 0, s"k ($k) must be a multiple of bands ($bands)")
    val r = k / bands
    sigs.as[(Long, Seq[Long])]
      .flatMap { case (id, sig) =>
        (0 until bands).iterator.map { b =>
          // polynomial fold of the band's components in GF(2^61−1): SQL-
          // reproducible (h·31 < 2^66 needs mulModP on the JVM side only)
          var h = 1125899906842597L
          var i = b * r
          while (i < (b + 1) * r) {
            val t = DetHash.mulModP(h, 31L) + sig(i)
            h = if (t >= DetHash.P) t - DetHash.P else t
            i += 1
          }
          (b, h, id)
        }
      }.toDF("band", "bucket", "doc_id")
  }

  /** Keep only rows whose key group has 2..maxBucket members — a
    * map-side-combined COUNT pass + semi-join, so collect_list never
    * materializes a singleton's group (the overwhelmingly common case:
    * 10M docs → ~40M banding rows but ~all buckets are singletons; the
    * one-pass collect_list-then-filter shape measured 962 s and heavy GC
    * where this is minutes) nor a degenerate hot key's (the skew cap
    * applies BEFORE the array is built, bounding executor memory at any
    * corpus size). The groupBy after the join reuses the join's hash
    * partitioning — no extra shuffle of the wide rows. */
  private def keepMidSizedGroups(
      df: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val sizes = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
      .select(keys.map(col): _*)
    df.join(sizes, keys, "left_semi")
  }

  /** What one LSH variant pairs inside a key group of `(id, payload)`
    * members. A group pairs only with 2..`maxBucket` members (the skew
    * cap: a degenerate key is SKIPPED, trading recall on pathological
    * keys for bounded work) of which at least one passes `member`; each
    * i<j pair of its id-sorted members then emits `pair`'s value, if any.
    * `dedup`: a pair can co-occur under several keys, so repeats are
    * dropped — safe because `pair` depends on the pair alone, never on
    * the key it met under. */
  private[ops] final case class PairRule[P](
      maxBucket: Int,
      member: P => Boolean,
      pair: (P, P) => Option[Int],
      dedup: Boolean)

  private val Paired = Some(0)

  /** Every pair of every capped group; the payload is unused. */
  private[ops] def everyPair(maxBucket: Int, dedup: Boolean): PairRule[Boolean] =
    PairRule[Boolean](maxBucket, _ => true, (_, _) => Paired, dedup)

  /** Pairs touching a new doc (payload `is_new`). The `member` prune
    * skips an old-only bucket (a Bloom false positive) in O(k), not
    * O(k²) no-op pair checks. */
  private[ops] def newTouchingPairs(maxBucket: Int): PairRule[Boolean] =
    PairRule[Boolean](maxBucket, isNew => isNew,
      (a, b) => if (a || b) Paired else None, dedup = true)

  /** Pairs within hamming `maxBits` of their fingerprints (payload), with
    * the hamming as the value. Filtering inside the emission keeps the
    * dedup shuffle at true-near-dup size — under-sized keys at large n
    * otherwise push billions of non-dup candidates through it (measured:
    * the whole stage's cost at 10M docs with 16-bit keys). */
  private[ops] def hammingPairs(maxBits: Int, maxBucket: Int): PairRule[Long] =
    PairRule[Long](maxBucket, _ => true, { (a, b) =>
      val h = java.lang.Long.bitCount(a ^ b)
      if (h <= maxBits) Some(h) else None
    }, dedup = true)

  /** THE in-bucket kernel, run by both sides of the pair chain on one
    * key group's members. */
  private[ops] def bucketPairs[P](
      rule: PairRule[P], members: Seq[(Long, P)]): Iterator[(Long, Long, Int)] =
    if (members.length < 2 || members.length > rule.maxBucket ||
        !members.exists(m => rule.member(m._2))) Iterator.empty
    else {
      // a decoded Seq is a LIST: materialize to Array or the indexed
      // accesses below cost O(k) each (O(k^3) per bucket — measured as an
      // 85-minute stall on full 1000-member buckets at 10M docs)
      val s = members.sortBy(_._1).toArray
      s.indices.iterator.flatMap(i => (i + 1 until s.length).iterator.flatMap(j =>
        rule.pair(s(i)._2, s(j)._2).map(v => (s(i)._1, s(j)._1, v))))
    }

  /** Driver side of the pair chain over collected `(keys…, id, payload)`
    * rows: groups in a HashMap, runs `bucketPairs` per group, drops
    * repeats first-seen when `rule.dedup`. */
  private def pairsOnDriver[P](
      rows: Array[Row], nKeys: Int, rule: PairRule[P]): Seq[(Long, Long, Int)] = {
    val groups = new java.util.HashMap[Seq[Any], ArrayBuffer[(Long, P)]]()
    rows.foreach { r =>
      groups.computeIfAbsent(r.toSeq.take(nKeys), _ => new ArrayBuffer[(Long, P)](4))
        .addOne((r.getLong(nKeys), r.getAs[P](nKeys + 1)))
    }
    val seen = new java.util.HashSet[(Long, Long)]()
    val out = new ArrayBuffer[(Long, Long, Int)]()
    groups.values.forEach { ms =>
      bucketPairs(rule, ms.toSeq).foreach { p =>
        if (!rule.dedup || seen.add((p._1, p._2))) out += p
      }
    }
    out.toSeq
  }

  /** Executor side of the pair chain over a keyed frame `(keys…, id,
    * payload)`: the size filter runs before any group is materialized
    * (`keepMidSizedGroups`), then `bucketPairs` per collected group, then
    * `dropDuplicates` when `rule.dedup`. Columns `(a, b, v)`. */
  private def pairsOnExecutors[P: TypeTag](
      spark: SparkSession, keyed: DataFrame, keys: Seq[String], rule: PairRule[P]): DataFrame = {
    import spark.implicits._
    val Array(id, payload) = keyed.columns.drop(keys.length)
    val pairs = keepMidSizedGroups(keyed, keys, rule.maxBucket)
      .groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col(id), col(payload))).as("ms"))
      .select($"ms").as[Seq[(Long, P)]]
      .flatMap(bucketPairs(rule, _))
      .toDF("a", "b", "v")
    if (rule.dedup) pairs.dropDuplicates("a", "b") else pairs
  }

  /** The in-bucket pair search of every LSH variant: the
    * `driverBandRows` gate over the keyed frame — the driver side at or
    * below it (one job instead of the 4-shuffle groupBy/semi-join/
    * collect_list/dropDuplicates cascade), the skew-capped executor side
    * above it. Columns `(a, b, v)`, a before b in id order. */
  private[ops] def keyedPairs[P: TypeTag](
      spark: SparkSession, keyed: DataFrame, keys: Seq[String], rule: PairRule[P]): DataFrame = {
    import spark.implicits._
    probe(keyed, gates.value.driverBandRows) match {
      case Some(rows) => pairsOnDriver(rows, keys.length, rule).toDF("a", "b", "v")
      case None => pairsOnExecutors(spark, keyed, keys, rule)
    }
  }

  /** Candidate pairs from banding rows: every pair sharing a (band,
    * bucket), skew-capped. */
  private def pairsFromBandRows(
      spark: SparkSession, banded: DataFrame, maxBucket: Int): DataFrame =
    keyedPairs(spark, banded.select(col("band"), col("bucket"), col("doc_id"), lit(true)),
        Seq("band", "bucket"), everyPair(maxBucket, dedup = true))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))

  private def candidatesFromSigs(
      spark: SparkSession,
      sigs: DataFrame,
      k: Int,
      bands: Int,
      maxBucket: Int): DataFrame =
    pairsFromBandRows(spark, bandRows(spark, sigs, k, bands), maxBucket)

  /** est_jaccard = matching signature components / k, per candidate pair;
    * pairs ≪ docs so AQE broadcasts the pair side of both joins.
    *
    * The signature side is PRUNED to candidate-sized before the join
    * (round-4 VERDICT item 2): without it the estimate scanned the FULL
    * sigs table per call — at 10^10 docs ≈ 5 TB of 64-long signatures to
    * estimate a handful of pairs, the dominant avoidable cost of the
    * batch-dedup path. At or below the `isinIds` gate the candidate ids
    * are collected and pushed as an `isin` into the parquet scan (row-group
    * min/max pruning); above it they semi-join (ids stay ≪ corpus, so
    * they are broadcast). Results are identical either way — non-candidate
    * signatures never joined anyway.
    *
    * The candidate plan is consumed twice (id prune + join), so it is
    * cached for the estimate's life: `use` consumes the estimate, then
    * the cache is released. */
  private[ops] def estimatePairs[T](
      spark: SparkSession,
      cands: DataFrame,
      sigs: DataFrame,
      threshold: Double)(use: DataFrame => T): T = {
    import spark.implicits._
    val c = cands.cache()
    try {
      val ids = c.select($"doc_a".as("doc_id"))
        .union(c.select($"doc_b".as("doc_id"))).distinct()
      val pruned = probe(ids.as[Long], gates.value.isinIds) match {
        case Some(idArr) if idArr.isEmpty => sigs.filter(lit(false))
        case Some(idArr) => sigs.filter(col("doc_id").isin(idArr.toIndexedSeq: _*))
        // explicit broadcast: a size-estimated sort-merge semi-join would
        // SHUFFLE the corpus-sized sigs table, which is worse than the scan
        // it replaces; the id set is candidate-sized by construction
        case None => sigs.join(broadcast(ids), Seq("doc_id"), "left_semi")
      }
      val est = c
        .join(pruned.toDF("doc_a", "sig_a"), Seq("doc_a"))
        .join(pruned.toDF("doc_b", "sig_b"), Seq("doc_b"))
        .select($"doc_a", $"doc_b", $"sig_a", $"sig_b")
        .as[(Long, Long, Seq[Long], Seq[Long])]
        .map { case (a, b, sa, sb) =>
          val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length
          (a, b, est)
        }
        .toDF("doc_a", "doc_b", "est_jaccard")
        .filter($"est_jaccard" >= threshold)
        .orderBy($"doc_a", $"doc_b")
      use(est)
    } finally { c.unpersist(); () }
  }

  /** MinHash + LSH banding: docs sharing any band bucket are candidate
    * pairs; reported candidates = estimated Jaccard ≥ threshold.
    *
    * shingle→minhash is a doc-local flatMap, computed ONCE and cached for
    * the duration of the query (round 2 recomputed the tokenize+md5 pass
    * for the estimate join); candidate generation is one groupBy on
    * (band, bucket) with 24-byte rows; signatures join back once per side
    * for the estimate (pairs ≪ docs, so AQE broadcasts the pair side). At
    * warehouse scale persist `minHashSigs` as a table instead. Runs at the
    * call and returns a local frame: its caches are released before it
    * returns. */
  def minHashLsh(
      spark: SparkSession,
      docs: DataFrame,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucket: Int = 100000): DataFrame = {
    val sigs = minHashSigs(spark, docs, shingleN, k).cache()
    try estimatePairs(spark, candidatesFromSigs(spark, sigs, k, bands, maxBucket), sigs, threshold)(local)
    finally { sigs.unpersist(); () }
  }

  // ------------------------------------------- persisted MinHash index --
  // The index-once/query-many contract the ANN families already have,
  // for TEXT dedup: the expensive pass (tokenize → shingle → 1 md5/shingle
  // → k Carter–Wegman permutations) runs once per document ever; daily
  // batches append their signatures and probe the corpus WITHOUT
  // rescanning or re-hashing it. Layout (an `IndexStore`, version-guarded
  // like the ANN indexes; shingle_n, k and bands in the commit state):
  //   minhash_sigs    (doc_id, sig ARRAY<LONG>[k]) — range-sorted on doc_id
  //   minhash_buckets (band, bucket, doc_id) — range-sorted on (band,
  //                   bucket), so point/range probes prune files via
  //                   parquet min-max

  /** One-time signature index build over a document corpus. */
  def buildMinHashIndex(
      spark: SparkSession,
      docs: DataFrame,
      path: String,
      shingleN: Int = 3,
      k: Int = 64,
      bands: Int = 16): Unit = {
    require(k % bands == 0, s"k ($k) must be a multiple of bands ($bands)")
    val sigs = minHashSigs(spark, docs, shingleN, k).cache()
    // sigs range-sorted on doc_id: the candidate-pruned estimate pushes an
    // id `isin` into this scan, and tight per-file min/max makes that a
    // row-group-pruned point read instead of a table scan
    try IndexStore.build(spark, path, "build_minhash",
        Map("shingle_n" -> shingleN.toLong, "k" -> k.toLong, "bands" -> bands.toLong)) { idx =>
      Map(Tables.MinHashSigs -> idx.writeClustered(sigs, Tables.MinHashSigs),
        Tables.MinHashBuckets -> idx.writeClustered(bandRows(spark, sigs, k, bands), Tables.MinHashBuckets))
    } finally { sigs.unpersist(); () }
  }

  /** (shingle_n, k, bands) of a built MinHash index. */
  private def minHashParams(idx: IndexStore): (Int, Int, Int) =
    (idx.param("shingle_n").toInt, idx.param("k").toInt, idx.param("bands").toInt)

  /** Incremental growth: sign a NEW disjoint batch with the index's own
    * parameters and commit its signatures + banding rows — the next open
    * sees the union (same contract as appendLshAssignments /
    * appendIvfAssignments, idempotent per `batchId`). */
  def appendMinHashSigs(spark: SparkSession, newDocs: DataFrame, path: String, batchId: Long): Unit =
    appendMinHash(IndexStore.open(spark, path), newDocs, batchId, Tables.AppendLedgerStage)

  /** The append of batch `batchId` of ledger `stage` on `idx`. */
  private[graft] def appendMinHash(idx: IndexStore, docs: DataFrame, batchId: Long, stage: String): Unit =
    idx.append(batchId, stage) {
      val (shingleN, k, bands) = minHashParams(idx)
      val sigs = minHashSigs(docs.sparkSession, docs, shingleN, k).cache()
      try Map(Tables.MinHashSigs -> idx.write(sigs, Tables.MinHashSigs),
        Tables.MinHashBuckets -> idx.write(bandRows(docs.sparkSession, sigs, k, bands), Tables.MinHashBuckets))
      finally { sigs.unpersist(); () }
    }

  /** Full-corpus near-dup pairs off the persisted index — identical output
    * to `minHashLsh` over the same corpus/parameters, but the signature
    * pass is a parquet read, not a recompute. A local frame, as there. */
  def minHashLshIndexed(
      spark: SparkSession,
      indexPath: String,
      threshold: Double = 0.5,
      maxBucket: Int = 100000): DataFrame = {
    val idx = IndexStore.open(spark, indexPath)
    val cands = pairsFromBandRows(spark, idx.read(Tables.MinHashBuckets), maxBucket)
    estimatePairs(spark, cands, idx.read(Tables.MinHashSigs), threshold)(local)
  }

  /** Dedup a NEW batch against the indexed corpus (and within itself) —
    * THE daily-pipeline operator: new signatures are computed once
    * (batch-sized work), the corpus contributes only its persisted
    * banding rows, prefiltered MAP-SIDE by a broadcast Bloom filter of
    * the batch's bucket keys before the shuffle. Correctness is exact:
    * Bloom false positives form buckets with no new member, dropped by
    * the `newTouchingPairs` member prune; false negatives don't exist.
    * Output = the pairs `minHashLsh` over the union corpus would report
    * that touch ≥ 1 new doc (same banding, same cap semantics, same
    * estimates). New doc_ids must be disjoint from the corpus (as with
    * the ANN appends). Runs at the call and returns a local frame (the
    * per-batch caches are released before it returns); a caller that
    * streams a large result consumes it inside `minHashDedupBatchManaged`. */
  def minHashDedupBatch(
      spark: SparkSession,
      indexPath: String,
      newDocs: DataFrame,
      threshold: Double = 0.5,
      maxBucket: Int = 100000): DataFrame =
    minHashDedupBatchManaged(spark, indexPath, newDocs, threshold, maxBucket)(local)

  /** `df`'s rows collected into a local frame, which outlives any cache
    * `df` was computed from. */
  private[graft] def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** The batch probe with deterministic cleanup: the per-batch caches
    * (batch signatures, banding rows, candidate pairs) are unpersisted after
    * `use` returns — the contract a continuous ingest (the streaming gate)
    * needs, where one evictable-but-live cache entry per micro-batch would
    * otherwise accumulate for the life of the query. The result must be
    * fully consumed inside `use` (it recomputes from scratch afterwards). */
  def minHashDedupBatchManaged[T](
      spark: SparkSession,
      indexPath: String,
      newDocs: DataFrame,
      threshold: Double = 0.5,
      maxBucket: Int = 100000)(use: DataFrame => T): T =
    minHashDedupBatchImpl(spark, IndexStore.open(spark, indexPath), newDocs, threshold, maxBucket)(use)

  /** The batch probe against one index version; its caches are released
    * once `use` returns. */
  private[graft] def minHashDedupBatchImpl[T](
      spark: SparkSession,
      idx: IndexStore,
      newDocs: DataFrame,
      threshold: Double,
      maxBucket: Int)(use: DataFrame => T): T = {
    import spark.implicits._
    val (shingleN, k, bands) = minHashParams(idx)
    val newSigs = minHashSigs(spark, newDocs, shingleN, k).cache()
    val newBands = bandRows(spark, newSigs, k, bands).cache()
    try {
      // Corpus-side prefilter on the batch's (band, bucket) keys, the
      // `exactPrefilterKeys` gate: at or below it (the daily-batch common
      // case) the DISTINCT key set is collected exactly and probed as a
      // broadcast hash set — ONE job (which also populates both caches) and
      // zero false positives. Above it the Bloom filter remains (a 10M-doc
      // batch must not collect 40M keys). Results are identical either way:
      // neither filter has false negatives, and false positives only admit
      // corpus rows whose buckets the `newTouchingPairs` member prune drops.
      val mightContainKey: org.apache.spark.sql.Column =
        probe(newBands.select($"band", $"bucket").distinct().as[(Int, Long)],
            gates.value.exactPrefilterKeys) match {
          case Some(keyArr) =>
            val bSet = spark.sparkContext.broadcast(keyArr.toSet)
            val f = udf((b: Int, h: Long) => bSet.value.contains((b, h)))
            f(col("band"), col("bucket"))
          case None =>
            val keyCol = xxhash64(col("band"), col("bucket"))
            val nKeys = newBands.count()
            val bf = newBands.select(keyCol.as("bk"))
              .stat.bloomFilter("bk", math.max(nKeys, 1L), 0.01)
            val bBf = spark.sparkContext.broadcast(bf)
            val mightContain = udf((x: Long) => bBf.value.mightContain(x))
            mightContain(keyCol)
        }
      // Replay robustness (round-4 ADVICE): corpus rows whose doc_id is in
      // the batch are the batch's OWN previously-appended copies (an
      // at-least-once replay after the append committed). Excluding them
      // keeps every doc single-counted — without this a bucket one duplicate
      // short of maxBucket could cross the cap on replay and silently drop,
      // yielding different survivors than the original run. On a first run
      // (disjoint ids, the documented contract) the anti-join removes
      // nothing, so results are bit-identical.
      val newIds = newSigs.select($"doc_id")
      val corpusBands = idx.read(Tables.MinHashBuckets)
        .filter(mightContainKey)
        .join(newIds, Seq("doc_id"), "left_anti")
      val members = newBands
        .select($"band", $"bucket", $"doc_id", lit(true).as("is_new"))
        .union(corpusBands.select($"band", $"bucket", $"doc_id", lit(false).as("is_new")))
      val cands = keyedPairs(spark, members, Seq("band", "bucket"), newTouchingPairs(maxBucket))
        .select($"a".as("doc_a"), $"b".as("doc_b"))
      // same replay rule for the estimate: the index copy of a replayed
      // batch doc would duplicate its signature row and multiply pair rows
      val allSigs = idx.read(Tables.MinHashSigs)
        .join(newIds, Seq("doc_id"), "left_anti")
        .union(newSigs.toDF("doc_id", "sig"))
      estimatePairs(spark, cands, allSigs, threshold)(use)
    } finally { newSigs.unpersist(); newBands.unpersist(); () }
  }

  /** SimHash: 64-bit weighted-bit fingerprint; near-dups differ in few
    * bits. Doc-local computation, dedup by fingerprint or bit-band. */
  def simHash64(text: String): Long = {
    val toks = graft.text.TextPipeline.tokenize(text).map(_.toLowerCase)
    if (toks.isEmpty) return 0L
    val acc = new Array[Int](64)
    // distinct-token counts via one HashMap pass (the round-5
    // `groupBy(identity)` allocated a Map of Lists per doc); per-bit
    // integer adds are commutative, so iteration order is irrelevant —
    // identical fingerprints
    val counts = new java.util.HashMap[String, Int](toks.length * 2)
    toks.foreach(t => counts.merge(t, 1, (a, b) => a + b))
    counts.forEach { (t, w) =>
      val h = shingleHash64(t, 0)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) acc(i) += w else acc(i) -= w
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (acc(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  def simHash(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (id, simHash64(t)) }
      .toDF("doc_id", "simhash")
      .orderBy($"doc_id")
  }

  /** SimHash near-dup PAIRS with GUARANTEED recall at any corpus size:
    * split the 64-bit fingerprint into `blocks` equal blocks and key each
    * doc on every combination of (blocks − maxBits) blocks (Manku, Jain &
    * Sarma, WWW'07 §3). A pair within hamming ≤ maxBits has ≤ maxBits
    * dirty blocks, so at least one combination is entirely clean on both
    * sides — recall is EXACTLY 1.0 (which is why the q26 contract row is
    * checkable against an all-pairs DuckDB oracle), with key width
    * 64·(blocks−maxBits)/blocks bits. blocks=4 (default) reproduces the
    * round-2 4×16-bit banding; at 10^10-doc scale use blocks=8 —
    * C(8,5)=56 keys of 40 bits: expected bucket occupancy n/2^40 ≈ 10
    * keeps `maxBucket` trimming only true pathological keys instead of
    * (as 16-bit buckets at that n would) silently skipping ALL of them.
    * One groupBy on (combo, key); in-bucket pairs; exact hamming verify. */
  def simHashNearDup(
      spark: SparkSession,
      docs: DataFrame,
      maxBits: Int = 3,
      blocks: Int = 4,
      maxBucket: Int = 100000): DataFrame = {
    import spark.implicits._
    val sh = docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (id, simHash64(t)) }
      .toDF("doc_id", "simhash")
    simHashNearDupBits(spark, sh, maxBits, blocks, maxBucket)
  }

  /** Core pair search over a (doc_id, simhash) frame — split out so scale
    * specs can plant synthetic fingerprints directly. */
  def simHashNearDupBits(
      spark: SparkSession,
      hashes: DataFrame,
      maxBits: Int = 3,
      blocks: Int = 4,
      maxBucket: Int = 100000): DataFrame = {
    import spark.implicits._
    keyedPairs(spark, simHashKeyed(spark, hashes, maxBits, blocks), Seq("combo", "key"),
        hammingPairs(maxBits, maxBucket))
      .toDF("doc_a", "doc_b", "hamming")
      .orderBy($"doc_a", $"doc_b")
  }

  /** `(combo, key, doc_id, simhash)`: one row per doc and block
    * combination, keyed on the combination's blocks. */
  private[ops] def simHashKeyed(
      spark: SparkSession, hashes: DataFrame, maxBits: Int, blocks: Int): DataFrame = {
    import spark.implicits._
    require(64 % blocks == 0, s"blocks ($blocks) must divide 64")
    require(maxBits < blocks,
      s"maxBits ($maxBits) must be < blocks ($blocks) for the pigeonhole guarantee")
    val width = 64 / blocks
    val mask = if (width == 64) -1L else (1L << width) - 1
    val combos: Array[Array[Int]] =
      (0 until blocks).combinations(blocks - maxBits).map(_.toArray).toArray
    hashes.select("doc_id", "simhash").as[(Long, Long)]
      .flatMap { case (id, h) =>
        combos.iterator.zipWithIndex.map { case (c, ci) =>
          var key = 0L
          var j = 0
          while (j < c.length) { key = (key << width) | ((h >>> (c(j) * width)) & mask); j += 1 }
          (ci, key, id, h)
        }
      }.toDF("combo", "key", "doc_id", "simhash")
  }

  /** Exact word-n-gram Jaccard for candidate pairs (the verify step after
    * any LSH/banding pass). */
  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size.toDouble

  /** Jaccard of SORTED distinct shingle arrays by a single merge walk
    * (|union| = |a|+|b|−|∩|, no per-pair set builds; two empty sets give
    * 1.0 like `jaccard`) — the pair kernel of both sides of
    * `ngramJaccardBrute`. */
  private def sortedJaccard(a: Array[String], b: Array[String]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union.toDouble
  }

  private def normedVectors(embeddings: DataFrame): Dataset[(Long, Cosine.Normed)] = {
    import embeddings.sparkSession.implicits._
    embeddings.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .map { case (id, v) => (id, Cosine.of(v)) }
  }

  /** Every pair a < b of `feats` whose `score` is ≥ `threshold`, as
    * columns `names` = (a, b, score) ordered by (a, b) — the O(n²) kernel
    * of the brute-force ops, for bounded inputs only. At or below the
    * `bruteRows` gate the features are collected once and BROADCAST and
    * the pair loop runs over `spark.range(n)` with only the verdict rows
    * materialized; above it a self-join ships both features per pair (the
    * gate keeps the driver safe if an op is misused). Both sides call the
    * same `score` and the same filter. */
  private def allPairsAtLeast[F: TypeTag](
      feats: Dataset[(Long, F)],
      score: (F, F) => Double,
      threshold: Double,
      names: Seq[String]): DataFrame = {
    val spark = feats.sparkSession
    import spark.implicits._
    val pairs = probe(feats, gates.value.bruteRows) match {
      case Some(head) =>
        // sort by id so position pairs (i, j>i) with distinct ids reproduce
        // exactly the join's a < b pair set (duplicate ids pair each copy
        // with every strictly-larger id, as the strict join does)
        val bc = spark.sparkContext.broadcast(head.sortBy(_._1))
        spark.range(head.length).as[Long].flatMap { i0 =>
          val arr = bc.value
          val i = i0.toInt
          val (a, fa) = arr(i)
          (i + 1 until arr.length).iterator.flatMap { j =>
            val (b, fb) = arr(j)
            if (a == b) Iterator.empty else Iterator.single((a, b, score(fa, fb)))
          }.filter(_._3 >= threshold)
        }
      case None =>
        feats.toDF("a", "fa").join(feats.toDF("b", "fb"), $"a" < $"b")
          .as[(Long, F, Long, F)]
          .map { case (a, fa, b, fb) => (a, b, score(fa, fb)) }
          .filter(_._3 >= threshold)
    }
    pairs.toDF(names: _*).orderBy(col(names(0)), col(names(1)))
  }

  /** Exact ALL-PAIRS n-gram Jaccard — the contract/oracle-scale ground
    * truth (O(n²) pairs: use only on bounded inputs; the 100 TB path is
    * ngramJaccardPairs, which prunes candidates with MinHash LSH first).
    * Shingle arrays are sorted once per doc; each pair is one merge walk,
    * so the inner loop allocates nothing. */
  def ngramJaccardBrute(
      spark: SparkSession,
      docs: DataFrame,
      shingleN: Int = 3,
      threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    val sh = docs.select("doc_id", "text").as[(Long, String)]
      .map { case (id, t) => (id, shingles(t, shingleN).toArray.sorted) }
    allPairsAtLeast(sh, sortedJaccard, threshold, Seq("doc_a", "doc_b", "jaccard"))
  }

  /** N-gram-Jaccard near-dup pairs, bucketed by fingerprint-prefix to keep
    * the self-join bounded (the exact verify over LSH candidates). */
  def ngramJaccardPairs(
      spark: SparkSession,
      docs: DataFrame,
      shingleN: Int = 3,
      threshold: Double = 0.4): DataFrame = {
    import spark.implicits._
    // all bucket-sharing candidates (no estimate needed — the exact
    // jaccard below is the filter), so the signature join is skipped
    val lsh = minHashLshCandidates(spark, docs, shingleN)
    val texts = docs.select("doc_id", "text")
    val withA = lsh.join(texts.withColumnRenamed("doc_id", "doc_a")
      .withColumnRenamed("text", "text_a"), Seq("doc_a"))
    val withB = withA.join(texts.withColumnRenamed("doc_id", "doc_b")
      .withColumnRenamed("text", "text_b"), Seq("doc_b"))
    withB.select($"doc_a", $"doc_b", $"text_a", $"text_b")
      .as[(Long, Long, String, String)]
      .map { case (a, b, ta, tb) =>
        (a, b, jaccard(shingles(ta, shingleN), shingles(tb, shingleN)))
      }
      .toDF("doc_a", "doc_b", "jaccard")
      .filter($"jaccard" >= threshold)
      .orderBy($"doc_a", $"doc_b")
  }

  /** Exact ALL-PAIRS embedding-cosine near-dup — contract/oracle-scale
    * ground truth (O(n²) pairs; bounded inputs only — at corpus scale use
    * embeddingNearDup's hyperplane buckets). Norms once per vector, then
    * `Cosine` per pair on either side of the `bruteRows` gate. */
  def embeddingNearDupExact(embeddings: DataFrame, threshold: Double): DataFrame =
    allPairsAtLeast(normedVectors(embeddings), Cosine.apply, threshold,
      Seq("vec_a", "vec_b", "cosine"))

  /** Connected components over near-dup pairs — the keeper-selection step
    * of a dedup pipeline (near-dup is transitive only through clustering;
    * keeping min-id per PAIR over-deletes). The symmetric edge list is
    * checkpointed once; at or below the `driverEdgeRows` gate a driver
    * union-find clusters it (`clustersOnDriver`), above it the distributed
    * Pregel loop does (`clustersByPregel`). The two sides fail differently:
    * union-find returns the exact fixpoint for any component diameter,
    * the loop throws "did not converge" once a diameter exceeds `maxIter`.
    * Any result either side returns is the same.
    *
    * @return (doc_id, cluster_id = min doc_id in the component, keep) for
    *         every node in `nodes`; singletons cluster to themselves. */
  def dedupClusters(
      spark: SparkSession,
      pairs: DataFrame, // (doc_a, doc_b) near-dup pairs
      nodes: DataFrame, // (doc_id) universe
      maxIter: Int = 30): DataFrame =
    dedupClustersImpl(spark, pairs, nodes, maxIter)._1

  /** Unpersist the RDD a `Dataset.localCheckpoint` materialized.
    * `Dataset.unpersist` only clears CacheManager entries, but
    * localCheckpoint persists its RDD directly — without this, every
    * checkpoint lives until a GC lets the ContextCleaner collect it
    * (unbounded growth between GCs in a long-lived session; OpsSpec's
    * no-growth test pins the fix). The checkpointed frame's analyzed plan
    * IS a LogicalRDD, so the match is exact; any other shape falls back
    * to the CacheManager path. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => df.unpersist(false); ()
    }

  /** The clusters and the release of what backs them: the final Pregel
    * checkpoint above the gate, nothing below it. Callers release through
    * the returned function, never by unpersisting a frame themselves. */
  private[ops] def dedupClustersImpl(
      spark: SparkSession,
      pairs: DataFrame,
      nodes: DataFrame,
      maxIter: Int): (DataFrame, () => Unit) = {
    import spark.implicits._
    val shuffleN = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // The edge list is hash-partitioned+sorted on dst ONCE (explicit
    // numPartitions — AQE would coalesce a bare repartition; CLAUDE.md):
    // LogicalRDD keeps partitioning/ordering metadata through the
    // checkpoint, so every Pregel join reuses this exchange and only the
    // (changing) labels side reshuffles.
    val sym = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .repartition(shuffleN, $"dst")
      .sortWithinPartitions($"dst")
      .localCheckpoint(true)
    // the checkpoint is materialized, so one task reads its partitions in
    // turn: a plain limit-collect would scale up over several jobs
    probe(sym.coalesce(1).as[(Long, Long)], gates.value.driverEdgeRows) match {
      case Some(edges) =>
        releaseCheckpoint(sym)
        (clustersOnDriver(spark, edges, nodes), () => ())
      case None =>
        try {
          val labels = clustersByPregel(spark, sym, nodes, maxIter)
          (labels.select($"id".as("doc_id"), $"label".as("cluster_id"),
            ($"id" === $"label").as("keep")).orderBy($"doc_id"),
            () => releaseCheckpoint(labels))
        } finally releaseCheckpoint(sym)
    }
  }

  /** Driver side of the clustering gate: min-id union-find over the
    * collected edges (16 bytes/row — ≤ ~3 MB), then one broadcast join.
    * Near-dup EDGES are ≪ corpus by construction, so this is the common
    * case even when the node universe is 10^10 docs — and the node side
    * NEVER leaves the cluster (only edge-endpoint ids are collected).
    * Semantics are EXACTLY the induced-subgraph CC the loop computes: the
    * loop only ever propagates labels of dst ids that are in `nodes`, so
    * edges touching out-of-universe ids are inert — reproduced here by
    * keeping only edges whose endpoints survive the nodes semi-join. */
  private def clustersOnDriver(
      spark: SparkSession, edges: Array[(Long, Long)], nodes: DataFrame): DataFrame = {
    import spark.implicits._
    // which edge endpoints are actually in the node universe: one
    // broadcast semi-join over nodes, collecting ≤ 2·edges ids
    val endpointIds = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toArray.distinct
    val present: java.util.HashSet[java.lang.Long] = {
      val epDf = spark.createDataset(endpointIds.toIndexedSeq).toDF("doc_id")
      val s = new java.util.HashSet[java.lang.Long](endpointIds.length * 2)
      nodes.select($"doc_id")
        .join(broadcast(epDf), Seq("doc_id"), "left_semi")
        .as[Long].collect().foreach(id => s.add(id))
      s
    }
    val parent = new java.util.HashMap[Long, Long](endpointIds.length * 2)
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.getOrDefault(r, r)
      var c = x
      while (parent.getOrDefault(c, c) != r) {
        val nxt = parent.getOrDefault(c, c); parent.put(c, r); c = nxt
      }
      r
    }
    edges.foreach { case (a, b) =>
      if (present.contains(a) && present.contains(b)) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
    }
    val lbl = endpointIds.iterator
      .filter(present.contains(_))
      .map(id => (id, find(id)))
      .filter { case (id, r) => id != r } // self-labels are the coalesce default
      .toSeq
    val lblDf = spark.createDataset(lbl).toDF("id", "clab")
    nodes.select($"doc_id".as("id"))
      .join(broadcast(lblDf), Seq("id"), "left")
      .select($"id".as("doc_id"),
        coalesce($"clab", $"id").as("cluster_id"),
        ($"id" === coalesce($"clab", $"id")).as("keep"))
      .orderBy($"doc_id")
  }

  /** Executor side of the clustering gate: Pregel-style min-label
    * propagation over the edge checkpoint, one distributed join+aggregate
    * per iteration, ≤ component-diameter iterations (near-dup clusters are
    * shallow; `maxIter` guards pathological chains). The driver holds only
    * a change COUNTER per iteration — never rows. Returns the final
    * `(id, label)` checkpoint, which the caller releases. */
  private def clustersByPregel(
      spark: SparkSession, sym: DataFrame, nodes: DataFrame, maxIter: Int): DataFrame = {
    import spark.implicits._
    // localCheckpoint (not cache) each iteration: iterative self-joins grow
    // the logical plan linearly and the optimizer cost superlinearly —
    // truncating lineage per step is the standard iterative-algorithm
    // pattern (on a real cluster use reliable checkpointing for fault
    // tolerance; localCheckpoint trades that for speed)
    var labels = nodes.select($"doc_id".as("id"), $"doc_id".as("label"))
      .localCheckpoint(true)
    var changed = 1L
    var it = 0
    while (changed > 0 && it < maxIter) {
      val nbr = sym.join(labels, sym("dst") === labels("id"))
        .groupBy($"src").agg(min($"label").as("nlabel"))
      // ONE job per iteration: the change count rides the eager-checkpoint
      // materialization as an accumulator instead of a second join+count
      // (the round-2 shape). A retried task can only overcount — which at
      // worst costs one extra (no-op) iteration, never a wrong result.
      val acc = spark.sparkContext.longAccumulator(s"cc_changed_$it")
      val next = labels.as("l").join(nbr, $"l.id" === nbr("src"), "left")
        .select($"l.id".as("id"), $"l.label".as("old"),
          least($"l.label", coalesce($"nlabel", $"l.label")).as("label"))
        .as[(Long, Long, Long)]
        .map { case (id, old, lab) => if (lab != old) acc.add(1L); (id, lab) }
        .toDF("id", "label")
        .localCheckpoint(true)
      changed = acc.value
      releaseCheckpoint(labels)
      labels = next
      it += 1
    }
    if (changed != 0) releaseCheckpoint(labels)
    require(changed == 0, s"dedupClusters did not converge in $maxIter iterations")
    labels
  }

  /** The last dedup step: keep ONE document per near-dup cluster (the
    * min-id keeper `dedupClusters` elected), dropping the other n−1;
    * the output row carries the cluster size so downstream pipelines can
    * weight or audit the survivors. Joins are keeper-sized (≤ one row per
    * cluster) against the docs universe. */
  def applyKeepers(spark: SparkSession, docs: DataFrame, clusters: DataFrame): DataFrame = {
    import spark.implicits._
    val sizes = clusters.groupBy($"cluster_id").agg(count(lit(1)).as("n_members"))
    docs.select($"doc_id")
      .join(clusters.filter($"keep").select($"doc_id", $"cluster_id"), Seq("doc_id"))
      .join(sizes, Seq("cluster_id"))
      .select($"doc_id", $"cluster_id", $"n_members")
  }

  /** dedupClusters with deterministic cleanup: runs `use` on the result and
    * releases the final checkpoint afterwards (the result must be fully
    * consumed inside `use` — it is not recomputable once released). */
  def dedupClustersManaged[T](
      spark: SparkSession,
      pairs: DataFrame,
      nodes: DataFrame,
      maxIter: Int = 30)(use: DataFrame => T): T = {
    val (out, release) = dedupClustersImpl(spark, pairs, nodes, maxIter)
    try use(out) finally release()
  }

  /** Embedding-cosine near-dup pairs over an LSH-style bucket (random
    * hyperplane signs, seeded) — the scale path for embedding dedup.
    * Bucket rows carry only (vec_id, bucket) — 16 bytes, NOT the vector —
    * pairs are emitted inside buckets (skew-capped), and embeddings join
    * back once per side for the exact cosine verify (AQE broadcasts the
    * small pair side). Single-probe buckets are disjoint, so pairs are
    * already unique. The two head() / count() calls are per-query
    * constants (dims, corpus size), not per-row actions. */
  def embeddingNearDup(
      spark: SparkSession,
      embeddings: DataFrame,
      planesOpt: Option[Int] = None,
      threshold: Double = 0.95,
      seed: Long = 7L,
      maxBucket: Int = 100000): DataFrame = {
    import spark.implicits._
    // dims + corpus size in ONE job (round 5 ran head() then count());
    // the dim of the first-encountered row equals head()'s on any
    // fixed-dim embedding table
    val (dims, nVecs) = embeddings
      .agg(first(size(col("embedding"))), count(lit(1))).as[(Int, Long)].head()
    val planes = planesOpt.getOrElse(Similarity.adaptivePlanes(nVecs))
    // deterministic ±1 hyperplanes (DetHash.signPlanes): engine-reproducible,
    // so the q24 DuckDB oracle recomputes the identical buckets
    val hyper = DetHash.signPlanes(planes, dims, seed)
    val bHyper = spark.sparkContext.broadcast(hyper)
    val bucketed = embeddings.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .map { case (id, v) => (id, Similarity.hyperplaneSig(v, bHyper.value)) }
      .toDF("vec_id", "bucket")
    pairsFromBuckets(spark, bucketed, embeddings, threshold, maxBucket)
  }

  /** embeddingNearDup over a PERSISTED LSH index (Similarity.buildLshIndex):
    * the bucket assignment pass is skipped entirely — buckets AND vectors
    * come off the index table, so repeated dedup sweeps (or dedup after
    * ANN indexing) pay zero re-assignment. Identical output to
    * embeddingNearDup when the index was built with the same planes/seed. */
  def embeddingNearDupIndexed(
      spark: SparkSession,
      indexPath: String,
      threshold: Double = 0.95,
      maxBucket: Int = 100000): DataFrame = {
    val assignments = IndexStore.open(spark, indexPath).read(Tables.LshAssignments)
    pairsFromBuckets(spark, assignments.select("vec_id", "bucket"),
      assignments.select("vec_id", "embedding"), threshold, maxBucket)
  }

  /** Shared tail: 16-byte (vec_id, bucket) rows → in-bucket pairs (skew-
    * capped) → exact-cosine verify with norms precomputed once per side. */
  private def pairsFromBuckets(
      spark: SparkSession,
      bucketed: DataFrame, // (vec_id, bucket)
      embeddings: DataFrame, // (vec_id, embedding)
      threshold: Double,
      maxBucket: Int): DataFrame = {
    import spark.implicits._
    // one bucket key per vector: a pair cannot repeat, so no dedup shuffle
    val cands = keyedPairs(spark, bucketed.select($"bucket", $"vec_id", lit(true)),
        Seq("bucket"), everyPair(maxBucket, dedup = false))
      .select($"a".as("vec_a"), $"b".as("vec_b"))
    // one typed pass per side: the vectors are cast and normed once,
    // then `Cosine` per candidate pair
    val withNorm = normedVectors(embeddings)
    cands
      .join(withNorm.toDF("vec_a", "nv_a"), Seq("vec_a"))
      .join(withNorm.toDF("vec_b", "nv_b"), Seq("vec_b"))
      .select($"vec_a", $"vec_b", $"nv_a", $"nv_b")
      .as[(Long, Long, Cosine.Normed, Cosine.Normed)]
      .map { case (a, b, va, vb) => (a, b, Cosine(va, vb)) }
      .toDF("vec_a", "vec_b", "cosine")
      .filter($"cosine" >= threshold)
      .orderBy($"vec_a", $"vec_b")
  }
}
