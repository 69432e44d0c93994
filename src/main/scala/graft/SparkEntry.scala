package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.api.SparkSearchEngine
import graft.build.IndexBuilder
import graft.corpus.TranscriptGen
import graft.ops.{Dedup, DetHash, IndexStore, Multimodal, Pipeline, Similarity, StampedCache, TextOps}
import graft.store.ParquetTableIO

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data ops), with DuckDB-equivalent SQL in
  * `oracleSql` wherever the op is SQL-expressible. Engine-specific ops
  * (BM25 index, MinHash/SimHash, LSH ANN, media stubs) omit the SQL —
  * their correctness gate is the oracle golden suite in `sbt -batch test`.
  */
object SparkEntry {

  private def t(dir: String, name: String) = s"$dir/$name.parquet"

  /** `df`'s rows collected into a local frame, which outlives any cache
    * `df` was computed from. */
  private def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  // ---- transcript index, built once per (JVM, sfDir) --------------------
  private val engines = scala.collection.mutable.Map.empty[String, SparkSearchEngine]
  private def sfOf(dir: String): Double =
    "sf([0-9.]+)".r.findFirstMatchIn(dir).map(_.group(1).toDouble).getOrElse(0.001)

  private def corpusConvs(dir: String): Long = math.max(200L, (sfOf(dir) * 20000).toLong)

  /** The deterministic transcript corpus the engine indexes for `dir` —
    * Verify dumps it so the DuckDB BM25 oracles (q19/q20) can see it. */
  def corpus(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[graft.model.Turn] =
    TranscriptGen.generate(spark, corpusConvs(dir))

  def transcriptEngine(spark: SparkSession, dir: String): SparkSearchEngine =
    engines.getOrElseUpdate(dir, {
      val convs = corpusConvs(dir)
      val wh = s"/tmp/graft_entry_wh_fmt${graft.build.Tables.FormatVersion}" +
        s"_gen${TranscriptGen.Version}/convs_$convs"
      val io = new ParquetTableIO(spark, wh)
      val turns = TranscriptGen.generate(spark, convs)
      new IndexBuilder(spark, io).build(turns, resume = true, assumeSorted = true)
      new SparkSearchEngine(spark, io)
    })

  /** Flagship: BM25 search over the transcript corpus. */
  def entry(spark: SparkSession): DataFrame =
    transcriptEngine(spark, "/root/testdata/sf0.001")
      .searchFrame("\"blue whale\" OR \"query engine\"")

  // ---- ANN indexes, built once per (JVM lifetime isn't needed — /tmp
  // persists) sf dir; gated on the index log's build commit, the one step
  // that makes a build visible — an interrupted build looks absent
  // (rebuild), never valid-but-refused (round-3 ADVICE) -------------------
  private def dirKey(dir: String) = dir.replaceAll("[^A-Za-z0-9.]", "_")

  /** The ANN queries' input vectors (ids 0 and 1) — memoized per (dir, id)
    * against the embeddings table's file listing and prefetched by `warm`,
    * so the seven probe queries measure probe latency instead of
    * re-reading the same two parameter rows from parquet each time (the
    * same one-off-artifact rationale as the warmed engines and indexes;
    * results are unaffected — this is the query INPUT, not a computed
    * output, and a regenerated table re-reads it). */
  private val queryEmbCache = new StampedCache[(String, Long), Seq[Float]]
  private def queryEmbedding(s: SparkSession, dir: String, id: Long): Seq[Float] =
    queryEmbCache((dir, id), StampedCache.dirStamp(s, t(dir, "embeddings"))) {
      import s.implicits._
      s.read.parquet(t(dir, "embeddings")).filter(col("vec_id") === id)
        .select("embedding").as[Seq[Float]].head()
    }

  private def lshIndex(s: SparkSession, dir: String): String = {
    val p = s"/tmp/graft_ann_v${Similarity.IndexVersion}/lsh_${dirKey(dir)}"
    if (!IndexStore.exists(s, p))
      Similarity.buildLshIndex(s, s.read.parquet(t(dir, "embeddings")), p)
    p
  }

  /** Warm the per-sfDir one-time artifacts (transcript index, ANN indexes)
    * so Bench measures query latency, not one-off builds. */
  def warm(s: SparkSession, dir: String): Unit = {
    transcriptEngine(s, dir).stats
    deletedEngine(s, dir, compacted = false).stats
    deletedEngine(s, dir, compacted = true).stats
    lshIndex(s, dir)
    ivfIndex(s, dir)
    pqIndex(s, dir)
    ivfPqIndex(s, dir)
    minhashIndex(s, dir)
    minhashGateIndex(s, dir)
    queryEmbedding(s, dir, 0L)
    queryEmbedding(s, dir, 1L)
    // session warmup: the first timed query otherwise pays one-time
    // SESSION costs that belong to no query — noop-sink datasource
    // registration, the codegen compiler's first compile, aggregate
    // codepath JIT. One trivial aggregation through the same sink pays
    // them here, untimed (nothing query-specific is computed or cached).
    s.range(2).groupBy().sum("id")
      .write.format("noop").mode("overwrite").save()
    ()
  }

  private def pqIndex(s: SparkSession, dir: String): String = {
    val p = s"/tmp/graft_ann_v${Similarity.IndexVersion}/pq8x16_${dirKey(dir)}"
    if (!IndexStore.exists(s, p))
      Similarity.buildPqIndex(s, s.read.parquet(t(dir, "embeddings")), p, m = 8, nCodes = 16)
    p
  }

  private def ivfPqIndex(s: SparkSession, dir: String): String = {
    val p = s"/tmp/graft_ann_v${Similarity.IndexVersion}/ivfpq16_8x16_${dirKey(dir)}"
    if (!IndexStore.exists(s, p))
      Similarity.buildIvfPqIndex(s, s.read.parquet(t(dir, "embeddings")), p,
        nCells = 16, m = 8, nCodes = 16)
    p
  }

  private def ivfIndex(s: SparkSession, dir: String): String = {
    val p = s"/tmp/graft_ann_v${Similarity.IndexVersion}/ivf16_${dirKey(dir)}"
    if (!IndexStore.exists(s, p))
      Similarity.buildIvfIndex(s, s.read.parquet(t(dir, "embeddings")), p, nCells = 16)
    p
  }

  /** q38's "yesterday's corpus": everything below this doc_id is indexed
    * once; the rest is the probing batch (the oracle SQL hard-codes it). */
  private val MinHashSplit = 375L

  private def minhashIndex(s: SparkSession, dir: String): String = {
    val p = s"/tmp/graft_ann_v${Similarity.IndexVersion}/minhash_s${MinHashSplit}_${dirKey(dir)}"
    if (!IndexStore.exists(s, p))
      Dedup.buildMinHashIndex(s,
        s.read.parquet(t(dir, "documents")).filter(col("doc_id") < MinHashSplit), p)
    p
  }

  /** q41's own index copy: the streaming gate APPENDS survivors'
    * signatures, so it must not share q38's pristine index. The first
    * call commits batch 0's append with its ledger row; every rerun is a
    * replay computing identical survivors (the gate's idempotency
    * contract, exercised by the contract row itself). */
  private def minhashGateIndex(s: SparkSession, dir: String): String = {
    val p = s"/tmp/graft_ann_v${Similarity.IndexVersion}/minhash_gate_s${MinHashSplit}_${dirKey(dir)}"
    if (!IndexStore.exists(s, p))
      Dedup.buildMinHashIndex(s,
        s.read.parquet(t(dir, "documents")).filter(col("doc_id") < MinHashSplit), p)
    p
  }

  /** q44/q45: every docId ≡ DeleteRem (mod DeleteMod) is tombstoned out of
    * the index (IndexBuilder.deleteDocs). q44 queries THROUGH the
    * tombstones (anti-join + WAND skip set + df deltas); q45 queries after
    * compact() physically purged them. Both must equal a from-scratch
    * build on the surviving corpus — the oracle recomputes stats/df over
    * the survivors (docIds keep their pre-delete values: tombstoning never
    * renumbers). The oracle SQL hard-codes the modulus below. */
  private val DeleteMod = 7L
  private val DeleteRem = 3L
  private val delEngines = scala.collection.mutable.Map.empty[String, SparkSearchEngine]
  private def deletedEngine(s: SparkSession, dir: String, compacted: Boolean): SparkSearchEngine =
    delEngines.getOrElseUpdate(s"$dir#$compacted", {
      val convs = corpusConvs(dir)
      val variant = if (compacted) "delc" else "del"
      val wh = s"/tmp/graft_entry_wh_fmt${graft.build.Tables.FormatVersion}" +
        s"_gen${TranscriptGen.Version}/${variant}_m${DeleteMod}r${DeleteRem}_convs_$convs"
      val io = new ParquetTableIO(s, wh)
      val done = new java.io.File(s"$wh/delete_setup_done")
      if (!done.exists()) {
        import s.implicits._
        val b = new IndexBuilder(s, io)
        b.build(TranscriptGen.generate(s, convs), resume = true, assumeSorted = true)
        // deleteDocs is batch-ledgered, compact is idempotent — a crash
        // anywhere in this block is repaired by simply rerunning it
        val ids = io.read(graft.build.Tables.DocDict).select(col("docId"))
          .filter(pmod(col("docId"), lit(DeleteMod)) === lit(DeleteRem)).as[Long]
        b.deleteDocs(ids, batchId = 0L)
        if (compacted) b.compact()
        done.createNewFile()
      }
      new SparkSearchEngine(s, io)
    })

  /** Contract projection of searchFrame: scores as round(s·1e9) so the
    * DuckDB oracle compare is ulp-robust (see q19/q20 notes). */
  private def scoreE9(df: DataFrame): DataFrame =
    df.select(col("docId"), col("conv_id"), col("turn_idx"),
      round(col("score") * 1e9).cast("long").as("score_e9"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (scan/filter/agg/join/window/topk) ------------
    "q01_pricing_summary" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      li.filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(round(col("l_quantity") * 100).cast("long")).as("sum_qty_c"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_price_c"),
          sum(round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_e4"),
          count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),
    "q02_revenue_by_nation" -> ((s, dir) => {
      val li = s.read.parquet(t(dir, "lineitem"))
      val o = s.read.parquet(t(dir, "orders"))
      val c = s.read.parquet(t(dir, "customer"))
      val n = s.read.parquet(t(dir, "nation"))
      // nation/customer are small: broadcast them; lineitem⋈orders shuffles
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(round(col("l_extendedprice") * 100).cast("long") *
            (lit(100L) - round(col("l_discount") * 100).cast("long"))).as("revenue_e4"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))
    }),
    "q03_topk_orders" -> ((s, dir) =>
      s.read.parquet(t(dir, "orders"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)),
    "q04_latest_order_per_customer" -> ((s, dir) => {
      val o = s.read.parquet(t(dir, "orders"))
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
      o.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
        .orderBy(col("o_custkey"))
    }),
    "q05_event_buckets" -> ((s, dir) =>
      s.read.parquet(t(dir, "events"))
        .groupBy(window(col("ts"), "5 minutes").getField("start").as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 1000000).cast("long")).as("value_e6"))
        .orderBy(col("bucket"), col("event_type"))),

    // ---- training-data ops: dedup -----------------------------------
    "q06_dedup_exact" -> ((s, dir) => Dedup.exact(s.read.parquet(t(dir, "documents")))),
    "q07_minhash_neardup" -> ((s, dir) =>
      Dedup.minHashLsh(s, s.read.parquet(t(dir, "documents")).limit(2000))),
    "q08_simhash" -> ((s, dir) => Dedup.simHash(s, s.read.parquet(t(dir, "documents")))),
    // exact all-pairs ground truth, bounded to the first 500 ids (a no-op
    // at the sf0.01 correctness gate; all-pairs over the full table is
    // quadratic by definition — the LSH scale paths are q07/q24/q25)
    "q09_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardBrute(s,
        s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 500))),
    "q10_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupExact(
        s.read.parquet(t(dir, "embeddings")).filter(col("vec_id") < 500), threshold = 0.3)),
    "q24_embedding_neardup_lsh" -> ((s, dir) =>
      Dedup.embeddingNearDup(s, s.read.parquet(t(dir, "embeddings")), threshold = 0.3)),
    "q25_ngram_jaccard_lsh" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(s, s.read.parquet(t(dir, "documents")).limit(2000))),
    // banded pair search with GUARANTEED recall 1.0 (pigeonhole: maxBits <
    // bands), so the bucketed plan is checkable against all-pairs SQL
    "q26_simhash_neardup" -> ((s, dir) =>
      Dedup.simHashNearDup(s, s.read.parquet(t(dir, "documents")))),
    // dedup keeper selection: distributed connected components over the
    // (exact, q26) near-dup pairs — oracle is a recursive CTE
    "q28_dedup_clusters" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.dedupClusters(s, Dedup.simHashNearDup(s, docs), docs)
    }),
    // the last dedup step: the deduplicated corpus — one keeper per
    // cluster with its cluster size
    "q36_dedup_apply" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      Dedup.applyKeepers(s, docs,
        Dedup.dedupClusters(s, Dedup.simHashNearDup(s, docs), docs))
    }),

    // persisted MinHash signature index: corpus = doc_id < 375 signed ONCE
    // (index cached in /tmp like the ANN families); the probe signs only
    // the new batch and Bloom-prefilters the corpus banding rows map-side —
    // the daily dedup-new-crawl-vs-corpus operator
    // (both run managed: the per-batch caches are released once the
    // result is collected into a local frame)
    "q38_minhash_index_dedup" -> ((s, dir) =>
      Dedup.minHashDedupBatchManaged(s, minhashIndex(s, dir),
        s.read.parquet(t(dir, "documents")).filter(col("doc_id") >= MinHashSplit))(local)),
    // the streaming dedup gate's batch step: survivors of the new batch
    // after dedup against the indexed corpus and itself (keep-lowest-id);
    // reruns hit the replay path — same survivors, no re-append
    "q41_stream_dedup_gate" -> ((s, dir) =>
      graft.streaming.StreamingDedup.dedupBatchManaged(s, minhashGateIndex(s, dir),
          s.read.parquet(t(dir, "documents")).filter(col("doc_id") >= MinHashSplit),
          batchId = 0L)(survivors => local(survivors.select(col("doc_id")).orderBy(col("doc_id"))))),

    // ---- text analysis ------------------------------------------------
    "q11_token_counts" -> ((s, dir) => TextOps.tokenCounts(s.read.parquet(t(dir, "documents")))),
    "q12_quality" -> ((s, dir) => TextOps.qualityScore(s.read.parquet(t(dir, "documents")))),
    "q13_lang_id" -> ((s, dir) => TextOps.langId(s.read.parquet(t(dir, "documents")))),
    "q14_fingerprint" -> ((s, dir) => TextOps.fingerprint(s.read.parquet(t(dir, "documents")))),
    // deterministic split/shard: the pipeline's hand-off step — stable
    // under reruns/subsets/appends (salt-keyed md5 of the doc id alone)
    "q37_split_shard" -> ((s, dir) => TextOps.splitAssign(s.read.parquet(t(dir, "documents")))),
    // the composed pipeline: quality → langId → simhash dedup keepers →
    // split/shard in ONE plan — pins the column contracts BETWEEN the
    // individually-oracled stages
    "q39_training_pipeline" -> ((s, dir) =>
      Pipeline.trainingCorpus(s, s.read.parquet(t(dir, "documents")))),
    // benchmark decontamination: docs (mod 50 == 7) stand in for the
    // held-out eval set; every other doc sharing a token n-gram with it is
    // flagged. n=4 on this small-vocab synthetic corpus (the API default is
    // the published 8); bench grams broadcast, corpus side one linear pass
    "q46_contamination" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      TextOps.contamination(
        docs.filter(col("doc_id") % 50 =!= 7),
        docs.filter(col("doc_id") % 50 === 7), n = 4)
    }),
    // Gopher-style repetition signals + keep/drop verdict, all in-row
    "q47_repetition" -> ((s, dir) =>
      TextOps.repetitionFilter(s.read.parquet(t(dir, "documents")))),
    // repeated-substring duplication: per-doc fraction of 10-token windows
    // whose fingerprint occurs more than once corpus-wide (the positional
    // dedup axis — boilerplate/quoted spans — whole-doc hashes can't see)
    "q48_substring_dup" -> ((s, dir) =>
      Dedup.substringDup(s.read.parquet(t(dir, "documents")))),
    // the FULL hygiene pipeline: quality → langId → repetition →
    // decontamination → simhash dedup keepers → split, one plan (q39 plus
    // the round-5 filters) — the integration contract across all of them
    "q49_hygiene_pipeline" -> ((s, dir) => {
      val docs = s.read.parquet(t(dir, "documents"))
      Pipeline.hygieneCorpus(s,
        docs.filter(col("doc_id") % 50 =!= 7),
        docs.filter(col("doc_id") % 50 === 7))
    }),

    // ---- similarity search -------------------------------------------
    "q15_ann_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(s.read.parquet(t(dir, "embeddings")), queryId = 0L, k = 20)),
    // q16/q27 go through the PERSISTED index (built once per sf dir,
    // cached in /tmp): the probe is a partition-pruned read, never a
    // corpus scan — the index-once/query-many shape of the 100 TB brief
    "q16_ann_lsh_topk" -> ((s, dir) =>
      Similarity.lshTopKIndexed(s, lshIndex(s, dir), queryEmbedding(s, dir, 0L),
        queryId = 0L, k = 20)),
    "q27_ann_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopKIndexed(s, ivfIndex(s, dir), queryEmbedding(s, dir, 0L),
        queryId = 0L, k = 20)),
    // PQ: the ADC top-100 shortlist is computed from the persisted codes
    // table alone (m bytes/vector, 32× smaller than fp32), then re-ranked
    // with exact cosine — the compressed-index shape 100 TB of embeddings
    // requires (raw vectors touched only for the 100-row re-rank)
    "q32_ann_pq_topk" -> ((s, dir) =>
      Similarity.pqTopKIndexed(s, pqIndex(s, dir), s.read.parquet(t(dir, "embeddings")),
        queryEmbedding(s, dir, 0L), queryId = 0L, k = 20)),
    // IVF-PQ: the two prunings composed — the ADC scan reads ONLY the
    // nProbe probed cell PARTITIONS of the m-byte codes table
    "q33_ann_ivfpq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopKIndexed(s, ivfPqIndex(s, dir), s.read.parquet(t(dir, "embeddings")),
        queryEmbedding(s, dir, 0L), queryId = 0L, k = 20)),
    // bulk ANN: M query vectors share ONE ADC scan of the codes table
    // (per-partition per-query heaps, the WAND-multi shape), then one
    // exact re-rank read for all shortlists
    "q35_ann_pq_bulk" -> ((s, dir) =>
      Similarity.pqTopKManyIndexed(s, pqIndex(s, dir), s.read.parquet(t(dir, "embeddings")),
        Seq(0L, 1L).map(id => id -> queryEmbedding(s, dir, id)), k = 20)),
    // bulk LSH/IVF ANN: M queries share ONE partition-pruned scan of the
    // union of their probed buckets / cells (round-4 VERDICT item 5) —
    // per-query identical to q16/q27's single-probe paths
    "q42_ann_lsh_bulk" -> ((s, dir) =>
      Similarity.lshTopKManyIndexed(s, lshIndex(s, dir),
        Seq(0L, 1L).map(id => id -> queryEmbedding(s, dir, id)), k = 20)),
    "q43_ann_ivf_bulk" -> ((s, dir) =>
      Similarity.ivfTopKManyIndexed(s, ivfIndex(s, dir),
        Seq(0L, 1L).map(id => id -> queryEmbedding(s, dir, id)), k = 20)),

    // ---- multimodal: kind-dispatched REAL codecs ----------------------
    // q17 synthesizes ACTUAL encoded media per kind (PNG / WAVE / AVI)
    // and extracts integer feature accumulators through the REAL decoders
    // (ImageIO, javax.sound.sampled, the RIFF walker) — the containers
    // are codec-dependent bytes, but the DECODED sums are exact integer
    // functions of the source text, so DuckDB recomputes them; the array
    // is digested to md5(to_json(...)) for the compare harness only
    "q17_media_features" -> ((s, dir) =>
      Multimodal.extractFeaturesReal(s,
        Multimodal.synthesizeMedia(s.read.parquet(t(dir, "documents"))))
        .select(col("media_id"), col("kind"),
          md5(to_json(col("feature_sums"))).as("features_md5"))),
    // q18: frame SAMPLING over real AVI containers — 8-frame videos, every
    // 2nd frame decoded (the skipped frames never reach the codec); the
    // decoded per-frame channel means recompute from the synthesis formula
    "q18_media_frames" -> ((s, dir) =>
      Multimodal.sampleFramesReal(s,
        Multimodal.synthesizeVideos(
          s.read.parquet(t(dir, "documents")).filter(col("doc_id") % 3 === 2),
          nFrames = 8),
        stride = 2, maxFrames = 4)),
    // REAL codec check: PNG is lossless, so the ImageIO-decoded channel
    // means must equal means computed straight from the synthesis bytes —
    // which DuckDB recomputes from text (the AWT thumbnail stays API-only:
    // Graphics2D rescale isn't an engine-reproducible function)
    "q23_image_decode" -> ((s, dir) =>
      Multimodal.imageFeatures(s,
        Multimodal.synthesizeImages(
          s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 300)))
        .select(col("media_id"), col("width"), col("height"),
          col("mean_r"), col("mean_g"), col("mean_b"))),
    // REAL audio codec check: PCM16 WAV is lossless, so the decoded sample
    // means must equal means recomputed from the synthesis formula
    "q29_audio_decode" -> ((s, dir) =>
      Multimodal.audioFeatures(s,
        Multimodal.synthesizeAudio(
          s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 300)))),
    // REAL video check: RIFF/AVI container walk + per-frame PNG decode
    // (lossless), so per-frame channel means recompute from the formula
    "q30_video_decode" -> ((s, dir) =>
      Multimodal.videoFrameFeatures(s,
        Multimodal.synthesizeVideos(
          s.read.parquet(t(dir, "documents")).filter(col("doc_id") < 200)))),

    // ---- the search engine itself ------------------------------------
    // bit-identity across the four internal paths is the sbt golden suite;
    // q19/q20 additionally oracle against an independent DuckDB BM25 over
    // the dumped corpus (scores rounded to 1e-9 — ln() last-ulp differs
    // between StrictMath and libm, and the contract compares value hashes)
    "q19_bm25_term" -> ((s, dir) => scoreE9(transcriptEngine(s, dir).searchFrame("whale"))),
    "q20_bm25_phrase" -> ((s, dir) =>
      scoreE9(transcriptEngine(s, dir).searchFrame("\"blue whale\""))),
    "q21_bm25_boolean" -> ((s, dir) => scoreE9(
      transcriptEngine(s, dir).searchFrame("(\"blue whale\" OR \"query engine\") NOT \"red fish\""))),
    "q22_bm25_mixed" -> ((s, dir) => scoreE9(
      transcriptEngine(s, dir).searchFrame("\"blue whale\" whale engine"))),
    // bulk multi-query scoring: 4 term queries in ONE block-max WAND scan
    // (per-partition top-k per term, merged on the driver) — the shape a
    // training pipeline re-scoring thousands of filter queries needs
    "q31_bulk_term_search" -> ((s, dir) =>
      transcriptEngine(s, dir).searchMany(bulkTerms.map(_._1))
        .select(col("query"), col("docId"), col("conv_id"), col("turn_idx"),
          round(col("score") * 1e9).cast("long").as("score_e9"))),
    // bulk MIXED atoms: bare terms and quoted phrases in the same single
    // plan — terms ride the pruned scan, all phrases share one docId
    // shuffle with the positional fold run doc-locally per phrase
    "q34_bulk_mixed_search" -> ((s, dir) =>
      transcriptEngine(s, dir).searchMany(bulkMixedQueries)
        .select(col("query"), col("docId"), col("conv_id"), col("turn_idx"),
          round(col("score") * 1e9).cast("long").as("score_e9"))),
    // bulk BOOLEAN/mixed queries (multi-atom, the shapes searchMany
    // rejects): operand fetch shared across the batch — one pruned term
    // scan + one phrase shuffle — with the per-query combine bit-identical
    // to topKAuto (q21/q22 are literally two of the batch's queries)
    "q40_bulk_boolean_search" -> ((s, dir) =>
      transcriptEngine(s, dir).searchManyAuto(bulkBooleanQueries)
        .select(col("query"), col("docId"), col("conv_id"), col("turn_idx"),
          round(col("score") * 1e9).cast("long").as("score_e9"))),
    // document deletion (tombstones): the q19 search over an index with
    // docId ≡ 3 (mod 7) tombstoned — df/idf, corpus stats, and the WAND
    // skip set must all see only the survivors (the oracle rebuilds the
    // whole scoring chain over the surviving corpus from scratch)
    "q44_delete_search" -> ((s, dir) =>
      scoreE9(deletedEngine(s, dir, compacted = false).searchFrame("whale"))),
    // ...and after compact() physically purged the tombstones: identical
    // results from a warehouse whose delete tables no longer exist
    "q45_delete_compact_search" -> ((s, dir) =>
      scoreE9(deletedEngine(s, dir, compacted = true).searchFrame("whale"))))

  private val bulkMixedQueries: Seq[String] =
    Seq("whale", "fish", "\"blue whale\"", "\"red fish\"")

  /** The q40 batch: exactly the q21 boolean and q22 mixed queries, so the
    * oracle is their two (hand-derived, already-green) SQL pipelines
    * UNION ALL'd with the query string attached. */
  private val bulkBooleanQueries: Seq[String] = Seq(
    "(\"blue whale\" OR \"query engine\") NOT \"red fish\"",
    "\"blue whale\" whale engine")

  /** The q31 bulk query set with each bare term's token forms in this
    * corpus (raw bare-term lookup hits the stem key directly for these —
    * form lists pinned by graft.tools.StemMapCheck like q19–q22). */
  private val bulkTerms: Seq[(String, Seq[String])] = Seq(
    "whale" -> Seq("whale", "whales"),
    "blue" -> Seq("blue"),
    "red" -> Seq("red"),
    "fish" -> Seq("fish", "fishes"))

  // ---- oracle-literal generators: the SAME DetHash functions the engine
  // uses emit SQL literal tables, so the DuckDB oracle recomputes identical
  // minhash permutations / LSH hyperplanes (the round-2 no_oracle gap) ----
  private val PStr = DetHash.P.toString // 2305843009213693951 = 2^61-1

  /** (VALUES (i, a_i, b_i), ...) — the k universal-hash coefficients. */
  private def permValuesSql(k: Int): String =
    DetHash.permCoeffs(k).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}::HUGEINT, ${b}::HUGEINT)" }
      .mkString("(VALUES ", ", ", ")")

  /** (VALUES (p, [±1.0,...]::DOUBLE[]), ...) — the sign hyperplanes. */
  private def planeValuesSql(planes: Int, dims: Int, seed: Long): String =
    DetHash.signPlanes(planes, dims, seed).zipWithIndex
      .map { case (arr, p) => s"($p, [${arr.mkString(",")}]::DOUBLE[])" }
      .mkString("(VALUES ", ", ", ")")

  /** Byte-swap of md5_number_upper (little-endian) to the engine's
    * big-endian unsigned 64-bit shingle hash, as a SQL expression over
    * column `le` (same construction as the q08 simhash oracle). */
  private val beSwapSql =
    """(   ((le // 1::HUGEINT) % 256) * 72057594037927936::HUGEINT
      |      + ((le // 256::HUGEINT) % 256) * 281474976710656::HUGEINT
      |      + ((le // 65536::HUGEINT) % 256) * 1099511627776::HUGEINT
      |      + ((le // 16777216::HUGEINT) % 256) * 4294967296::HUGEINT
      |      + ((le // 4294967296::HUGEINT) % 256) * 16777216::HUGEINT
      |      + ((le // 1099511627776::HUGEINT) % 256) * 65536::HUGEINT
      |      + ((le // 281474976710656::HUGEINT) % 256) * 256::HUGEINT
      |      + ((le // 72057594037927936::HUGEINT) % 256) )""".stripMargin

  /** Shared minhash CTE prefix: distinct word-3-gram shingles → x = be mod P
    * → 64 permuted components (sentinel P for shingle-less docs) → 16 band
    * hashes (degree-4 polynomial fold in GF(2^61−1)) → candidate pairs.
    * documents.text is pure [a-z0-9 ] (OpsSpec-asserted), so the engine
    * tokenizer reduces to regexp '[a-z0-9]+' exactly like q09. */
  private def minhashCandidateCtes: String =
    s"""perm(i, a, b) AS (SELECT * FROM ${permValuesSql(64)}),
       |toks AS (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS tk FROM documents),
       |sh AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
       |         WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
       |         ELSE list_distinct(list_transform(range(1, len(tk) - 1),
       |                j -> concat_ws(' ', tk[j], tk[j+1], tk[j+2])))
       |    END) AS s
       |  FROM toks),
       |hx AS (
       |  SELECT doc_id, $beSwapSql % ${PStr}::HUGEINT AS x
       |  FROM (SELECT doc_id, md5_number_upper('0:' || s)::HUGEINT AS le FROM sh)),
       |sigp AS (
       |  SELECT doc_id, i, min((a * x + b) % ${PStr}::HUGEINT) AS sg
       |  FROM hx CROSS JOIN perm GROUP BY doc_id, i),
       |sigf AS (
       |  SELECT d.doc_id, p.i, coalesce(sp.sg, ${PStr}::HUGEINT) AS sg
       |  FROM documents d CROSS JOIN perm p
       |  LEFT JOIN sigp sp ON sp.doc_id = d.doc_id AND sp.i = p.i),
       |bh AS (
       |  SELECT doc_id, band,
       |    ((((((1125899906842597::HUGEINT * 31 + l[1]) % ${PStr}::HUGEINT) * 31 + l[2])
       |       % ${PStr}::HUGEINT) * 31 + l[3]) % ${PStr}::HUGEINT * 31 + l[4]) % ${PStr}::HUGEINT AS h
       |  FROM (SELECT doc_id, i // 4 AS band, list(sg ORDER BY i) AS l
       |        FROM sigf GROUP BY doc_id, i // 4)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bh x JOIN bh y ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id)""".stripMargin

  /** Shared LSH bucket CTE over embeddings: the engine's 3 adaptive sign
    * planes at the sf0.01 corpus size (adaptivePlanes(500) = 3, seed 7). */
  private def lshBucketCtes: String =
    s"""pl(p, pv) AS (SELECT * FROM ${planeValuesSql(3, 64, 7L)}),
       |bkt AS (
       |  SELECT vec_id, sum(CASE WHEN list_dot_product(embedding::DOUBLE[], pv) >= 0
       |                          THEN (1::BIGINT << p) ELSE 0 END)::BIGINT AS bucket
       |  FROM embeddings CROSS JOIN pl GROUP BY vec_id)""".stripMargin

  /** q28's WITH RECURSIVE chain up to `reach` — shared with q36; the
    * doc source is a parameter so q39 can run the identical closure over
    * its filtered survivor CTE instead of the raw table. */
  private def reachCtes(src: String): String =
      s"""tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t FROM $src),
        |cnt AS (SELECT doc_id, t, count(*)::HUGEINT AS w FROM tok GROUP BY doc_id, t),
        |hv AS (
        |  SELECT doc_id, w,
        |    (   ((le // 1::HUGEINT) % 256) * 72057594037927936::HUGEINT
        |      + ((le // 256::HUGEINT) % 256) * 281474976710656::HUGEINT
        |      + ((le // 65536::HUGEINT) % 256) * 1099511627776::HUGEINT
        |      + ((le // 16777216::HUGEINT) % 256) * 4294967296::HUGEINT
        |      + ((le // 4294967296::HUGEINT) % 256) * 16777216::HUGEINT
        |      + ((le // 1099511627776::HUGEINT) % 256) * 65536::HUGEINT
        |      + ((le // 281474976710656::HUGEINT) % 256) * 256::HUGEINT
        |      + ((le // 72057594037927936::HUGEINT) % 256) ) AS be
        |  FROM (SELECT doc_id, w, md5_number_upper('0:' || t)::HUGEINT AS le FROM cnt)),
        |bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN (be // (2::HUGEINT ^ i)::HUGEINT) % 2 = 1 THEN w ELSE -w END) AS acc
        |  FROM hv, (SELECT unnest(range(0, 64)) AS i)
        |  GROUP BY doc_id, i),
        |uns AS (
        |  SELECT doc_id, sum(CASE WHEN acc > 0 THEN (2::HUGEINT ^ i)::HUGEINT ELSE 0::HUGEINT END) AS u
        |  FROM bits GROUP BY doc_id),
        |sh AS (
        |  SELECT d.doc_id,
        |    CAST(CASE WHEN coalesce(u, 0::HUGEINT) >= 9223372036854775808::HUGEINT
        |              THEN coalesce(u, 0::HUGEINT) - 18446744073709551616::HUGEINT
        |              ELSE coalesce(u, 0::HUGEINT) END AS BIGINT) AS simhash
        |  FROM $src d LEFT JOIN uns USING (doc_id)),
        |pr AS (
        |  SELECT doc_a, doc_b FROM (
        |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |      CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |    FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |  WHERE hamming <= 3),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pr
        |          UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pr),
        |reach(src, lab) AS (
        |  SELECT doc_id, doc_id FROM $src
        |  UNION
        |  SELECT e.src, r.lab FROM edges e JOIN reach r ON e.dst = r.src)
        |""".stripMargin

  private val q28ReachPrefix: String = "WITH RECURSIVE " + reachCtes("documents")

  private val q21OracleSql: String =
    """WITH raw AS (
        |  SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS docId, conv_id, turn_idx,
        |    list_filter(list_transform(regexp_extract_all(text, '[A-Za-z0-9_''-]+'),
        |        t -> trim(t, '''-')), t -> t <> '') AS toks
        |  FROM read_parquet('{GRAFT_OUT}/corpus_turns/*.parquet')),
        |pos AS (
        |  SELECT docId, conv_id, turn_idx, len(toks) AS doc_len,
        |    list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) = 'blue' THEN i-1 ELSE -1 END), p -> p >= 0) AS bp,
        |    list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) IN ('whale','whales') THEN i-1 ELSE -1 END), p -> p >= 0) AS wp,
        |    list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) IN ('query','queries','querying') THEN i-1 ELSE -1 END), p -> p >= 0) AS qp,
        |    list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) IN ('engine','engines') THEN i-1 ELSE -1 END), p -> p >= 0) AS ep,
        |    list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) = 'red' THEN i-1 ELSE -1 END), p -> p >= 0) AS rp,
        |    list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) IN ('fish','fishes') THEN i-1 ELSE -1 END), p -> p >= 0) AS fp
        |  FROM raw),
        |tfs AS (
        |  SELECT docId, conv_id, turn_idx, doc_len,
        |    CASE WHEN len(bp)=0 THEN 0 WHEN len(wp)=0 THEN len(bp) ELSE len(list_intersect(wp, list_transform(bp, q -> q+1))) END AS tfa,
        |    CASE WHEN len(qp)=0 THEN 0 WHEN len(ep)=0 THEN len(qp) ELSE len(list_intersect(ep, list_transform(qp, q -> q+1))) END AS tfb,
        |    CASE WHEN len(rp)=0 THEN 0 WHEN len(fp)=0 THEN len(rp) ELSE len(list_intersect(fp, list_transform(rp, q -> q+1))) END AS tfc
        |  FROM pos),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(doc_len)::DOUBLE / count(*)::DOUBLE AS avgdl,
        |         (count(*) FILTER (WHERE tfa > 0))::DOUBLE AS dfa,
        |         (count(*) FILTER (WHERE tfb > 0))::DOUBLE AS dfb,
        |         (count(*) FILTER (WHERE tfc > 0))::DOUBLE AS dfc
        |       FROM tfs),
        |sc AS (
        |  SELECT docId, conv_id, turn_idx,
        |    CASE WHEN tfa > 0 THEN ln(((n - dfa) + 0.5)/(dfa + 0.5) + 1.0) * ((tfa::DOUBLE * 2.5)/(tfa::DOUBLE + 1.5*(0.25 + 0.75*(doc_len::DOUBLE/avgdl)))) ELSE 0.0 END AS sa,
        |    CASE WHEN tfb > 0 THEN ln(((n - dfb) + 0.5)/(dfb + 0.5) + 1.0) * ((tfb::DOUBLE * 2.5)/(tfb::DOUBLE + 1.5*(0.25 + 0.75*(doc_len::DOUBLE/avgdl)))) ELSE 0.0 END AS sb,
        |    CASE WHEN tfc > 0 THEN ln(((n - dfc) + 0.5)/(dfc + 0.5) + 1.0) * ((tfc::DOUBLE * 2.5)/(tfc::DOUBLE + 1.5*(0.25 + 0.75*(doc_len::DOUBLE/avgdl)))) ELSE 0.0 END AS scc
        |  FROM tfs, st),
        |mxs AS (SELECT max(sa) AS mxa, max(sb) AS mxb, max(scc) AS mxc FROM sc),
        |normed AS (
        |  SELECT docId, conv_id, turn_idx,
        |    CASE WHEN sa > 0 THEN sa/mxa ELSE 0.0 END AS a,
        |    CASE WHEN sb > 0 THEN sb/mxb ELSE 0.0 END AS b,
        |    CASE WHEN scc > 0 THEN scc/mxc ELSE 0.0 END AS c
        |  FROM sc, mxs),
        |fin AS (
        |  SELECT docId, conv_id, turn_idx,
        |    1.0*(1.0 - c) + 1.0*greatest(b, a) AS sumv,
        |    least(1.0 - c, greatest(b, a)) AS em
        |  FROM normed),
        |m2 AS (SELECT max(sumv) AS m FROM fin),
        |res AS (SELECT docId, conv_id, turn_idx, 0.4*(sumv/m) + 0.6*em AS score FROM fin, m2)
        |SELECT docId, conv_id, turn_idx, CAST(round(score*1000000000.0) AS BIGINT) AS score_e9
        |FROM res ORDER BY score DESC, docId ASC LIMIT 100""".stripMargin

  private val q22OracleSql: String =
    """WITH raw AS (
        |  SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS docId, conv_id, turn_idx,
        |    list_filter(list_transform(regexp_extract_all(text, '[A-Za-z0-9_''-]+'),
        |        t -> trim(t, '''-')), t -> t <> '') AS toks
        |  FROM read_parquet('{GRAFT_OUT}/corpus_turns/*.parquet')),
        |pos AS (
        |  SELECT docId, conv_id, turn_idx, len(toks) AS doc_len,
        |    list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) = 'blue' THEN i-1 ELSE -1 END), p -> p >= 0) AS bp,
        |    list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) IN ('whale','whales') THEN i-1 ELSE -1 END), p -> p >= 0) AS wp
        |  FROM raw),
        |tfs AS (
        |  SELECT docId, conv_id, turn_idx, doc_len,
        |    CASE WHEN len(bp)=0 THEN 0 WHEN len(wp)=0 THEN len(bp) ELSE len(list_intersect(wp, list_transform(bp, q -> q+1))) END AS tfp,
        |    len(wp) AS tft
        |  FROM pos),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(doc_len)::DOUBLE / count(*)::DOUBLE AS avgdl,
        |         (count(*) FILTER (WHERE tfp > 0))::DOUBLE AS dfp,
        |         (count(*) FILTER (WHERE tft > 0))::DOUBLE AS dft
        |       FROM tfs),
        |sc AS (
        |  SELECT docId, conv_id, turn_idx,
        |    CASE WHEN tfp > 0 THEN ln(((n - dfp) + 0.5)/(dfp + 0.5) + 1.0) * ((tfp::DOUBLE * 2.5)/(tfp::DOUBLE + 1.5*(0.25 + 0.75*(doc_len::DOUBLE/avgdl)))) ELSE 0.0 END AS sp,
        |    CASE WHEN tft > 0 THEN ln(((n - dft) + 0.5)/(dft + 0.5) + 1.0) * ((tft::DOUBLE * 2.5)/(tft::DOUBLE + 1.5*(0.25 + 0.75*(doc_len::DOUBLE/avgdl)))) ELSE 0.0 END AS stw
        |  FROM tfs, st),
        |mxs AS (SELECT max(sp) AS mxp, max(stw) AS mxt FROM sc),
        |normed AS (
        |  SELECT docId, conv_id, turn_idx,
        |    CASE WHEN sp > 0 THEN sp/mxp ELSE 0.0 END AS p,
        |    CASE WHEN stw > 0 THEN stw/mxt ELSE 0.0 END AS tw
        |  FROM sc, mxs),
        |stage1 AS (
        |  SELECT docId, conv_id, turn_idx,
        |    1.0*0.0 + 1.0*tw AS sum1, p
        |  FROM normed),
        |m1 AS (SELECT max(sum1) AS m1, max(p) AS mp FROM stage1),
        |stage2 AS (
        |  SELECT docId, conv_id, turn_idx,
        |    0.4*(CASE WHEN m1 > 0 THEN sum1/m1 ELSE sum1 END) + 0.6*least(0.0, sum1) AS tp,
        |    1.35*(0.4*(CASE WHEN mp > 0 THEN p/mp ELSE p END) + 0.6*p)
        |      + 0.0*(0.4*(CASE WHEN mp > 0 THEN p/mp ELSE p END) + 0.6*p) AS boosted
        |  FROM stage1, m1),
        |stage3 AS (
        |  SELECT docId, conv_id, turn_idx,
        |    1.0*boosted + 1.0*tp AS sum2, least(boosted, tp) AS em
        |  FROM stage2),
        |m2 AS (SELECT max(sum2) AS m2 FROM stage3),
        |stage4 AS (
        |  SELECT docId, conv_id, turn_idx,
        |    0.4*(CASE WHEN m2 > 0 THEN sum2/m2 ELSE sum2 END) + 0.6*em AS res0
        |  FROM stage3, m2),
        |m3 AS (SELECT max(res0) AS m3 FROM stage4),
        |res AS (SELECT docId, conv_id, turn_idx,
        |          CASE WHEN m3 > 0 THEN res0/m3 ELSE res0 END AS score FROM stage4, m3)
        |SELECT docId, conv_id, turn_idx, CAST(round(score*1000000000.0) AS BIGINT) AS score_e9
        |FROM res ORDER BY score DESC, docId ASC LIMIT 100""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // minhash LSH near-dup: identical signatures/bands recomputed from the
    // DetHash literal tables; est = matching components / 64
    "q07_minhash_neardup" ->
      s"""WITH $minhashCandidateCtes,
         |sv AS (SELECT doc_id, list(sg ORDER BY i) AS sl FROM sigf GROUP BY doc_id)
         |SELECT doc_a, doc_b, est_jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    len(list_filter(list_zip(a.sl, b.sl), z -> z[1] = z[2]))::DOUBLE / 64.0 AS est_jaccard
         |  FROM cand JOIN sv a ON a.doc_id = doc_a JOIN sv b ON b.doc_id = doc_b)
         |WHERE est_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    // persisted-index batch dedup: the SAME union banding/signatures as
    // q07 (the index changes where signatures come from, not their
    // values), restricted to pairs touching the new batch (id ≥ 375)
    "q38_minhash_index_dedup" ->
      s"""WITH $minhashCandidateCtes,
         |sv AS (SELECT doc_id, list(sg ORDER BY i) AS sl FROM sigf GROUP BY doc_id)
         |SELECT doc_a, doc_b, est_jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    len(list_filter(list_zip(a.sl, b.sl), z -> z[1] = z[2]))::DOUBLE / 64.0 AS est_jaccard
         |  FROM cand JOIN sv a ON a.doc_id = doc_a JOIN sv b ON b.doc_id = doc_b)
         |WHERE est_jaccard >= 0.5 AND (doc_a >= 375 OR doc_b >= 375)
         |ORDER BY doc_a, doc_b""".stripMargin,
    // streaming gate survivors = the batch minus the LARGER id of every
    // q38 pair (keep-lowest-id gate semantics)
    "q41_stream_dedup_gate" ->
      s"""WITH $minhashCandidateCtes,
         |sv AS (SELECT doc_id, list(sg ORDER BY i) AS sl FROM sigf GROUP BY doc_id),
         |est AS (
         |  SELECT doc_a, doc_b,
         |    len(list_filter(list_zip(a.sl, b.sl), z -> z[1] = z[2]))::DOUBLE / 64.0 AS ej
         |  FROM cand JOIN sv a ON a.doc_id = doc_a JOIN sv b ON b.doc_id = doc_b),
         |losers AS (
         |  SELECT DISTINCT greatest(doc_a, doc_b) AS doc_id FROM est
         |  WHERE ej >= 0.5 AND (doc_a >= 375 OR doc_b >= 375))
         |SELECT doc_id FROM documents
         |WHERE doc_id >= 375 AND doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY doc_id""".stripMargin,
    // LSH candidates + EXACT n-gram jaccard verify (the q09 arithmetic)
    "q25_ngram_jaccard_lsh" ->
      s"""WITH $minhashCandidateCtes,
         |shs AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) = 0 THEN CAST([] AS VARCHAR[])
         |         WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
         |         ELSE list_distinct(list_transform(range(1, len(tk) - 1),
         |                j -> concat_ws(' ', tk[j], tk[j+1], tk[j+2])))
         |    END AS sh
         |  FROM toks)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    CASE WHEN len(a.sh) = 0 AND len(b.sh) = 0 THEN 1.0
         |         ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
         |              / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE END AS jaccard
         |  FROM cand JOIN shs a ON a.doc_id = doc_a JOIN shs b ON b.doc_id = doc_b)
         |WHERE jaccard >= 0.4 ORDER BY doc_a, doc_b""".stripMargin,
    // single-band sign-LSH buckets + exact cosine verify
    "q24_embedding_neardup_lsh" ->
      s"""WITH $lshBucketCtes
         |SELECT vec_a, vec_b, cosine FROM (
         |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |    list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
         |    (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))) AS cosine
         |  FROM bkt x JOIN bkt y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |  JOIN embeddings ea ON ea.vec_id = x.vec_id
         |  JOIN embeddings eb ON eb.vec_id = y.vec_id)
         |WHERE cosine >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,
    // persisted-LSH-index probe: hamming-≤1 bucket ball of the query
    "q16_ann_lsh_topk" ->
      s"""WITH $lshBucketCtes,
         |qb AS (SELECT bucket AS qbucket FROM bkt WHERE vec_id = 0),
         |qe AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  list_dot_product(e.embedding::DOUBLE[], qemb::DOUBLE[]) /
         |  (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
         |   sqrt(list_dot_product(qemb::DOUBLE[], qemb::DOUBLE[]))) AS cosine
         |FROM embeddings e JOIN bkt ON bkt.vec_id = e.vec_id, qb, qe
         |WHERE e.vec_id <> 0 AND bit_count(xor(bkt.bucket, qbucket)) <= 1
         |ORDER BY cosine DESC, e.vec_id ASC LIMIT 20""".stripMargin,
    // persisted-IVF-index probe: codebook = 16 lowest vec_ids; assignment =
    // max-cosine cell (ties → lowest cell); probe = 4 closest cells
    "q27_ann_ivf_topk" ->
      s"""WITH c AS (
         |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cemb
         |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
         |qe AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0),
         |asg AS (
         |  SELECT vec_id, embedding, cell FROM (
         |    SELECT e.vec_id, e.embedding, c.cell,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(e.embedding::DOUBLE[], c.cemb::DOUBLE[]) /
         |        (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
         |         sqrt(list_dot_product(c.cemb::DOUBLE[], c.cemb::DOUBLE[]))) DESC,
         |        c.cell ASC) AS rn
         |    FROM embeddings e CROSS JOIN c) WHERE rn = 1),
         |probe AS (
         |  SELECT cell FROM c, qe ORDER BY
         |    list_dot_product(qemb::DOUBLE[], cemb::DOUBLE[]) /
         |    (sqrt(list_dot_product(qemb::DOUBLE[], qemb::DOUBLE[])) *
         |     sqrt(list_dot_product(cemb::DOUBLE[], cemb::DOUBLE[]))) DESC, cell ASC
         |  LIMIT 4)
         |SELECT e.vec_id,
         |  list_dot_product(e.embedding::DOUBLE[], qemb::DOUBLE[]) /
         |  (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
         |   sqrt(list_dot_product(qemb::DOUBLE[], qemb::DOUBLE[]))) AS cosine
         |FROM asg e, qe
         |WHERE e.vec_id <> 0 AND e.cell IN (SELECT cell FROM probe)
         |ORDER BY cosine DESC, e.vec_id ASC LIMIT 20""".stripMargin,
    // DuckDB sum(BIGINT) returns HUGEINT (float64 in the harness frame, a
    // hash mismatch vs Spark's int64) — every sum is CAST back to BIGINT
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  count(*) AS n_rows,
        |  count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_revenue_by_nation" ->
      """SELECT n_name,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT) * (100 - CAST(round(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_e4,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q03_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,
    "q04_latest_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q05_event_buckets" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS bucket, event_type,
        |  count(*) AS n, CAST(sum(CAST(round(value*1000000) AS BIGINT)) AS BIGINT) AS value_e6
        |FROM events GROUP BY bucket, event_type ORDER BY bucket, event_type""".stripMargin,
    "q06_dedup_exact" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_doc_id, count(*) AS n_copies
        |FROM documents GROUP BY content_md5 ORDER BY content_md5""".stripMargin,
    "q11_token_counts" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS word_tokens,
        |  length(text) AS n_chars_computed
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q12_quality" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_words,
        |  CASE WHEN length(text) > 0 THEN len(regexp_extract_all(text, '[!-/:-@\[-`{-~]'))::DOUBLE / length(text)::DOUBLE ELSE 0.0 END AS punct_ratio,
        |  CASE WHEN length(text) > 0 THEN len(regexp_extract_all(text, '[0-9]'))::DOUBLE / length(text)::DOUBLE ELSE 0.0 END AS digit_ratio,
        |  CASE WHEN length(text) > 0 THEN len(regexp_extract_all(text, '[A-Z]'))::DOUBLE / length(text)::DOUBLE ELSE 0.0 END AS upper_ratio,
        |  CASE WHEN len(regexp_extract_all(text, '[A-Za-z0-9]+')) > 0 THEN length(text)::DOUBLE / len(regexp_extract_all(text, '[A-Za-z0-9]+'))::DOUBLE ELSE 0.0 END AS chars_per_word
        |FROM documents ORDER BY doc_id""".stripMargin,
    // token-membership stop-word semantics (one tokenize pass both engines)
    "q13_lang_id" ->
      """WITH r AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) > 0
        |         THEN len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','it','that','for','was','with','are','this','you')))::DOUBLE
        |              / len(toks)::DOUBLE
        |         ELSE 0.0 END AS stopword_ratio
        |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents))
        |SELECT doc_id, stopword_ratio,
        |  CASE WHEN stopword_ratio >= 0.08 THEN 'en' ELSE 'unknown' END AS lang_pred
        |FROM r ORDER BY doc_id""".stripMargin,
    "q14_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))), ' ')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // salt-keyed md5 split/shard: the same 15-hex-char (60-bit) prefix of
    // md5('graft:<tag>:<doc_id>') both engines parse to an integer
    "q37_split_shard" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 900 THEN 'train'
        |       WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split,
        |  CAST((('0x' || substr(md5('graft:shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8) AS INTEGER) AS shard
        |FROM (
        |  SELECT doc_id,
        |    CAST((('0x' || substr(md5('graft:split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000) AS INTEGER) AS bucket
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // documents.text is pure [a-z0-9 ] (asserted in OpsSpec), so the
    // reference tokenizer reduces to regexp_extract_all('[a-z0-9]+')
    "q09_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 1),
        |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
        |    END AS sh
        |  FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
        |        FROM documents WHERE doc_id < 500))
        |SELECT doc_a, doc_b, jaccard FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CASE WHEN len(a.sh) = 0 AND len(b.sh) = 0 THEN 1.0
        |         ELSE len(list_intersect(a.sh, b.sh))::DOUBLE
        |              / len(list_distinct(list_concat(a.sh, b.sh)))::DOUBLE END AS jaccard
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.4 ORDER BY doc_a, doc_b""".stripMargin,
    // simhash is md5-derived by design so any engine can reproduce it:
    // md5_number_upper is the little-endian first 8 digest bytes; the
    // arithmetic byte swap below rebuilds the engine's big-endian signed
    // long, then the per-bit weighted majority is a 64-way unnest
    "q08_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t FROM documents),
        |cnt AS (SELECT doc_id, t, count(*)::HUGEINT AS w FROM tok GROUP BY doc_id, t),
        |hv AS (
        |  SELECT doc_id, w,
        |    (   ((le // 1::HUGEINT) % 256) * 72057594037927936::HUGEINT
        |      + ((le // 256::HUGEINT) % 256) * 281474976710656::HUGEINT
        |      + ((le // 65536::HUGEINT) % 256) * 1099511627776::HUGEINT
        |      + ((le // 16777216::HUGEINT) % 256) * 4294967296::HUGEINT
        |      + ((le // 4294967296::HUGEINT) % 256) * 16777216::HUGEINT
        |      + ((le // 1099511627776::HUGEINT) % 256) * 65536::HUGEINT
        |      + ((le // 281474976710656::HUGEINT) % 256) * 256::HUGEINT
        |      + ((le // 72057594037927936::HUGEINT) % 256) ) AS be
        |  FROM (SELECT doc_id, w, md5_number_upper('0:' || t)::HUGEINT AS le FROM cnt)),
        |bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN (be // (2::HUGEINT ^ i)::HUGEINT) % 2 = 1 THEN w ELSE -w END) AS acc
        |  FROM hv, (SELECT unnest(range(0, 64)) AS i)
        |  GROUP BY doc_id, i),
        |uns AS (
        |  SELECT doc_id, sum(CASE WHEN acc > 0 THEN (2::HUGEINT ^ i)::HUGEINT ELSE 0::HUGEINT END) AS u
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(CASE WHEN coalesce(u, 0::HUGEINT) >= 9223372036854775808::HUGEINT
        |            THEN coalesce(u, 0::HUGEINT) - 18446744073709551616::HUGEINT
        |            ELSE coalesce(u, 0::HUGEINT) END AS BIGINT) AS simhash
        |FROM documents d LEFT JOIN uns USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    // all-pairs ground truth for the banded simhash pair search (recall
    // 1.0 by pigeonhole at maxBits=3 < bands=4, so outputs must be equal)
    "q26_simhash_neardup" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t FROM documents),
        |cnt AS (SELECT doc_id, t, count(*)::HUGEINT AS w FROM tok GROUP BY doc_id, t),
        |hv AS (
        |  SELECT doc_id, w,
        |    (   ((le // 1::HUGEINT) % 256) * 72057594037927936::HUGEINT
        |      + ((le // 256::HUGEINT) % 256) * 281474976710656::HUGEINT
        |      + ((le // 65536::HUGEINT) % 256) * 1099511627776::HUGEINT
        |      + ((le // 16777216::HUGEINT) % 256) * 4294967296::HUGEINT
        |      + ((le // 4294967296::HUGEINT) % 256) * 16777216::HUGEINT
        |      + ((le // 1099511627776::HUGEINT) % 256) * 65536::HUGEINT
        |      + ((le // 281474976710656::HUGEINT) % 256) * 256::HUGEINT
        |      + ((le // 72057594037927936::HUGEINT) % 256) ) AS be
        |  FROM (SELECT doc_id, w, md5_number_upper('0:' || t)::HUGEINT AS le FROM cnt)),
        |bits AS (
        |  SELECT doc_id, i,
        |    sum(CASE WHEN (be // (2::HUGEINT ^ i)::HUGEINT) % 2 = 1 THEN w ELSE -w END) AS acc
        |  FROM hv, (SELECT unnest(range(0, 64)) AS i)
        |  GROUP BY doc_id, i),
        |uns AS (
        |  SELECT doc_id, sum(CASE WHEN acc > 0 THEN (2::HUGEINT ^ i)::HUGEINT ELSE 0::HUGEINT END) AS u
        |  FROM bits GROUP BY doc_id),
        |sh AS (
        |  SELECT d.doc_id,
        |    CAST(CASE WHEN coalesce(u, 0::HUGEINT) >= 9223372036854775808::HUGEINT
        |              THEN coalesce(u, 0::HUGEINT) - 18446744073709551616::HUGEINT
        |              ELSE coalesce(u, 0::HUGEINT) END AS BIGINT) AS simhash
        |  FROM documents d LEFT JOIN uns USING (doc_id))
        |SELECT doc_a, doc_b, hamming FROM (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id)
        |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    // connected components over the q26 pairs as a recursive CTE: reach =
    // transitive closure of labels, cluster_id = min reachable id
    "q28_dedup_clusters" -> (q28ReachPrefix +
      """SELECT src AS doc_id, min(lab) AS cluster_id, min(lab) = src AS keep
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin),
    // the final dedup step: one keeper per cluster + the cluster size —
    // same recursive-CTE closure as q28, filtered to keepers
    "q36_dedup_apply" -> (q28ReachPrefix +
      """, cl AS (SELECT src AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY src),
        |sz AS (SELECT cluster_id, count(*) AS n_members FROM cl GROUP BY cluster_id)
        |SELECT c.doc_id, c.cluster_id, s.n_members
        |FROM cl c JOIN sz s USING (cluster_id)
        |WHERE c.doc_id = c.cluster_id ORDER BY c.doc_id""".stripMargin),
    // composed pipeline: the q12/q13 feature arithmetic, the q26/q28/q36
    // closure (over the SURVIVOR set), and the q37 split md5 chained in
    // one statement — the integration oracle
    "q39_training_pipeline" ->
      s"""WITH RECURSIVE feat AS (
         |  SELECT doc_id, text,
         |    len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_words,
         |    CASE WHEN len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
         |         THEN len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
         |                t -> t IN ('the','and','of','to','in','is','it','that','for','was','with','are','this','you')))::DOUBLE
         |              / len(regexp_extract_all(lower(text), '[a-z0-9]+'))::DOUBLE
         |         ELSE 0.0 END AS stopword_ratio
         |  FROM documents),
         |surv AS (SELECT * FROM feat WHERE n_words >= 15 AND stopword_ratio >= 0.02),
         |${reachCtes("surv")},
         |cl AS (SELECT src AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY src),
         |sz AS (SELECT cluster_id, count(*) AS n_members FROM cl GROUP BY cluster_id),
         |keep AS (
         |  SELECT c.doc_id, c.cluster_id, s.n_members
         |  FROM cl c JOIN sz s USING (cluster_id) WHERE c.doc_id = c.cluster_id),
         |spl AS (
         |  SELECT doc_id, bucket,
         |    CASE WHEN bucket < 900 THEN 'train'
         |         WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split,
         |    CAST((('0x' || substr(md5('graft:shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8) AS INTEGER) AS shard
         |  FROM (SELECT doc_id,
         |          CAST((('0x' || substr(md5('graft:split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000) AS INTEGER) AS bucket
         |        FROM keep))
         |SELECT k.doc_id, f.n_words, f.stopword_ratio, k.cluster_id, k.n_members,
         |       p.bucket, p.split, p.shard
         |FROM keep k JOIN feat f USING (doc_id) JOIN spl p USING (doc_id)
         |ORDER BY k.doc_id""".stripMargin,
    "q10_embedding_neardup" ->
      """SELECT vec_a, vec_b, cosine FROM (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
        |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS cosine
        |  FROM embeddings a, embeddings b
        |  WHERE a.vec_id < b.vec_id AND a.vec_id < 500 AND b.vec_id < 500)
        |WHERE cosine >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,
    // the REAL ImageIO path: synthesized 16x16 pixels are pure functions
    // of (text || doc_id) bytes and PNG is lossless, so the decoded
    // channel means must equal means recomputed from the source string
    "q23_image_decode" ->
      """WITH px AS (
        |  SELECT doc_id, i,
        |    ascii(substr(s, CAST((i % L) + 1 AS INTEGER), 1))::BIGINT AS r,
        |    ascii(substr(s, CAST(((i*7 + 3) % L) + 1 AS INTEGER), 1))::BIGINT AS g,
        |    (doc_id + i) % 256 AS b
        |  FROM (SELECT doc_id, text || CAST(doc_id AS VARCHAR) AS s,
        |          length(text || CAST(doc_id AS VARCHAR)) AS L
        |        FROM documents WHERE doc_id < 300),
        |       (SELECT unnest(range(0, 256)) AS i))
        |SELECT doc_id AS media_id, 16 AS width, 16 AS height,
        |  sum(r)::DOUBLE / 256.0 AS mean_r,
        |  sum(g)::DOUBLE / 256.0 AS mean_g,
        |  sum(b)::DOUBLE / 256.0 AS mean_b
        |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin,
    // kind-dispatched REAL decode accumulators, recomputed per kind from
    // the synthesis formulas (PNG/WAVE/PNG-in-AVI are lossless, so the
    // decoded integer sums are exact functions of text || doc_id) — md5 of
    // the same "[a,b,...]" json both engines render identically for longs
    "q17_media_features" ->
      """WITH src AS (
        |  SELECT doc_id, text || CAST(doc_id AS VARCHAR) AS s,
        |    length(text || CAST(doc_id AS VARCHAR)) AS L
        |  FROM documents),
        |img0 AS (
        |  SELECT doc_id,
        |    CAST(sum(ascii(substr(s, CAST((i % L) + 1 AS INTEGER), 1))) AS BIGINT) AS sr,
        |    CAST(sum(ascii(substr(s, CAST(((i*7 + 3) % L) + 1 AS INTEGER), 1))) AS BIGINT) AS sg,
        |    CAST(sum((doc_id + i) % 256) AS BIGINT) AS sb
        |  FROM src, (SELECT unnest(range(0, 256)) AS i)
        |  WHERE doc_id % 3 = 0 GROUP BY doc_id),
        |img AS (SELECT doc_id, 'image' AS kind,
        |          '[16,16,' || sr || ',' || sg || ',' || sb || ']' AS js FROM img0),
        |aud0 AS (
        |  SELECT doc_id,
        |    CAST(sum(v) AS BIGINT) AS sv, CAST(sum(abs(v)) AS BIGINT) AS sa
        |  FROM (SELECT doc_id,
        |          (ascii(substr(s, CAST((i % L) + 1 AS INTEGER), 1)) - 128) * 256
        |            + ((doc_id + i) % 256) AS v
        |        FROM src, (SELECT unnest(range(0, 256)) AS i)
        |        WHERE doc_id % 3 = 1)
        |  GROUP BY doc_id),
        |aud AS (SELECT doc_id, 'audio' AS kind,
        |          '[8000,256,' || sv || ',' || sa || ']' AS js FROM aud0),
        |vid0 AS (
        |  SELECT doc_id,
        |    CAST(sum(ascii(substr(s, CAST(((i + 3*f) % L) + 1 AS INTEGER), 1))) AS BIGINT) AS sr,
        |    CAST(sum(ascii(substr(s, CAST(((i*7 + 3 + f) % L) + 1 AS INTEGER), 1))) AS BIGINT) AS sg,
        |    CAST(sum((doc_id + i + f) % 256) AS BIGINT) AS sb
        |  FROM src, (SELECT unnest(range(0, 4)) AS f), (SELECT unnest(range(0, 256)) AS i)
        |  WHERE doc_id % 3 = 2 GROUP BY doc_id),
        |vid AS (SELECT doc_id, 'video' AS kind,
        |          '[4,' || sr || ',' || sg || ',' || sb || ']' AS js FROM vid0),
        |allr AS (SELECT * FROM img UNION ALL SELECT * FROM aud UNION ALL SELECT * FROM vid)
        |SELECT doc_id AS media_id, kind, md5(js) AS features_md5
        |FROM allr ORDER BY media_id""".stripMargin,
    // the REAL javax.sound.sampled path: synthesized PCM16 samples are
    // integer functions of (text || doc_id) and WAV is lossless, so the
    // decoded means (exact /256 rationals) are recomputed from text
    "q29_audio_decode" ->
      """WITH smp AS (
        |  SELECT doc_id, i,
        |    (ascii(substr(s, CAST((i % L) + 1 AS INTEGER), 1)) - 128) * 256
        |      + ((doc_id + i) % 256) AS v
        |  FROM (SELECT doc_id, text || CAST(doc_id AS VARCHAR) AS s,
        |          length(text || CAST(doc_id AS VARCHAR)) AS L
        |        FROM documents WHERE doc_id < 300),
        |       (SELECT unnest(range(0, 256)) AS i))
        |SELECT doc_id AS media_id, 8000 AS sample_rate, count(*)::BIGINT AS n_samples,
        |  sum(v)::DOUBLE / count(*)::DOUBLE AS mean_sample,
        |  sum(abs(v))::DOUBLE / count(*)::DOUBLE AS mean_abs
        |FROM smp GROUP BY doc_id ORDER BY media_id""".stripMargin,
    // RIFF/AVI + PNG are parsed/decoded for real; pixels are integer
    // functions of (text || doc_id, frame), so per-frame means recompute
    "q30_video_decode" ->
      """WITH px AS (
        |  SELECT doc_id, f, i,
        |    ascii(substr(s, CAST(((i + 3*f) % L) + 1 AS INTEGER), 1))::BIGINT AS r,
        |    ascii(substr(s, CAST(((i*7 + 3 + f) % L) + 1 AS INTEGER), 1))::BIGINT AS g,
        |    (doc_id + i + f) % 256 AS b
        |  FROM (SELECT doc_id, text || CAST(doc_id AS VARCHAR) AS s,
        |          length(text || CAST(doc_id AS VARCHAR)) AS L
        |        FROM documents WHERE doc_id < 200),
        |       (SELECT unnest(range(0, 4)) AS f),
        |       (SELECT unnest(range(0, 256)) AS i))
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |  16 AS width, 16 AS height,
        |  sum(r)::DOUBLE / 256.0 AS mean_r,
        |  sum(g)::DOUBLE / 256.0 AS mean_g,
        |  sum(b)::DOUBLE / 256.0 AS mean_b
        |FROM px GROUP BY doc_id, f ORDER BY media_id, frame_idx""".stripMargin,
    // sampled frames (stride 2 over 8-frame AVIs): only f ∈ {0,2,4,6}
    // are decoded; means recompute from the q30 synthesis formula
    "q18_media_frames" ->
      """WITH px AS (
        |  SELECT doc_id, f, i,
        |    ascii(substr(s, CAST(((i + 3*f) % L) + 1 AS INTEGER), 1))::BIGINT AS r,
        |    ascii(substr(s, CAST(((i*7 + 3 + f) % L) + 1 AS INTEGER), 1))::BIGINT AS g,
        |    (doc_id + i + f) % 256 AS b
        |  FROM (SELECT doc_id, text || CAST(doc_id AS VARCHAR) AS s,
        |          length(text || CAST(doc_id AS VARCHAR)) AS L
        |        FROM documents WHERE doc_id % 3 = 2),
        |       (SELECT unnest([0, 2, 4, 6]) AS f),
        |       (SELECT unnest(range(0, 256)) AS i))
        |SELECT doc_id AS media_id, CAST(f AS INTEGER) AS frame_idx,
        |  16 AS width, 16 AS height,
        |  sum(r)::DOUBLE / 256.0 AS mean_r,
        |  sum(g)::DOUBLE / 256.0 AS mean_g,
        |  sum(b)::DOUBLE / 256.0 AS mean_b
        |FROM px GROUP BY doc_id, f ORDER BY media_id, frame_idx""".stripMargin,
    // Independent end-to-end BM25 oracles over the corpus dumped by Verify
    // ({GRAFT_OUT} is substituted with the absolute output dir there).
    // Tokenizer: maximal [A-Za-z0-9_'-] runs trimmed to \w ends; doc_len =
    // raw token count (ghost tokens like "__" count); the whale-stem token
    // forms in this corpus are exactly {whale, whales} (case-insensitive).
    // Scoring replicates the engine's IEEE operation order; the final
    // round-to-1e-9 absorbs ln() last-ulp variance (StrictMath vs libm).
    "q19_bm25_term" ->
      """WITH docs AS (
        |  SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS docId, conv_id, turn_idx,
        |    len(list_filter(list_transform(regexp_extract_all(text, '[A-Za-z0-9_''-]+'),
        |          t -> trim(t, '''-')), t -> t <> '')) AS doc_len,
        |    len(list_filter(regexp_extract_all(text, '[A-Za-z0-9_''-]+'),
        |          t -> lower(trim(t, '''-')) IN ('whale', 'whales'))) AS tf
        |  FROM read_parquet('{GRAFT_OUT}/corpus_turns/*.parquet')),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(doc_len)::DOUBLE / count(*)::DOUBLE AS avgdl FROM docs),
        |m AS (SELECT * FROM docs WHERE tf > 0),
        |dfc AS (SELECT count(*)::DOUBLE AS df FROM m),
        |scored AS (
        |  SELECT docId, conv_id, turn_idx,
        |    ln(((n - df) + 0.5) / (df + 0.5) + 1.0)
        |      * ((tf::DOUBLE * 2.5) / (tf::DOUBLE + 1.5 * (0.25 + 0.75 * (doc_len::DOUBLE / avgdl)))) AS s
        |  FROM m, st, dfc),
        |mx AS (SELECT max(s) AS mx FROM scored)
        |SELECT docId, conv_id, turn_idx,
        |  CAST(round((0.4*(s/mx) + 0.6*(s/mx)) * 1000000000.0) AS BIGINT) AS score_e9
        |FROM scored, mx ORDER BY s DESC, docId ASC LIMIT 100""".stripMargin,
    // Phrase "blue whale": positional intersection INCLUDING the
    // reference's stale-postings fold (a doc with "blue" but no whale-stem
    // scores tf = count(blue)) — see PhraseMatch.phraseTf.
    "q20_bm25_phrase" ->
      """WITH raw AS (
        |  SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS docId, conv_id, turn_idx,
        |    list_filter(list_transform(regexp_extract_all(text, '[A-Za-z0-9_''-]+'),
        |        t -> trim(t, '''-')), t -> t <> '') AS toks
        |  FROM read_parquet('{GRAFT_OUT}/corpus_turns/*.parquet')),
        |pos AS (
        |  SELECT docId, conv_id, turn_idx, len(toks) AS doc_len,
        |    list_filter(list_transform(toks, (t, i) ->
        |      CASE WHEN lower(t) = 'blue' THEN i - 1 ELSE -1 END), p -> p >= 0) AS bpos,
        |    list_filter(list_transform(toks, (t, i) ->
        |      CASE WHEN lower(t) IN ('whale', 'whales') THEN i - 1 ELSE -1 END), p -> p >= 0) AS wpos
        |  FROM raw),
        |tfs AS (
        |  SELECT docId, conv_id, turn_idx, doc_len,
        |    CASE WHEN len(bpos) = 0 THEN 0
        |         WHEN len(wpos) = 0 THEN len(bpos)
        |         ELSE len(list_intersect(wpos, list_transform(bpos, q -> q + 1))) END AS tf
        |  FROM pos),
        |st AS (SELECT count(*)::DOUBLE AS n, sum(doc_len)::DOUBLE / count(*)::DOUBLE AS avgdl FROM tfs),
        |m AS (SELECT * FROM tfs WHERE tf > 0),
        |dfc AS (SELECT count(*)::DOUBLE AS df FROM m),
        |scored AS (
        |  SELECT docId, conv_id, turn_idx,
        |    ln(((n - df) + 0.5) / (df + 0.5) + 1.0)
        |      * ((tf::DOUBLE * 2.5) / (tf::DOUBLE + 1.5 * (0.25 + 0.75 * (doc_len::DOUBLE / avgdl)))) AS s
        |  FROM m, st, dfc),
        |mx AS (SELECT max(s) AS mx FROM scored),
        |combined AS (SELECT docId, conv_id, turn_idx, 0.4*(s/mx) + 0.6*(s/mx) AS score FROM scored, mx)
        |SELECT docId, conv_id, turn_idx,
        |  CAST(round(score * 1000000000.0) AS BIGINT) AS score_e9
        |FROM combined ORDER BY score DESC, docId ASC LIMIT 100""".stripMargin,
    // Boolean algebra "(A OR B) NOT C" over dense per-doc vectors: absent
    // docs hold each operator's default (NOT flips it to 1), so evaluating
    // the same IEEE expressions densely over ALL docs reproduces the
    // engine's sparse(frame)+default encoding exactly — including the
    // dense fill of the final top-k (absent docs score the default).
    // Stem token forms (graft.tools.StemMapCheck): blue={blue},
    // whale={whale,whales}, queri={query,queries,querying},
    // engin={engine,engines}, red={red}, fish={fish,fishes}.
    "q21_bm25_boolean" -> q21OracleSql,
    // Mixed '"blue whale" whale engine': bare terms are looked up RAW
    // (reference quirk) — 'whale' hits the whale stem key, 'engine' misses
    // ('engin' is the key) and contributes an all-zero vector; the phrase
    // result is PHRASE_BOOSTed onto the term stack, combined, normalized.
    "q22_bm25_mixed" -> q22OracleSql,
    "q15_ann_cosine_topk" ->
      """WITH q AS (SELECT embedding AS q_embedding FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  list_dot_product(embedding::DOUBLE[], q_embedding::DOUBLE[]) /
        |  (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
        |   sqrt(list_dot_product(q_embedding::DOUBLE[], q_embedding::DOUBLE[]))) AS cosine
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY cosine DESC, vec_id ASC LIMIT 20""".stripMargin,
    // bulk multi-query BM25: the q19 pipeline once per query term over ONE
    // shared tokenize CTE, UNION ALL'd with the query string attached
    "q31_bulk_term_search" -> bulkTermOracleSql,
    // bulk mixed atoms: q19-style term blocks + q20-style phrase blocks
    // (stale-postings fold included) over the same shared tokenize CTE
    "q34_bulk_mixed_search" -> bulkMixedOracleSql,
    // PQ ADC: codebook (16 lowest vec_ids' normalized subvectors), codes
    // (per-subspace argmin, ties → lowest code), ADC shortlist-100 via an
    // explicit left-associated 8-lookup sum (the engine folds the same
    // IEEE order), then exact-cosine re-rank — all recomputed from the
    // embeddings table alone
    "q32_ann_pq_topk" -> pqOracleSql,
    // IVF-PQ: the q27 cell assignment + probe CTEs restrict the q32 ADC
    // shortlist to the 4 probed cells
    "q33_ann_ivfpq_topk" -> ivfPqOracleSql,
    // bulk ANN: the q32 pipeline once per query vector over the SAME
    // codes/codebook CTEs, UNION ALL'd with the query id attached
    "q35_ann_pq_bulk" -> pqBulkOracleSql(Seq(0L, 1L)),
    // bulk LSH/IVF: the q16 / q27 pipelines once per query over the SAME
    // bucket / assignment CTEs, UNION ALL'd with the query id attached —
    // per-query equality with the single probes is the contract
    "q42_ann_lsh_bulk" -> lshBulkOracleSql(Seq(0L, 1L)),
    "q43_ann_ivf_bulk" -> ivfBulkOracleSql(Seq(0L, 1L)),
    // bulk boolean/mixed: per-query results must equal the single-query
    // evaluations, so the oracle IS the q21 + q22 pipelines union'd with
    // the query string attached
    "q40_bulk_boolean_search" ->
      s"""SELECT '("blue whale" OR "query engine") NOT "red fish"' AS query, *
         |FROM ($q21OracleSql)
         |UNION ALL
         |SELECT '"blue whale" whale engine' AS query, *
         |FROM ($q22OracleSql)
         |ORDER BY query, score_e9 DESC, docId ASC""".stripMargin,
    // document deletion: the q19 chain recomputed over the SURVIVING corpus
    // (docId % 7 <> 3) — docIds keep their pre-delete row_number values
    // (tombstoning never renumbers), but stats (n, avgdl) and df count only
    // survivors. q45 runs the same search after compact() physically purged
    // the tombstones, so it shares the SQL: purge must not change results.
    "q44_delete_search" -> deleteSearchOracleSql,
    "q45_delete_compact_search" -> deleteSearchOracleSql,
    // benchmark decontamination (n=4 grams; whole-token-sequence gram for
    // docs shorter than 4 tokens, matching TextOps.tokenNgrams)
    "q46_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
        |         WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
        |         ELSE list_distinct(list_transform(range(1, len(toks) - 2),
        |                i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3])))
        |    END AS grams
        |  FROM toks),
        |bench AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 50 = 7),
        |corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g WHERE doc_id % 50 <> 7)
        |SELECT doc_id, count(*) AS n_shared
        |FROM corpus JOIN bench USING (gram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // repetition signals: list-lambda max-multiplicity (O(d^2) is fine for
    // the oracle); integer/integer double division is exact in both engines
    "q47_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(toks) AS n_tokens,
        |    len(list_distinct(toks))::DOUBLE AS n_distinct,
        |    CASE WHEN len(toks) = 0 THEN 0.0
        |         ELSE list_max(list_transform(list_distinct(toks),
        |                g -> len(list_filter(toks, y -> y = g))))::DOUBLE END AS top_tok,
        |    CASE WHEN len(toks) < 2 THEN 0.0
        |         ELSE list_max(list_transform(
        |                list_distinct(list_transform(range(1, len(toks)),
        |                  i -> concat_ws(' ', toks[i], toks[i+1]))),
        |                g -> len(list_filter(list_transform(range(1, len(toks)),
        |                  i -> concat_ws(' ', toks[i], toks[i+1])), y -> y = g))))::DOUBLE
        |    END AS top_bigram
        |  FROM toks)
        |SELECT doc_id, n_tokens, distinct_ratio, top_token_frac, top_bigram_frac,
        |  CASE WHEN top_bigram_frac > 0.1 OR distinct_ratio < 0.3
        |       THEN 'repetitive' ELSE 'ok' END AS verdict
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens > 0 THEN n_distinct / n_tokens::DOUBLE ELSE 0.0 END AS distinct_ratio,
        |    CASE WHEN n_tokens > 0 THEN top_tok / n_tokens::DOUBLE ELSE 0.0 END AS top_token_frac,
        |    CASE WHEN n_tokens > 1 THEN top_bigram / (n_tokens - 1)::DOUBLE ELSE 0.0 END AS top_bigram_frac
        |  FROM m)
        |ORDER BY doc_id""".stripMargin,
    // repeated-substring duplication (10-token windows; fingerprint = the
    // 60-bit ('0x' || first-15-hex-of-md5) BIGINT both engines derive
    // identically — occurrence counts are multiset, within-doc repeats
    // count)
    "q48_substring_dup" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 10 THEN CAST([] AS BIGINT[])
        |         ELSE list_transform(range(1, len(toks) - 8),
        |           i -> ('0x' || substr(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3], toks[i+4],
        |                              toks[i+5], toks[i+6], toks[i+7], toks[i+8], toks[i+9])), 1, 15))::BIGINT)
        |    END AS wins
        |  FROM toks),
        |u AS (SELECT doc_id, unnest(wins) AS h FROM w),
        |occ AS (SELECT h, count(*) AS occ FROM u GROUP BY h),
        |dup AS (SELECT doc_id, count(*) AS n_dup FROM u JOIN occ USING (h) WHERE occ > 1 GROUP BY doc_id)
        |SELECT w.doc_id, len(wins)::BIGINT AS n_windows,
        |  coalesce(n_dup, 0)::BIGINT AS n_dup_windows,
        |  CASE WHEN len(wins) > 0 THEN coalesce(n_dup, 0)::DOUBLE / len(wins)::DOUBLE ELSE 0.0 END AS dup_frac
        |FROM w LEFT JOIN dup ON w.doc_id = dup.doc_id ORDER BY w.doc_id""".stripMargin,
    // the hygiene pipeline: the q12/q13/q47 feature arithmetic, the q46
    // gram anti-join (over the FILTERED corpus), the q26/q28/q36 closure
    // (over the survivors), and the q37 split md5 chained in one statement
    "q49_hygiene_pipeline" ->
      s"""WITH RECURSIVE featall AS (
         |  SELECT doc_id, text, n_words,
         |    CASE WHEN n_tokens > 0 THEN hits / words ELSE 0.0 END AS stopword_ratio,
         |    CASE WHEN n_tokens > 0 THEN n_distinct / n_tokens::DOUBLE ELSE 0.0 END AS distinct_ratio,
         |    CASE WHEN n_tokens > 1 THEN top_bigram / (n_tokens - 1)::DOUBLE ELSE 0.0 END AS top_bigram_frac
         |  FROM (
         |    SELECT doc_id, text,
         |      len(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_words,
         |      len(toks) AS n_tokens,
         |      len(toks)::DOUBLE AS words,
         |      len(list_filter(toks, t -> t IN ('the','and','of','to','in','is','it','that','for','was','with','are','this','you')))::DOUBLE AS hits,
         |      len(list_distinct(toks))::DOUBLE AS n_distinct,
         |      CASE WHEN len(toks) < 2 THEN 0.0
         |           ELSE list_max(list_transform(list_distinct(list_transform(range(1, len(toks)), i -> concat_ws(' ', toks[i], toks[i+1]))),
         |                  g -> len(list_filter(list_transform(range(1, len(toks)), i -> concat_ws(' ', toks[i], toks[i+1])), y -> y = g))))::DOUBLE
         |      END AS top_bigram
         |    FROM (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |          FROM documents WHERE doc_id % 50 <> 7))),
         |filt AS (
         |  SELECT doc_id, text, n_words, stopword_ratio, distinct_ratio, top_bigram_frac
         |  FROM featall
         |  WHERE n_words >= 15 AND stopword_ratio >= 0.02
         |    AND NOT (top_bigram_frac > 0.1 OR distinct_ratio < 0.3)),
         |bgr AS (
         |  SELECT DISTINCT unnest(grams) AS gram FROM (
         |    SELECT CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
         |                WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |                ELSE list_distinct(list_transform(range(1, len(toks) - 2),
         |                       i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3]))) END AS grams
         |    FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |          FROM documents WHERE doc_id % 50 = 7))),
         |cont AS (
         |  SELECT DISTINCT cg.doc_id FROM (
         |    SELECT doc_id, unnest(grams) AS gram FROM (
         |      SELECT doc_id,
         |        CASE WHEN len(toks) = 0 THEN CAST([] AS VARCHAR[])
         |             WHEN len(toks) < 4 THEN [array_to_string(toks, ' ')]
         |             ELSE list_distinct(list_transform(range(1, len(toks) - 2),
         |                    i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2], toks[i+3]))) END AS grams
         |      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks FROM filt))) cg
         |  JOIN bgr ON cg.gram = bgr.gram),
         |surv AS (SELECT doc_id, text FROM filt WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
         |${reachCtes("surv")},
         |cl AS (SELECT src AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY src),
         |sz AS (SELECT cluster_id, count(*) AS n_members FROM cl GROUP BY cluster_id),
         |keep AS (
         |  SELECT c.doc_id, c.cluster_id, s.n_members
         |  FROM cl c JOIN sz s USING (cluster_id) WHERE c.doc_id = c.cluster_id),
         |spl AS (
         |  SELECT doc_id, bucket,
         |    CASE WHEN bucket < 900 THEN 'train'
         |         WHEN bucket < 950 THEN 'val' ELSE 'test' END AS split,
         |    CAST((('0x' || substr(md5('graft:shard:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 8) AS INTEGER) AS shard
         |  FROM (SELECT doc_id,
         |          CAST((('0x' || substr(md5('graft:split:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000) AS INTEGER) AS bucket
         |        FROM keep))
         |SELECT k.doc_id, f.n_words, f.stopword_ratio, f.distinct_ratio, f.top_bigram_frac,
         |       k.cluster_id, k.n_members, p.bucket, p.split, p.shard
         |FROM keep k JOIN featall f USING (doc_id) JOIN spl p USING (doc_id)
         |ORDER BY k.doc_id""".stripMargin)

  /** q44/q45: q19's independent BM25 chain with every docId ≡ 3 (mod 7)
    * removed BEFORE stats/df (the engine's deleteDocs recomputes both over
    * the survivors; integer doc_len sums are exact in IEEE double, so the
    * oracle's sum/count avgdl equals the engine's). */
  private def deleteSearchOracleSql: String =
    """WITH docs0 AS (
      |  SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS docId, conv_id, turn_idx,
      |    len(list_filter(list_transform(regexp_extract_all(text, '[A-Za-z0-9_''-]+'),
      |          t -> trim(t, '''-')), t -> t <> '')) AS doc_len,
      |    len(list_filter(regexp_extract_all(text, '[A-Za-z0-9_''-]+'),
      |          t -> lower(trim(t, '''-')) IN ('whale', 'whales'))) AS tf
      |  FROM read_parquet('{GRAFT_OUT}/corpus_turns/*.parquet')),
      |docs AS (SELECT * FROM docs0 WHERE docId % 7 <> 3),
      |st AS (SELECT count(*)::DOUBLE AS n, sum(doc_len)::DOUBLE / count(*)::DOUBLE AS avgdl FROM docs),
      |m AS (SELECT * FROM docs WHERE tf > 0),
      |dfc AS (SELECT count(*)::DOUBLE AS df FROM m),
      |scored AS (
      |  SELECT docId, conv_id, turn_idx,
      |    ln(((n - df) + 0.5) / (df + 0.5) + 1.0)
      |      * ((tf::DOUBLE * 2.5) / (tf::DOUBLE + 1.5 * (0.25 + 0.75 * (doc_len::DOUBLE / avgdl)))) AS s
      |  FROM m, st, dfc),
      |mx AS (SELECT max(s) AS mx FROM scored)
      |SELECT docId, conv_id, turn_idx,
      |  CAST(round((0.4*(s/mx) + 0.6*(s/mx)) * 1000000000.0) AS BIGINT) AS score_e9
      |FROM scored, mx ORDER BY s DESC, docId ASC LIMIT 100""".stripMargin

  /** q42: the q16 hamming-ball probe per query id over the shared bucket
    * CTEs (engine probeHamming = 1). */
  private def lshBulkOracleSql(qids: Seq[Long]): String = {
    val blocks = qids.map { qid =>
      s"""qb_$qid AS (SELECT bucket AS qbucket FROM bkt WHERE vec_id = $qid),
         |qe_$qid AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = $qid),
         |t_$qid AS (
         |  SELECT $qid AS query_id, e.vec_id,
         |    list_dot_product(e.embedding::DOUBLE[], qemb::DOUBLE[]) /
         |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(qemb::DOUBLE[], qemb::DOUBLE[]))) AS cosine
         |  FROM embeddings e JOIN bkt ON bkt.vec_id = e.vec_id, qb_$qid, qe_$qid
         |  WHERE e.vec_id <> $qid AND bit_count(xor(bkt.bucket, qbucket)) <= 1
         |  ORDER BY cosine DESC, e.vec_id ASC LIMIT 20)""".stripMargin
    }
    s"""WITH $lshBucketCtes,
       |${blocks.mkString(",\n")}
       |${qids.map(q => s"SELECT * FROM t_$q").mkString(" UNION ALL ")}""".stripMargin
  }

  /** q43: the q27 cell probe per query id over ONE shared codebook +
    * assignment pass (engine nProbe = 4, nCells = 16). */
  private def ivfBulkOracleSql(qids: Seq[Long]): String = {
    val blocks = qids.map { qid =>
      s"""qe_$qid AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = $qid),
         |probe_$qid AS (
         |  SELECT cell FROM c, qe_$qid ORDER BY
         |    list_dot_product(qemb::DOUBLE[], cemb::DOUBLE[]) /
         |    (sqrt(list_dot_product(qemb::DOUBLE[], qemb::DOUBLE[])) *
         |     sqrt(list_dot_product(cemb::DOUBLE[], cemb::DOUBLE[]))) DESC, cell ASC
         |  LIMIT 4),
         |t_$qid AS (
         |  SELECT $qid AS query_id, e.vec_id,
         |    list_dot_product(e.embedding::DOUBLE[], qemb::DOUBLE[]) /
         |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(qemb::DOUBLE[], qemb::DOUBLE[]))) AS cosine
         |  FROM asg e, qe_$qid
         |  WHERE e.vec_id <> $qid AND e.cell IN (SELECT cell FROM probe_$qid)
         |  ORDER BY cosine DESC, e.vec_id ASC LIMIT 20)""".stripMargin
    }
    s"""WITH c AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cemb
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
       |asg AS (
       |  SELECT vec_id, embedding, cell FROM (
       |    SELECT e.vec_id, e.embedding, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_dot_product(e.embedding::DOUBLE[], c.cemb::DOUBLE[]) /
       |        (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
       |         sqrt(list_dot_product(c.cemb::DOUBLE[], c.cemb::DOUBLE[]))) DESC,
       |        c.cell ASC) AS rn
       |    FROM embeddings e CROSS JOIN c) WHERE rn = 1),
       |${blocks.mkString(",\n")}
       |${qids.map(q => s"SELECT * FROM t_$q").mkString(" UNION ALL ")}""".stripMargin
  }

  /** q35: the q32 shortlist + re-rank per query id, shared base CTEs. */
  private def pqBulkOracleSql(qids: Seq[Long]): String = {
    val blocks = qids.map { qid =>
      val sfx = s"_$qid"
      s"""${pqQueryCtes(qid, sfx)},
         |short$sfx AS (
         |  SELECT vec_id, ${pqAdcChainSfx(sfx)} AS adc FROM cvec, lutl$sfx
         |  WHERE vec_id <> $qid
         |  ORDER BY adc ASC, vec_id ASC LIMIT 100),
         |qe$sfx AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = $qid),
         |t$sfx AS (
         |  SELECT $qid AS query_id, e.vec_id,
         |    list_dot_product(e.embedding::DOUBLE[], qemb::DOUBLE[]) /
         |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(qemb::DOUBLE[], qemb::DOUBLE[]))) AS cosine
         |  FROM embeddings e JOIN short$sfx USING (vec_id), qe$sfx
         |  ORDER BY cosine DESC, e.vec_id ASC LIMIT 20)""".stripMargin
    }
    s"""WITH $pqBaseCtes,
       |${blocks.mkString(",\n")}
       |${qids.map(q => s"SELECT * FROM t_$q").mkString(" UNION ALL ")}""".stripMargin
  }

  /** The ADC 8-lookup chain against a suffixed lutl CTE. */
  private def pqAdcChainSfx(sfx: String): String = (0 until PqM)
    .map(j => s"lutl$sfx.l[${j * PqCodes} + cl[${j + 1}] + 1]")
    .mkString("0.0 + ", " + ", "")

  /** Shared tokenize prefix + per-atom BM25/top-k blocks for the bulk
    * oracles. `m_<id>` is atom-specific (tf per doc, tf > 0); the score
    * tail (df, BM25 in the engine's IEEE order, max-normalize, 0.4/0.6
    * single-operand fold, top-100) is identical for every atom shape. */
  private def bulkPrefixSql: String =
    """docs AS (
      |  SELECT row_number() OVER (ORDER BY conv_id, turn_idx) - 1 AS docId, conv_id, turn_idx,
      |    list_filter(list_transform(regexp_extract_all(text, '[A-Za-z0-9_''-]+'),
      |        t -> trim(t, '''-')), t -> t <> '') AS toks
      |  FROM read_parquet('{GRAFT_OUT}/corpus_turns/*.parquet')),
      |base AS (SELECT docId, conv_id, turn_idx, len(toks) AS doc_len, toks FROM docs),
      |st AS (SELECT count(*)::DOUBLE AS n, sum(doc_len)::DOUBLE / count(*)::DOUBLE AS avgdl FROM base)""".stripMargin

  private def bulkTermBlockSql(id: String, forms: Seq[String]): String = {
    val in = forms.map(f => s"'$f'").mkString(", ")
    s"""m_$id AS (
       |  SELECT * FROM (
       |    SELECT docId, conv_id, turn_idx, doc_len,
       |      len(list_filter(toks, t -> lower(t) IN ($in))) AS tf
       |    FROM base) WHERE tf > 0)""".stripMargin
  }

  /** Two-word phrase tf with the reference's stale-postings fold
    * (PhraseMatch.phraseTf; same CASE as the q20 oracle). */
  private def bulkPhraseBlockSql(id: String, formsA: Seq[String], formsB: Seq[String]): String = {
    val inA = formsA.map(f => s"'$f'").mkString(", ")
    val inB = formsB.map(f => s"'$f'").mkString(", ")
    s"""m_$id AS (
       |  SELECT * FROM (
       |    SELECT docId, conv_id, turn_idx, doc_len,
       |      CASE WHEN len(ap) = 0 THEN 0
       |           WHEN len(bp) = 0 THEN len(ap)
       |           ELSE len(list_intersect(bp, list_transform(ap, q -> q + 1))) END AS tf
       |    FROM (
       |      SELECT docId, conv_id, turn_idx, doc_len,
       |        list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) IN ($inA) THEN i - 1 ELSE -1 END), p -> p >= 0) AS ap,
       |        list_filter(list_transform(toks, (t, i) -> CASE WHEN lower(t) IN ($inB) THEN i - 1 ELSE -1 END), p -> p >= 0) AS bp
       |      FROM base)) WHERE tf > 0)""".stripMargin
  }

  private def bulkScoreTailSql(id: String, queryLit: String): String =
    s"""s_$id AS (
       |  SELECT docId, conv_id, turn_idx,
       |    ln(((n - df) + 0.5) / (df + 0.5) + 1.0)
       |      * ((tf::DOUBLE * 2.5) / (tf::DOUBLE + 1.5 * (0.25 + 0.75 * (doc_len::DOUBLE / avgdl)))) AS s
       |  FROM m_$id, st, (SELECT count(*)::DOUBLE AS df FROM m_$id)),
       |t_$id AS (
       |  SELECT '$queryLit' AS query, docId, conv_id, turn_idx,
       |    CAST(round((0.4*(s/mx) + 0.6*(s/mx)) * 1000000000.0) AS BIGINT) AS score_e9
       |  FROM s_$id, (SELECT max(s) AS mx FROM s_$id)
       |  ORDER BY s DESC, docId ASC LIMIT 100)""".stripMargin

  private def bulkUnionSql(blocks: Seq[String], ids: Seq[String]): String =
    s"""WITH $bulkPrefixSql,
       |${blocks.mkString(",\n")}
       |${ids.map(id => s"SELECT * FROM t_$id").mkString(" UNION ALL ")}""".stripMargin

  /** q19's BM25 SQL per bulk query term, sharing one tokenize pass. */
  private def bulkTermOracleSql: String =
    bulkUnionSql(
      bulkTerms.map { case (q, forms) =>
        bulkTermBlockSql(q, forms) + ",\n" + bulkScoreTailSql(q, q)
      },
      bulkTerms.map(_._1))

  /** q34: term atoms + two-word phrase atoms in one UNION. */
  private def bulkMixedOracleSql: String = {
    val blocks = Seq(
      bulkTermBlockSql("whale", Seq("whale", "whales")) + ",\n" +
        bulkScoreTailSql("whale", "whale"),
      bulkTermBlockSql("fish", Seq("fish", "fishes")) + ",\n" +
        bulkScoreTailSql("fish", "fish"),
      bulkPhraseBlockSql("p1", Seq("blue"), Seq("whale", "whales")) + ",\n" +
        bulkScoreTailSql("p1", "\"blue whale\""),
      bulkPhraseBlockSql("p2", Seq("red"), Seq("fish", "fishes")) + ",\n" +
        bulkScoreTailSql("p2", "\"red fish\""))
    bulkUnionSql(blocks, Seq("whale", "fish", "p1", "p2"))
  }

  /** Shared PQ CTEs (m=8 subspaces of 8 dims, nCodes=16): normalized
    * vectors, codebook, per-vector codes, query ADC LUT. `$chain` is the
    * explicit left-associated 8-lookup ADC sum. */
  private val PqM = 8
  private val PqCodes = 16
  private def pqAdcChain: String = (0 until PqM)
    .map(j => s"l[${j * PqCodes} + cl[${j + 1}] + 1]")
    .mkString("0.0 + ", " + ", "")
  private def pqBaseCtes: String =
    s"""ne AS (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[],
       |    x -> x / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS nv
       |  FROM embeddings),
       |book AS (
       |  SELECT j, row_number() OVER (PARTITION BY j ORDER BY vec_id) - 1 AS code,
       |    nv[j*8+1 : j*8+8] AS sub
       |  FROM (SELECT vec_id, nv FROM ne ORDER BY vec_id LIMIT $PqCodes),
       |       (SELECT unnest(range(0, $PqM)) AS j)),
       |enc AS (
       |  SELECT vec_id, j, code FROM (
       |    SELECT n.vec_id, b.j, b.code,
       |      row_number() OVER (PARTITION BY n.vec_id, b.j ORDER BY
       |        list_dot_product(
       |          list_transform(list_zip(n.nv[b.j*8+1 : b.j*8+8], b.sub), z -> z[1] - z[2]),
       |          list_transform(list_zip(n.nv[b.j*8+1 : b.j*8+8], b.sub), z -> z[1] - z[2])) ASC,
       |        b.code ASC) AS rn
       |    FROM ne n CROSS JOIN book b) WHERE rn = 1),
       |cvec AS (SELECT vec_id, list(code ORDER BY j) AS cl FROM enc GROUP BY vec_id)""".stripMargin

  /** Per-query ADC CTEs (suffix-named so several queries can coexist). */
  private def pqQueryCtes(qid: Long, sfx: String): String =
    s"""qn$sfx AS (SELECT nv AS qnv FROM ne WHERE vec_id = $qid),
       |lut$sfx AS (
       |  SELECT b.j, b.code,
       |    list_dot_product(
       |      list_transform(list_zip(qnv[b.j*8+1 : b.j*8+8], b.sub), z -> z[1] - z[2]),
       |      list_transform(list_zip(qnv[b.j*8+1 : b.j*8+8], b.sub), z -> z[1] - z[2])) AS v
       |  FROM book b, qn$sfx),
       |lutl$sfx AS (SELECT list(v ORDER BY j * $PqCodes + code) AS l FROM lut$sfx)""".stripMargin

  private def pqCtes: String =
    s"""$pqBaseCtes,
       |${pqQueryCtes(0L, "")}""".stripMargin

  /** Exact-cosine re-rank of a `short(vec_id)` CTE. */
  private def pqRerankSql: String =
    """qe AS (SELECT embedding AS qemb FROM embeddings WHERE vec_id = 0)
      |SELECT e.vec_id,
      |  list_dot_product(e.embedding::DOUBLE[], qemb::DOUBLE[]) /
      |  (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |   sqrt(list_dot_product(qemb::DOUBLE[], qemb::DOUBLE[]))) AS cosine
      |FROM embeddings e JOIN short USING (vec_id), qe
      |ORDER BY cosine DESC, e.vec_id ASC LIMIT 20""".stripMargin

  private def pqOracleSql: String =
    s"""WITH $pqCtes,
       |short AS (
       |  SELECT vec_id, $pqAdcChain AS adc FROM cvec, lutl
       |  WHERE vec_id <> 0
       |  ORDER BY adc ASC, vec_id ASC LIMIT 100),
       |$pqRerankSql""".stripMargin

  /** IVF-PQ: q27's cell assignment + probe restrict the ADC shortlist. */
  private def ivfPqOracleSql: String =
    s"""WITH $pqCtes,
       |c AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, embedding AS cemb
       |  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)),
       |qc AS (SELECT embedding AS qcemb FROM embeddings WHERE vec_id = 0),
       |asg AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        list_dot_product(e.embedding::DOUBLE[], c.cemb::DOUBLE[]) /
       |        (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
       |         sqrt(list_dot_product(c.cemb::DOUBLE[], c.cemb::DOUBLE[]))) DESC,
       |        c.cell ASC) AS rn
       |    FROM embeddings e CROSS JOIN c) WHERE rn = 1),
       |probe AS (
       |  SELECT cell FROM c, qc ORDER BY
       |    list_dot_product(qcemb::DOUBLE[], cemb::DOUBLE[]) /
       |    (sqrt(list_dot_product(qcemb::DOUBLE[], qcemb::DOUBLE[])) *
       |     sqrt(list_dot_product(cemb::DOUBLE[], cemb::DOUBLE[]))) DESC, cell ASC
       |  LIMIT 4),
       |short AS (
       |  SELECT cv.vec_id, $pqAdcChain AS adc
       |  FROM cvec cv JOIN asg USING (vec_id), lutl
       |  WHERE cv.vec_id <> 0 AND asg.cell IN (SELECT cell FROM probe)
       |  ORDER BY adc ASC, cv.vec_id ASC LIMIT 100),
       |$pqRerankSql""".stripMargin
}
