package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftParams
import graft.build.Tables
import graft.model.{IndexStats, SearchHit}
import graft.query._
import graft.store.TableIO
import graft.text.TextPipeline

/** Distributed BM25 search over the index tables.
  *
  * The reference loads the whole index into driver memory and scores dense
  * per-corpus vectors (/root/reference/source/BM25Ranker.cpp:26-30,311-319).
  * Here only the docs a query's atoms match are scored, each by one
  * per-doc kernel (`DenseEval.Kernel`); every other doc holds the query's
  * default score — an exact encoding of the dense algebra: NOT flips the
  * default to 1−d instead of materializing 10^12 rows; only the final
  * top-k densifies, and only when the default can still reach the result
  * set.
  *
  * `topKAuto` routes each query along one of three exact paths:
  *  - a single bare term → block-max WAND over the compressed block index
  *    (`termTopKWand`);
  *  - driver-sized operands → one pruned postings scan for the bare-term
  *    atoms and one phrase fold for the phrase atoms, then the kernel
  *    in-process on the driver (`topKDriver`);
  *  - anything bigger → one docId shuffle aligns every atom, then the same
  *    kernel per partition (`topKDense`).
  * All three score with `Bm25` in the same IEEE operation order, end in
  * one top-k tail and are bit-identical to `RefOracle` (EngineSpec). The
  * bulk entry points
  * (`searchManyTerms`, `searchMany`, `searchManyAuto`) share operand
  * fetches across a batch. A call that caches a frame unpersists it
  * before it returns.
  *
  * An engine is one version of the warehouse's commit log: stats and the
  * tombstone count come from the log, and the never-cached `postings`,
  * `dict`, `blocks` and `deleted_term_df` handles are read from that
  * version's file list with declared schemas, so neither opening nor a
  * first query runs a metadata job. Re-open after any write to see it;
  * the HTTP server does, and resolves its `--input` turns frame with each
  * re-open.
  */
final class SparkSearchEngine(
    spark: SparkSession,
    io: TableIO,
    val params: GraftParams = GraftParams()) {
  import spark.implicits._

  /** The log version this engine serves: opening reads the log on the
    * driver (no Spark job), and every table below is read from exactly
    * this version's file list, so a query that races a write sees one
    * whole snapshot. */
  val snapshot: graft.store.Snapshot = io.snapshot()
  // refuse a warehouse whose block layout this engine cannot decode
  graft.build.FormatGuard.check(snapshot, "SparkSearchEngine")

  lazy val stats: IndexStats = {
    require(snapshot.has(Tables.DocDict), s"warehouse has no index (version ${snapshot.version})")
    IndexStats(snapshot.state.docs, snapshot.state.avgDocLen)
  }

  /** Un-compacted tombstones (IndexBuilder.deleteDocs), applied by every
    * query path; None on the common never-deleted path — the plans below
    * are byte-identical to the pre-deletes engine when it returns None. */
  private lazy val deletes: Option[DataFrame] =
    if (snapshot.has(Tables.Deletes)) Some(io.read(Tables.Deletes, snapshot).select($"docId"))
    else None
  private def minusDeleted(df: DataFrame): DataFrame =
    deletes.fold(df)(d => df.join(broadcast(d), Seq("docId"), "left_anti"))
  private lazy val postings = minusDeleted(io.read(Tables.Postings, snapshot))
  /** The dictionary with tombstoned docs: enough to look up result ids,
    * which are live by construction (postings, the dense fill and the
    * WAND skip set all exclude tombstones), with no anti-join job. */
  private lazy val rawDict = io.read(Tables.DocDict, snapshot)
  private lazy val dict = minusDeleted(rawDict)
  private lazy val blocks = io.read(Tables.Blocks, snapshot)
  private lazy val deletedTermDf: Option[DataFrame] =
    if (deletes.isDefined && snapshot.has(Tables.DeletedTermDf))
      Some(io.read(Tables.DeletedTermDf, snapshot))
    else None

  /** Exact deleted-id test for the WAND kernels (a Bloom filter's false
    * positive would drop a LIVE doc — unacceptable, unlike the phrase
    * prefilter where FPs fold to tf=0). The sorted ids are collected and
    * broadcast once per engine, bounded by `params.maxDeletedIdsInMemory`
    * (checked against the log's tombstone count before any job), past
    * which the warehouse needs a compact() before block-index queries.
    * The lambda captures only the broadcast handle: bind it to a local
    * `val` BEFORE a mapPartitions closure (reading the field inside one
    * captures the non-serializable engine). */
  private lazy val deletedFn: Long => Boolean = deletes match {
    case None => _ => false
    case Some(d) =>
      if (snapshot.state.tombstones > params.maxDeletedIdsInMemory) throw new IllegalStateException(
        s"more than ${params.maxDeletedIdsInMemory} tombstoned docs — run " +
          "IndexBuilder.compact() to purge them (or raise maxDeletedIdsInMemory)")
      val arr = d.as[Long].collect()
      java.util.Arrays.sort(arr)
      val bc = spark.sparkContext.broadcast(arr)
      id => java.util.Arrays.binarySearch(bc.value, id) >= 0
  }

  /** Live df of every key that has blocks: block `n_docs` minus the
    * tombstone deltas — the exact row count of the key's filtered
    * postings, and correct across incrementally appended segments (unlike
    * the batch-only term_stats table). One shuffle-free job (a row per
    * block and per delta, summed on the driver); none for no keys. */
  private def liveDf(keys: Seq[String]): Map[String, Long] =
    if (keys.isEmpty) Map.empty
    else {
      val counts = blocks.filter($"term".isin(keys: _*)).select($"term", $"n_docs".cast("long"))
      deletedTermDf.fold(counts)(d =>
        counts.union(d.filter($"term".isin(keys: _*)).select($"term", -$"delta")))
        .as[(String, Long)].collect().groupMapReduce(_._1)(_._2)(_ + _)
    }

  /** A phrase fold's input — (docId, doc_len, term, positions_vb) of every
    * stem of `phrases` — with a map-side candidate prefilter. Phrase tf
    * can be nonzero ONLY for docs with the FIRST stem: `PhraseMatch.phraseTf`
    * returns 0 when `stems.head` is absent, while every LATER missing stem
    * is skip-folded (the reference's stale-postings quirk,
    * BM25Ranker.cpp:439-491) — so the head stem is the one necessary
    * condition a prefilter may use. When the head stems' df is big enough
    * AND selective enough to pay for the Bloom build + per-row test
    * (df(head) ≤ maxRatio·Σdf — measured 0.76–0.87× when head df was
    * ~40% of the shuffle), broadcast a Bloom filter of their docIds and
    * drop non-candidate postings BEFORE the docId shuffle: the shuffle
    * falls from Σ df(all stems) to ≈ df(head) rows. False positives are
    * harmless (they fold to tf=0 and are filtered), so results are
    * bit-identical at any fpp; the filter is pure plan surgery, the fold
    * is untouched. On corpora smaller than the minDf threshold the df
    * lookup itself is skipped — zero extra jobs on the common path. */
  private def stemPostings(phrases: Seq[Vector[String]]): DataFrame = {
    val allStems = phrases.flatten.distinct
    // a doc is a candidate iff it contains SOME phrase's head stem (each
    // phrase's fold returns 0 without its own head)
    val heads = phrases.map(_.head).distinct
    val base = postings.filter($"term".isin(allStems: _*))
      .select($"docId", $"doc_len", $"term", $"positions_vb")
    if (stats.total_docs < params.phrasePrefilterMinDf) return base // no job
    val dfByTerm = liveDf(allStems)
    val dfHead = heads.map(dfByTerm.getOrElse(_, 0L)).sum
    val dfAll = allStems.map(dfByTerm.getOrElse(_, 0L)).sum
    // gate on what the filter SAVES (the Σdf shuffle) and on selectivity
    // (df(head)/Σdf) — NOT on df(head) being large: the canonical win is
    // a rare head against a stop-word-class tail stem, where df(head) is
    // tiny and the saved shuffle is nearly all of Σdf
    if (dfAll < params.phrasePrefilterMinDf ||
      dfHead > dfAll * params.phrasePrefilterMaxRatio) base
    else {
      val bf = postings.filter($"term".isin(heads: _*)).select($"docId")
        .stat.bloomFilter("docId", math.max(dfHead, 1L), 0.01)
      val bBf = spark.sparkContext.broadcast(bf)
      val mightContain = udf((id: Long) => bBf.value.mightContain(id))
      base.filter(mightContain($"docId"))
    }
  }

  private type Rows = Array[(Long, Int, Int)] // (docId, tf, doc_len)

  /** Rows of every bare-term key in ONE pruned postings scan, gated up
    * front on `liveDf` (the exact row count): keys above
    * `driverAlgebraMaxDocs` are returned in the set, not fetched. */
  private def fetchTerms(keys: Seq[String]): (Map[String, Rows], Set[String]) = {
    val df = liveDf(keys)
    val tooBig = df.collect { case (t, n) if n > params.driverAlgebraMaxDocs => t }.toSet
    val fetch = df.collect { case (t, n) if n > 0 && !tooBig(t) => t }.toSeq
    val rows =
      if (fetch.isEmpty) Map.empty[String, Rows]
      else postings.filter($"term".isin(fetch: _*))
        .select($"term", $"docId", $"tf", $"doc_len")
        .as[(String, Long, Int, Int)].collect()
        .groupBy(_._1).map { case (t, rs) => t -> rs.map(r => (r._2, r._3, r._4)) }
    (rows, tooBig)
  }

  /** Rows of every phrase from ONE `phraseFold`; None when a phrase
    * matches more than `driverAlgebraMaxDocs` docs. The collect stops at
    * phrases·max + 1 rows: reaching that quota means some phrase is over
    * (pigeonhole); below it the per-phrase counts decide exactly. */
  private def fetchPhrases(phrases: Seq[Vector[String]]): Option[Map[Vector[String], Rows]] =
    if (phrases.isEmpty) Some(Map.empty)
    else {
      val ps = phrases.distinct
      val max = params.driverAlgebraMaxDocs
      val quota = math.min(ps.length.toLong * max + 1, Int.MaxValue.toLong).toInt
      val rows = phraseFold(ps).limit(quota).as[(Int, Long, Int, Int)].collect()
      val byPhrase = rows.groupBy(_._1)
      if (rows.length >= quota || byPhrase.exists(_._2.length > max)) None
      else Some(byPhrase.map { case (i, rs) => ps(i) -> rs.map(r => (r._2, r._3, r._4)) })
    }

  /** The phrase positional fold, for many phrases at once: ONE shuffle on
    * docId over `stemPostings(phrases)`,
    * then every phrase's fold (stale-postings quirk included) runs
    * doc-locally in one pass. Returns the UNCACHED frame
    * (pidx, docId, tf, doc_len) of every doc with tf > 0, `pidx` indexing
    * `phrases`; a caller that reads it twice caches it and unpersists it
    * before returning. Phrases must be non-empty. */
  private def phraseFold(phrases: Seq[Vector[String]]): DataFrame = {
    val indexed = phrases.zipWithIndex.toArray
    stemPostings(phrases)
      .groupBy($"docId")
      .agg(first($"doc_len").as("doc_len"), // constant per doc
        collect_list(struct($"term", $"positions_vb")).as("tp"))
      .as[(Long, Int, Seq[(String, Array[Byte])])]
      .flatMap { case (docId, dl, tp) =>
        val termPos = tp.iterator.map { case (t, vb) =>
          t -> graft.codec.VarByte.decodePositions(vb).toSeq
        }.toMap
        indexed.iterator.flatMap { case (stems, i) =>
          val tf = PhraseMatch.phraseTf(stems, termPos)
          if (tf > 0) Iterator.single((i, docId, tf, dl)) else Iterator.empty
        }
      }
      .toDF("pidx", "docId", "tf", "doc_len")
  }

  /** The top-k tail of every route: the accuracy filter, (score desc,
    * docId asc), then the dense fill — when `default`, the score of every
    * doc outside the scored support, can still qualify, the k lowest of
    * those docIds (`absent`) join at `default`. `scored` may already be
    * cut to its top k in that order: the filter keeps a prefix of it. */
  private def topKTail(
      scored: Iterator[(Long, Double)],
      default: Double,
      accuracy: Double,
      k: Int,
      absent: => DataFrame): Vector[(Long, Double)] = {
    val top = scored.filter(_._2 >= accuracy).toVector
      .sortBy { case (d, s) => (-s, d) }.take(k)
    val needFill = default >= accuracy && (top.length < k || top.last._2 <= default)
    if (!needFill) top
    else {
      val fill = absent.orderBy($"docId".asc).limit(k)
        .as[Long].collect().toVector.map(d => (d, default))
      (top ++ fill).sortBy { case (d, sc) => (-sc, d) }.take(k)
    }
  }

  /** Live docIds outside a driver-held `present` set. */
  private def absentFrom(present: Seq[Long]): DataFrame =
    if (present.size <= 10000) dict.select($"docId").filter(!$"docId".isin(present: _*))
    else dict.select($"docId").join(spark.createDataset(present).toDF("docId"), Seq("docId"), "left_anti")

  private def kernel(root: DenseEval.QNode, nAtoms: Int): DenseEval.Kernel =
    new DenseEval.Kernel(root, nAtoms, stats.total_docs, params.k1, params.b, stats.avg_doc_len)

  /** The driver route over prefetched rows (`rowsOf` an atom): the rows
    * aligned per doc in-process and the kernel run there, no Spark job;
    * None when the aligned union holds more than `driverAlgebraMaxDocs`
    * docs — the reference's algebra unions its operands' docs at every
    * operator, so that union is the largest set it would hold. */
  private def driverTopK(
      root: DenseEval.QNode,
      atoms: IndexedSeq[DenseEval.Atom],
      rowsOf: DenseEval.Atom => Rows,
      accuracy: Double,
      k: Int): Option[Vector[(Long, Double)]] = {
    import scala.collection.mutable
    val byDoc = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Int, Int, Int)]]
    for ((atom, i) <- atoms.zipWithIndex; (d, tf, dl) <- rowsOf(atom))
      byDoc.getOrElseUpdate(d, mutable.ArrayBuffer.empty) += ((i, tf, dl))
    if (byDoc.size > params.driverAlgebraMaxDocs) None
    else {
      val docs = byDoc.iterator.map { case (d, rows) => (d, rows.toArray) }.toArray
      val resolved = kernel(root, atoms.length).resolve(pass => Seq(pass(docs.iterator)))
      Some(topKTail(resolved.scores(docs.iterator), resolved.default, accuracy, k,
        absentFrom(docs.map(_._1).toSeq)))
    }
  }

  /** An atom's prefetched rows; an atom absent from its map matched no doc. */
  private def rowsOf(terms: Map[String, Rows], phrases: Map[Vector[String], Rows])(
      atom: DenseEval.Atom): Rows =
    atom.fold(terms.get, phrases.get).getOrElse(Array.empty)

  /** Driver-route top-k; None when an operand, or the docs the operands
    * match together, exceed `driverAlgebraMaxDocs`. The query's operands
    * are fetched together: every bare-term atom in one postings scan gated
    * on its live df, every phrase atom in one `phraseFold` (one docId
    * shuffle); the kernel then runs in-process. */
  def topKDriver(query: String, accuracy: Double, k: Int): Option[Vector[(Long, Double)]] = {
    val ast = new DenseEval.AstAlgebra(params.stemBareTerms)
    val root = QueryEvaluator.evaluate(query, ast, params)
    val atoms = ast.atomList
    val (termRows, bigTerms) = fetchTerms(atoms.collect { case Left(t) => t })
    if (bigTerms.nonEmpty) None
    else fetchPhrases(atoms.collect { case Right(st) => st }).flatMap { phraseRows =>
      driverTopK(root, atoms, rowsOf(termRows, phraseRows), accuracy, k)
    }
  }

  /** Dense ONE-SHUFFLE evaluator for arbitrary boolean/mixed queries — the
    * beyond-driver-sized path. Evaluating the algebra operator by operator
    * over distributed frames would pay a full_outer shuffle join per
    * operator plus a cache and a max-aggregate per op; at 10^7+ docs with
    * head-stem operands that join cascade dominates. Here the whole query
    * costs:
    *   1. ONE pruned postings scan per atom shape (bare terms; phrase
    *      stems with the head-stem Bloom prefilter) feeding ONE docId
    *      shuffle that aligns every atom's (tf, doc_len) per doc — every
    *      phrase's positional fold runs inside that same grouping (its own
    *      grouping, not `phraseFold`: term and phrase rows share it);
    *   2. the `DenseEval` kernel's constant passes, each one no-shuffle
    *      `mapPartitions` over the cached aligned frame (per-atom df and
    *      max, then each normalization node bottom-up — stackCombine
    *      contributes one per stack + one final);
    *   3. the kernel's final per-doc score in one no-shuffle map, then the
    *      top-k (TakeOrderedAndProject) and the shared tail.
    * The aligned frame is cached for those passes and unpersisted before
    * returning. The kernel is the one `topKDriver` runs in-process, so the
    * two routes agree bit for bit; both equal WAND and `RefOracle`
    * (EngineSpec). */
  def topKDense(query: String, accuracy: Double, k: Int): Vector[(Long, Double)] = {
    val ast = new DenseEval.AstAlgebra(params.stemBareTerms)
    val root = QueryEvaluator.evaluate(query, ast, params)
    val atoms = ast.atomList
    val termAtoms = atoms.zipWithIndex.collect { case (Left(t), i) => (t, i) }
    val phraseAtoms = atoms.zipWithIndex.collect { case (Right(st), i) => (st, i) }

    // ---- 1. aligned frame: (docId, [(atomIdx, tf, doc_len)]) ----------
    // row: (docId, doc_len, isStem, atomIdx, tf, term, positions_vb)
    type Row = (Long, Int, Boolean, Int, Int, String, Array[Byte])
    val termRows: Option[Dataset[Row]] =
      if (termAtoms.isEmpty) None
      else {
        val bIdx = spark.sparkContext.broadcast(termAtoms.toMap)
        Some(postings.filter($"term".isin(termAtoms.map(_._1).distinct: _*))
          .select($"term", $"docId", $"tf", $"doc_len")
          .as[(String, Long, Int, Int)]
          .map { case (t, d, tf, dl) => (d, dl, false, bIdx.value(t), tf, "", Array.empty[Byte]) })
      }
    val stemRows: Option[Dataset[Row]] =
      if (phraseAtoms.isEmpty) None
      else Some(stemPostings(phraseAtoms.map(_._1))
        .as[(Long, Int, String, Array[Byte])]
        .map { case (d, dl, t, vb) => (d, dl, true, -1, 0, t, vb) })
    val rows: Dataset[Row] = (termRows.toSeq ++ stemRows.toSeq)
      .reduceOption(_ union _)
      .getOrElse(spark.emptyDataset[(Long, Int, Boolean, Int, Int, String, Array[Byte])])
    val bPhrases = spark.sparkContext.broadcast(phraseAtoms.toArray)
    val aligned = rows
      .groupByKey(_._1)
      .flatMapGroups { (docId: Long, it: Iterator[Row]) =>
        val entries = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
        var termPos: scala.collection.mutable.HashMap[String, Seq[Int]] = null
        var dl = 0
        it.foreach { case (_, dlr, isStem, aIdx, tf, term, vb) =>
          dl = dlr
          if (!isStem) entries += ((aIdx, tf, dlr))
          else {
            if (termPos == null) termPos = scala.collection.mutable.HashMap.empty
            termPos(term) = graft.codec.VarByte.decodePositions(vb).toSeq
          }
        }
        if (termPos != null) {
          val tp = termPos.toMap
          bPhrases.value.foreach { case (stems, aIdx) =>
            val tf = PhraseMatch.phraseTf(stems, tp)
            if (tf > 0) entries += ((aIdx, tf, dl))
          }
        }
        if (entries.nonEmpty) Iterator.single((docId, entries.toArray))
        else Iterator.empty
      }
      .cache()
    try {
      // ---- 2. the kernel's constant passes, one job each ---------------
      val resolved = kernel(root, atoms.length).resolve(pass =>
        aligned.mapPartitions(it => Iterator.single(pass(it))).collect().toSeq)
      // ---- 3. final scores + top-k + the shared tail --------------------
      val top = aligned.mapPartitions(resolved.scores)
        .toDF("docId", "score")
        .orderBy($"score".desc, $"docId".asc).limit(k)
        .as[(Long, Double)].collect()
      topKTail(top.iterator, resolved.default, accuracy, k,
        dict.select($"docId")
          .join(aligned.toDF("docId", "entries").select($"docId"), Seq("docId"), "left_anti"))
    } finally { aligned.unpersist(false); () }
  }

  /** Block-max WAND top-k for a single bare term — rank- and
    * score-identical to the exhaustive path (same IEEE operation order;
    * the normalization max IS the top-1 score), but reads the compressed
    * block index and stops decoding once a block's upper bound can no
    * longer enter the top-k. The 10^12-doc fast path for the most common
    * query shape. */
  def termTopKWand(rawTerm: String, accuracy: Double = 0.0, k: Int = params.topK): Vector[(Long, Double)] = {
    val key = if (params.stemBareTerms) TextPipeline.term(rawTerm) else rawTerm
    val raw: Vector[(Long, Double)] = liveDf(Seq(key)).get(key).filter(_ > 0L) match {
      case None => Vector.empty
      case Some(df) =>
        val idf = Bm25.idf(stats.total_docs.toDouble, df.toDouble)
        val p = params; val st = stats
        val delFn = deletedFn
        val cands = blocks.filter($"term" === key).as[graft.model.IndexBlock]
          .mapPartitions(it => Wand.topKForPartition(it, idf, k, p, st, delFn))
          .collect()
        Wand.mergeTopK(cands.toIndexedSeq, k)
    }
    val mx = raw.headOption.map(_._2).getOrElse(0.0)
    // single-operand stackCombine (ProcessQuery :152-154,183-203): the
    // final score is TFW·normalize(x) + EMW·x — not an IEEE no-op, so it
    // must be applied here too for bit-identity with the algebra path;
    // absent docs hold 0 (the driver tail's dense zero-fill)
    val tfw = params.termFrequencyWeight; val emw = params.exactMatchWeight
    topKTail(raw.iterator.map { case (d, s) =>
      val n = if (mx > 0) s / mx else s
      d -> (tfw * n + emw * n)
    }, 0.0, accuracy, k, absentFrom(raw.map(_._1)))
  }

  /** Single bare term (no quotes, no operators) → WAND-routable. */
  private def asSingleTerm(query: String): Option[String] =
    QueryLexer.lex(query) match {
      case Vector(QueryLexer.QTerm(t)) => Some(t)
      case _ => None
    }

  /** Route a query along the cheapest exact path: single bare term → WAND
    * over the block index; driver-sized operands → distributed fetch +
    * the kernel on the driver; otherwise the dense one-shuffle evaluator. All
    * paths are bit-identical to `RefOracle` (tested). */
  def topKAuto(query: String, accuracy: Double, k: Int): Vector[(Long, Double)] =
    asSingleTerm(query) match {
      case Some(t) => termTopKWand(t, accuracy, k)
      case None => topKDriver(query, accuracy, k)
        .getOrElse(topKDense(query, accuracy, k))
    }

  /** Full search with snippets over the source turns table: every top-k
    * hit in rank order. A hit whose turn `turns` lacks (a crawled source
    * not delivered to the input) keeps its place with an empty text and
    * snippet. */
  def search(query: String, turns: DataFrame, accuracy: Double = 0.0): Vector[SearchHit] = {
    val top = topKAuto(query, accuracy, params.topK)
    if (top.isEmpty) return Vector.empty
    val keys = Snippeter.queryKeys(query, params.stemBareTerms)
    val weights = QueryEvaluator.wordsAndPhrasesWeights(query)
    // ≤ k dict rows to the driver, then ONE filtered scan of turns for
    // exactly their keys (conv_id pushed down to the scan): no join, so no
    // broadcast job and no shuffle of turns
    val refs = rawDict.filter($"docId".isin(top.map(_._1): _*))
      .select($"docId", $"conv_id", $"turn_idx").as[(Long, String, Int)].collect()
      .map { case (d, c, t) => d -> ((c, t)) }.toMap
    val wanted = refs.values.toSeq.distinct
    val texts = turns
      .filter($"conv_id".isin(wanted.map(_._1).distinct: _*) && struct($"conv_id", $"turn_idx").isin(
        wanted.map { case (c, t) => struct(lit(c).as("conv_id"), lit(t).as("turn_idx")) }: _*))
      .select($"conv_id", $"turn_idx", $"text").as[(String, Int, String)].collect()
      .map { case (c, t, text) => (c, t) -> text }.toMap
    top.map { case (docId, score) =>
      val (convId, turnIdx) = refs(docId)
      val text = texts.get((convId, turnIdx))
      SearchHit(docId, convId, turnIdx, score, text.getOrElse(""),
        text.fold("")(Snippeter.snippet(_, keys, weights)))
    }
  }

  /** Bulk multi-query scoring: the top-k of MANY bare-term queries in one
    * distributed plan. The single-query paths cost ≥ one Spark job each —
    * fine interactively, but a training-data pipeline re-scoring thousands
    * of filter queries pays that scheduling overhead per query. Every
    * term runs the block-max WAND kernel inside ONE pruned scan of the
    * compressed blocks table (termAtomFrame — pruning, not just batching:
    * full-scoring head terms measured slower than per-query WAND), and
    * the per-query top-k is a SALTED two-phase window — partial top-k per
    * (query, salt), then final top-k over ≤ salts·k survivors — so a
    * stop-word term with 10^9 postings still never concentrates on a
    * single partition.
    *
    * Results are bit-identical to the single-query paths (same WAND
    * kernel, same IEEE order everywhere after it): asserted against WAND
    * in EngineSpec. Semantics: per query, the top-k MATCHING docs (score
    * desc, docId asc) after the accuracy filter. The single-query paths'
    * dense zero-fill of sub-k result sets (a reference presentation
    * quirk) is deliberately not replicated — absent docs score 0 and a
    * bulk filtering pipeline wants matches, not padding; with
    * accuracy > 0 the single-query paths agree exactly.
    *
    * @return (query, docId, conv_id, turn_idx, score), k rows max per query
    */
  def searchManyTerms(
      queries: Seq[String],
      k: Int = params.topK,
      accuracy: Double = 0.0): DataFrame = {
    require(queries.nonEmpty, "searchManyTerms needs at least one query")
    val keyed = queries.distinct
      .map(q => (q, if (params.stemBareTerms) TextPipeline.term(q) else q))
    withDict(bulkTopK(termAtomFrame(keyed, k), k, accuracy))
  }

  /** Bulk scoring for single-ATOM queries of either shape — a bare term
    * OR a quoted phrase — through the same bulk tail as `searchManyTerms`.
    * Terms ride the WAND block scan; all phrases share ONE `phraseFold`
    * (one docId shuffle over the union of their stems). Per-query results
    * are bit-identical to the single-query evaluator (q20's single-phrase
    * fold is tfw·normalize(x) + emw·x with x already max-normalized — the
    * same combine as a bare term, no PHRASE_BOOST outside mixed queries).
    * The scoring runs eagerly, so the fold's cache is released before
    * this returns; the returned frame only attaches the dictionary. */
  def searchMany(
      queries: Seq[String],
      k: Int = params.topK,
      accuracy: Double = 0.0): DataFrame = {
    require(queries.nonEmpty, "searchMany needs at least one query")
    val atoms = queries.distinct.map { q =>
      QueryLexer.lex(q) match {
        case Vector(QueryLexer.QTerm(t)) =>
          q -> Left(if (params.stemBareTerms) TextPipeline.term(t) else t)
        case Vector(QueryLexer.QPhrase(p)) =>
          q -> Right(TextPipeline.tokenizeQuery(p))
        case _ => sys.error(
          s"searchMany supports single-atom queries (bare term or quoted phrase); " +
            s"route '$q' through searchFrame/topKAuto")
      }
    }
    val termAtoms = atoms.collect { case (q, Left(t)) => (q, t) }
    val phraseAtoms = atoms.collect { case (q, Right(st)) if st.nonEmpty => (q, st) }
    require(termAtoms.nonEmpty || phraseAtoms.nonEmpty,
      "no evaluable atoms (all phrases tokenized to nothing)")
    val phrases = phraseAtoms.map(_._2).distinct
    // read by the df aggregate and twice by the bulk tail: fold once
    val folded = if (phrases.isEmpty) None else Some(phraseFold(phrases).cache())
    try {
      val frames =
        (if (termAtoms.nonEmpty) Seq(termAtomFrame(termAtoms, k)) else Nil) ++
          folded.map(phraseAtomFrame(_, phrases, phraseAtoms))
      val top = bulkTopK(frames.reduce(_ union _), k, accuracy)
        .as[(String, Long, Double)].collect()
      withDict(spark.createDataset(top.toSeq).toDF("query", "docId", "score"))
    } finally folded.foreach(_.unpersist(false))
  }

  /** Bulk evaluation of ARBITRARY queries — boolean, NOT, brackets and
    * mixed term+phrase shapes included — with the distributed operand
    * FETCH shared across the whole batch: ONE pruned postings scan for
    * every bare-term atom of every query, and ONE docId shuffle (head-
    * stem Bloom-prefiltered) folding every phrase atom of every query
    * doc-locally. Each query then takes the driver route over the
    * prefetched rows (`driverTopK`, the `DenseEval` kernel in-process —
    * the same code the single-query driver path runs, so results are
    * bit-identical to `topKAuto` by construction; EngineSpec asserts it).
    * A query whose operand, or whose operands' union, exceeds
    * `driverAlgebraMaxDocs` falls back to its own `topKAuto` evaluation —
    * correct, just unshared.
    *
    * This is the filtering-pipeline shape: thousands of `"a" AND "b"`
    * style queries pay atom-count scans, not query-count scans.
    *
    * @return (query, docId, conv_id, turn_idx, score), k rows max per query
    */
  def searchManyAuto(
      queries: Seq[String],
      k: Int = params.topK,
      accuracy: Double = 0.0): DataFrame = {
    require(queries.nonEmpty, "searchManyAuto needs at least one query")
    val qs = queries.distinct
    def stemKey(t: String) = if (params.stemBareTerms) TextPipeline.term(t) else t
    val lexed = qs.map(q => q -> QueryLexer.lex(q))
    val allTermKeys = lexed.flatMap(_._2.collect {
      case QueryLexer.QTerm(t) => stemKey(t)
    }).distinct
    val allPhrases = lexed.flatMap(_._2.collect {
      case QueryLexer.QPhrase(p) => TextPipeline.tokenizeQuery(p)
    }).distinct.filter(_.nonEmpty)

    // ---- shared term fetch: live-df gate, then ONE pruned scan ---------
    val (termRows, oversizedTerms) = fetchTerms(allTermKeys)

    // ---- shared phrase fetch: one shuffle, per-phrase doc-local fold ---
    val (phraseRows, oversizedPhrases) =
      if (allPhrases.isEmpty) (Map.empty[Vector[String], Rows], Set.empty[Vector[String]])
      else {
        // read by the size gate and by the row fetch: fold once
        val folded = phraseFold(allPhrases).cache()
        try {
          val big = folded.groupBy($"pidx").count().filter($"count" > params.driverAlgebraMaxDocs)
            .select($"pidx").as[Int].collect()
          val rows = folded.filter(!$"pidx".isin(big.toSeq: _*)).as[(Int, Long, Int, Int)].collect()
          (rows.groupBy(_._1).map { case (i, rs) => allPhrases(i) -> rs.map(r => (r._2, r._3, r._4)) },
            big.map(allPhrases).toSet)
        } finally folded.unpersist(false)
      }

    // ---- per query: the driver route over the prefetched atoms ---------
    val perQuery = qs.map { q =>
      val ast = new DenseEval.AstAlgebra(params.stemBareTerms)
      val root = QueryEvaluator.evaluate(q, ast, params)
      val atoms = ast.atomList
      val fits = atoms.forall(_.fold(t => !oversizedTerms(t), st => !oversizedPhrases(st)))
      q -> (if (fits) driverTopK(root, atoms, rowsOf(termRows, phraseRows), accuracy, k) else None)
        .getOrElse(topKAuto(q, accuracy, k))
    }
    val rows = perQuery.flatMap { case (q, top) =>
      top.map { case (d, s) => (q, d, s) }
    }
    withDict(spark.createDataset(rows).toDF("query", "docId", "score"))
  }

  /** (query, docId, s = raw BM25) candidates for bare-term atoms — the
    * WAND kernel fanned over every term in ONE job: a pruned scan of the
    * compressed BLOCKS table (never the flat postings), per-partition
    * block-max pruned top-k per term, ≤ partitions·k candidate rows out.
    * At head terms this skips exactly the block decodes the single-query
    * WAND path skips (full-scoring 64 head terms at 10M docs measured
    * SLOWER than 64 WAND round-trips — pruning, not just batching, is
    * what scales). Per-term df comes from one `liveDf` job for all
    * terms, as termTopKWand's does for its one. */
  private def termAtomFrame(keyed: Seq[(String, String)], k: Int): DataFrame = {
    val keys = keyed.map(_._2).distinct
    val n = stats.total_docs.toDouble
    val idfByTerm = liveDf(keys).map { case (t, df) => t -> Bm25.idf(n, df.toDouble) }
    val p = params; val st = stats
    val bIdf = spark.sparkContext.broadcast(idfByTerm)
    val delFn = deletedFn
    val qdf = spark.createDataset(keyed).toDF("query", "term")
    blocks.filter($"term".isin(keys: _*)).as[graft.model.IndexBlock]
      .mapPartitions(it =>
        Wand.topKForPartitionMulti(it, bIdf.value, k, p, st, delFn))
      .toDF("term", "docId", "s")
      .join(broadcast(qdf), Seq("term"))
      .select($"query", $"docId", $"s")
  }

  /** (query, docId, s = raw BM25) for phrase atoms over `folded`, the
    * caller-cached `phraseFold(phrases)`: per-phrase df is one small
    * aggregate collected to the driver, and each folded row is scored with
    * the scalar `Bm25` of the single-query paths, once per query that
    * lexes to its phrase. No block-max bound exists for phrase tf, so
    * phrases score exhaustively (as the single-query path does). */
  private def phraseAtomFrame(
      folded: DataFrame,
      phrases: Seq[Vector[String]],
      phraseAtoms: Seq[(String, Vector[String])]): DataFrame = {
    val n = stats.total_docs.toDouble
    val idf = folded.groupBy($"pidx").agg(count(lit(1)))
      .as[(Int, Long)].collect()
      .map { case (i, df) => i -> Bm25.idf(n, df.toDouble) }.toMap
    val pidx = phrases.zipWithIndex.toMap
    val queriesOf = phraseAtoms.groupBy(a => pidx(a._2))
      .map { case (i, qs) => i -> qs.map(_._1) }
    val k1 = params.k1; val b = params.b; val avgdl = stats.avg_doc_len
    folded.as[(Int, Long, Int, Int)]
      .flatMap { case (i, docId, tf, dl) =>
        val s = idf(i) * Bm25.tfPart(tf.toDouble, dl.toDouble, k1, b, avgdl)
        queriesOf(i).iterator.map(q => (q, docId, s))
      }
      .toDF("query", "docId", "s")
  }

  /** Shared bulk tail over raw (query, docId, s): per-query max in one
    * map-side-combined agg (for term atoms the true max is always among
    * the WAND candidates — it IS the top-1 score), max-normalize,
    * single-operand stack combine, SALTED two-phase per-query top-k.
    * @return (query, docId, score) */
  private def bulkTopK(atomF: DataFrame, k: Int, accuracy: Double): DataFrame = {
    val perQuery = atomF.groupBy($"query").agg(max($"s").as("mx"))
    val tfw = params.termFrequencyWeight; val emw = params.exactMatchWeight
    val scored = atomF.join(broadcast(perQuery), Seq("query"))
      .select($"query", $"docId",
        when($"mx" > 0, $"s" / $"mx").otherwise($"s").as("norm"))
      .select($"query", $"docId",
        (lit(tfw) * $"norm" + lit(emw) * $"norm").as("score"))
      .filter($"score" >= accuracy)
    val salts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy($"query", $"salt").orderBy($"score".desc, $"docId".asc)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy($"query").orderBy($"score".desc, $"docId".asc)
    scored
      .withColumn("salt", pmod(hash($"docId"), lit(salts)))
      .withColumn("rn", row_number().over(w1)).filter($"rn" <= k)
      .withColumn("rn2", row_number().over(w2)).filter($"rn2" <= k)
      .select($"query", $"docId", $"score")
  }

  /** (query, docId, score) → (query, docId, conv_id, turn_idx, score).
    * Inner join: the dict is complete by the row-level build invariant,
    * and inner lets Spark broadcast the (N·k-row) result side instead of
    * shuffling the corpus-sized dictionary. */
  private def withDict(top: DataFrame): DataFrame =
    top.join(rawDict, Seq("docId"))
      .select($"query", $"docId", $"conv_id", $"turn_idx", $"score")

  /** Bulk search with snippets over the source turns table: the bulk
    * top-k joined to turns, each query's snippet keys/weights broadcast,
    * and the snippet computed ON THE EXECUTORS per hit (the single-query
    * `search` snippets its few hits on the driver; N·k bulk hits stay
    * distributed). */
  def searchManyWithSnippets(
      queries: Seq[String],
      turns: DataFrame,
      k: Int = params.topK,
      accuracy: Double = 0.0): DataFrame = {
    val meta = queries.distinct.map { q =>
      q -> ((Snippeter.queryKeys(q, params.stemBareTerms),
        QueryEvaluator.wordsAndPhrasesWeights(q)))
    }.toMap
    val bMeta = spark.sparkContext.broadcast(meta)
    searchMany(queries, k, accuracy)
      .join(turns.select($"conv_id", $"turn_idx", $"text"), Seq("conv_id", "turn_idx"))
      .select($"query", $"docId", $"conv_id", $"turn_idx", $"score", $"text")
      .as[(String, Long, String, Int, Double, String)]
      .map { case (q, d, c, t, s, text) =>
        val (keys, weights) = bMeta.value(q)
        (q, d, c, t, s, text, Snippeter.snippet(text, keys, weights))
      }
      .toDF("query", "docId", "conv_id", "turn_idx", "score", "text", "snippet")
  }

  /** DataFrame variant for the driver harness (SparkEntry). */
  def searchFrame(query: String, accuracy: Double = 0.0, k: Int = 100): DataFrame = {
    val top = topKAuto(query, accuracy, k)
    spark.createDataset(top).toDF("docId", "score")
      .join(rawDict, Seq("docId"), "left")
      .select($"docId", $"conv_id", $"turn_idx", $"score")
      .orderBy($"score".desc, $"docId".asc)
  }
}

/** The phrase positional fold, doc-local form — equivalent to the
  * reference's global iteration (BM25Ranker.cpp:439-491), including the
  * stale-postings quirk; unit-tested against the oracle's independent
  * global-fold transcription. */
object PhraseMatch {
  def phraseTf(stems: Seq[String], termPos: Map[String, Seq[Int]]): Int = {
    if (stems.isEmpty || !termPos.contains(stems.head)) return 0
    var meta: Seq[Int] = termPos(stems.head)
    stems.foreach { t =>
      termPos.get(t) match {
        case Some(occ) =>
          val cur = meta.toSet
          meta = occ.collect { case p if cur.contains(p) => p + 1 }
        case None => ()
      }
    }
    meta.size
  }
}
