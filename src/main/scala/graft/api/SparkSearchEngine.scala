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
  *  - driver-sized operands → their rows fetched together (`fetch`: one
  *    postings scan and a driver-side phrase fold when the lexicon bounds
  *    them, else a pruned term scan and one Spark phrase fold), then the
  *    kernel in-process on the driver (`topKDriver`);
  *  - anything bigger → one docId shuffle aligns every atom, then the same
  *    kernel per partition (`topKDense`).
  * All three score with `Bm25` in the same IEEE operation order, end in
  * one top-k tail and are bit-identical to `RefOracle` (EngineSpec). The
  * bulk entry points run the same code over a batch: `searchMany`'s terms
  * are the WAND of `termTopKWand` at M keys (`wandTopK`), its phrases one
  * fold ranked by the per-query heap kernel `TopK.topKPerQuery`, and
  * `searchManyAuto` runs `topKDriver`'s fetch and kernel over every
  * query's atoms at once. A call that caches a frame unpersists it before
  * it returns.
  *
  * An engine is one version of the warehouse's commit log: stats and the
  * tombstone count come from the log, and the never-cached `postings`,
  * `dict`, `blocks` and `deleted_term_df` handles are read from that
  * version's file list with declared schemas, so neither opening nor a
  * first query runs a metadata job. Up to `DocDirectory.MaxDocs` live
  * docs (and `driverAlgebraMaxDocs`; `held`) the engine also holds that
  * version's doc directory and term lexicon (`directory`, `lexicon`, each
  * loaded in one job by the first query that needs it), so hits, dense
  * fills, result frames and live df resolve on the driver. Re-open after
  * any write to see it; the HTTP server does, and resolves its `--input`
  * turns frame with each re-open.
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

  /** Whether the engine holds this snapshot's doc directory and lexicon
    * on the driver: at most `params.driverAlgebraMaxDocs` and
    * `DocDirectory.MaxDocs` live docs. */
  private lazy val held: Boolean =
    stats.total_docs <= math.min(params.driverAlgebraMaxDocs, DocDirectory.MaxDocs)

  /** This snapshot's live docs on the driver — resolves hits, dense fills
    * and result frames with no Spark job — when `held`; None above, where
    * those lookups stay Spark jobs over `dict`. Read from `dict` in one job
    * on first use: it excludes tombstones exactly as the Spark fill does,
    * and it is never stale, since an engine serves one log version. A lazy
    * val: concurrent first uses wait on one load, and a failed load is
    * retried on the next use. */
  private lazy val directory: Option[DocDirectory] =
    if (held) Some(DocDirectory.load(dict)) else None
  private lazy val blocks = io.read(Tables.Blocks, snapshot)
  private lazy val deletedTermDf: Option[DataFrame] =
    if (deletes.isDefined && snapshot.has(Tables.DeletedTermDf))
      Some(io.read(Tables.DeletedTermDf, snapshot))
    else None

  /** This snapshot's live df of every term on the driver when `held`, so
    * `liveDf` is a lookup; None above. Loaded in one job from the rows the
    * Spark `liveDf` sums (`dfRows` of every term), so the two agree
    * exactly; per snapshot and a lazy val, like `directory`, and loaded
    * by the first query that needs a df, independently of the directory. */
  private lazy val lexicon: Option[Lexicon] =
    if (held) Some(Lexicon.load(dfRows(None))) else None

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

  /** (term, df contribution) rows of `keys`, of every term for None: a
    * block's `n_docs`, a tombstone delta's −`delta`. A term's sum is its
    * live df — the exact row count of its filtered postings, and correct
    * across incrementally appended segments (unlike the batch-only
    * term_stats table). */
  private def dfRows(keys: Option[Seq[String]]): Dataset[(String, Long)] = {
    def of(df: DataFrame) = keys.fold(df)(ks => df.filter($"term".isin(ks: _*)))
    val counts = of(blocks).select($"term", $"n_docs".cast("long"))
    deletedTermDf.fold(counts)(d => counts.union(of(d).select($"term", -$"delta")))
      .as[(String, Long)]
  }

  /** Live df of every key that has blocks: a `lexicon` lookup when the
    * engine holds it (no job), else `dfRows` summed on the driver — one
    * shuffle-free job (a row per block and per delta); none for no keys.
    * The one method that branches on the lexicon. */
  private[graft] def liveDf(keys: Seq[String]): Map[String, Long] = lexicon match {
    case Some(lex) => keys.iterator.flatMap(t => lex.df(t).map(t -> _)).toMap
    case None if keys.isEmpty => Map.empty
    case None => dfRows(Some(keys)).collect().groupMapReduce(_._1)(_._2)(_ + _)
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

  /** Rows of every phrase from ONE uncached `phraseFold` collect, in the
    * shape of `fetchTerms`: phrases matching more than
    * `driverAlgebraMaxDocs` docs are returned in the set, not fetched. The
    * collect stops at phrases·max + 1 rows: below that quota the
    * per-phrase counts are exact; reaching it means some phrase is over
    * (pigeonhole) without saying which, so every phrase counts as over. */
  private def fetchPhrases(phrases: Seq[Vector[String]]): (Map[Vector[String], Rows], Set[Vector[String]]) = {
    val ps = phrases.distinct
    val max = params.driverAlgebraMaxDocs
    val quota = math.min(ps.length.toLong * max + 1, Int.MaxValue.toLong).toInt
    val rows =
      if (ps.isEmpty) Array.empty[(Int, Long, Int, Int)]
      else phraseFold(ps).limit(quota).as[(Int, Long, Int, Int)].collect()
    if (rows.length >= quota) (Map.empty, ps.toSet)
    else {
      val byPhrase = rows.groupBy(_._1).map { case (i, rs) => ps(i) -> rs.map(r => (r._2, r._3, r._4)) }
      val tooBig = byPhrase.collect { case (p, rs) if rs.length > max => p }.toSet
      (byPhrase -- tooBig, tooBig)
    }
  }

  /** The phrase positional fold, for many phrases at once: ONE shuffle on
    * docId over `stemPostings(phrases)`, then every phrase's fold runs
    * doc-locally in one pass (`PhraseMatch.foldDoc`). Returns the UNCACHED
    * frame (pidx, docId, tf, doc_len) of every doc with tf > 0, `pidx`
    * indexing `phrases`; a caller that reads it twice caches it and
    * unpersists it before returning. Phrases must be non-empty. */
  private def phraseFold(phrases: Seq[Vector[String]]): DataFrame = {
    val ps = phrases.toArray
    stemPostings(phrases)
      .groupBy($"docId")
      .agg(first($"doc_len").as("doc_len"), // constant per doc
        collect_list(struct($"term", $"positions_vb")).as("tp"))
      .as[(Long, Int, Seq[(String, Array[Byte])])]
      .flatMap { case (docId, dl, tp) =>
        PhraseMatch.foldDoc(ps, tp).map { case (i, tf) => (i, docId, tf, dl) }
      }
      .toDF("pidx", "docId", "tf", "doc_len")
  }

  /** Every term key's and every phrase's rows from ONE postings scan,
    * `term isin (terms ∪ stems)`, with `positions_vb` read on stem rows
    * only and no shuffle; the phrase fold then runs per doc on the driver
    * (`PhraseMatch.foldDoc`, the body `phraseFold` runs per partition).
    * The caller bounds the scan's rows (Σ live df of the keys). */
  private def scanAndFold(
      terms: Seq[String],
      phrases: Seq[Vector[String]]): (Map[String, Rows], Map[Vector[String], Rows]) = {
    val stems = phrases.flatten.distinct
    val keys = (terms ++ stems).distinct
    if (keys.isEmpty) return (Map.empty, Map.empty)
    // no stems: a null literal, so the scan prunes the positions column
    val vb = if (stems.isEmpty) lit(null).cast("binary") else when($"term".isin(stems: _*), $"positions_vb")
    val rows = postings.filter($"term".isin(keys: _*))
      .select($"term", $"docId", $"tf", $"doc_len", vb.as("vb"))
      .as[(String, Long, Int, Int, Array[Byte])].collect()
    val isTerm = terms.toSet
    val termRows = rows.filter(r => isTerm(r._1)).groupBy(_._1)
      .map { case (t, rs) => t -> rs.map(r => (r._2, r._3, r._4)) }
    val ps = phrases.toArray
    val folded = rows.filter(_._5 != null).groupBy(_._2).iterator.flatMap { case (docId, rs) =>
      PhraseMatch.foldDoc(ps, rs.map(r => (r._1, r._5))).map { case (i, tf) => (i, (docId, tf, rs.head._4)) }
    }.toArray
    (termRows, folded.groupBy(_._1).map { case (i, rs) => ps(i) -> rs.map(_._2) })
  }

  /** A batch's operands for the driver route, and the atoms over
    * `driverAlgebraMaxDocs` (not fetched). When the engine holds the
    * lexicon and the term keys' and phrase stems' live df sum to at most
    * `driverAlgebraMaxDocs`, no atom can be over and `scanAndFold` fetches
    * them all in one job. Otherwise `fetchTerms`, then `fetchPhrases` —
    * skipped for `oneQuery` once a term is over, since that query leaves
    * the driver route anyway. */
  private def fetch(atoms: Seq[DenseEval.Atom], oneQuery: Boolean): Fetched = {
    val terms = atoms.collect { case Left(t) => t }.distinct
    val phrases = atoms.collect { case Right(st) => st }.distinct
    if (held && liveDf((terms ++ phrases.flatten).distinct).valuesIterator.sum <= params.driverAlgebraMaxDocs) {
      val (termRows, phraseRows) = scanAndFold(terms, phrases)
      new Fetched(termRows, phraseRows, Set.empty)
    } else {
      val (termRows, bigTerms) = fetchTerms(terms)
      val (phraseRows, bigPhrases) =
        if (oneQuery && bigTerms.nonEmpty) (Map.empty[Vector[String], Rows], Set.empty[Vector[String]])
        else fetchPhrases(phrases)
      new Fetched(termRows, phraseRows,
        bigTerms.map(t => Left(t): DenseEval.Atom) ++ bigPhrases.map(st => Right(st): DenseEval.Atom))
    }
  }

  /** Fetched operand rows; an atom absent from its map matched no doc. */
  private final class Fetched(
      terms: Map[String, Rows],
      phrases: Map[Vector[String], Rows],
      over: Set[DenseEval.Atom]) {
    def rowsOf(atom: DenseEval.Atom): Rows = atom.fold(terms.get, phrases.get).getOrElse(Array.empty)
    def fits(atoms: Seq[DenseEval.Atom]): Boolean = !atoms.exists(over)
  }

  /** The top-k tail of every route: the accuracy filter, (score desc,
    * docId asc), then the dense fill — when `default`, the score of every
    * doc outside the scored support, can still qualify, the k lowest of
    * those docIds (`absent(k)`, ascending) join at `default`. `scored` may
    * already be cut to its top k in that order: the filter keeps a prefix
    * of it. */
  private def topKTail(
      scored: Iterator[(Long, Double)],
      default: Double,
      accuracy: Double,
      k: Int,
      absent: Int => Seq[Long]): Vector[(Long, Double)] = {
    val top = scored.filter(_._2 >= accuracy).toVector
      .sortBy { case (d, s) => (-s, d) }.take(k)
    val needFill = default >= accuracy && (top.length < k || top.last._2 <= default)
    if (!needFill) top
    else {
      val fill = absent(k).map(d => (d, default))
      (top ++ fill).sortBy { case (d, sc) => (-sc, d) }.take(k)
    }
  }

  /** (conv_id, turn_idx) of result docIds (live by construction): from
    * the directory when the engine holds it, else one Spark job over the
    * dictionary — an `isin` filter for up to 10,000 ids, a join above. */
  private def refs(ids: Seq[Long]): Map[Long, (String, Int)] = directory match {
    case Some(dir) => ids.iterator.map(d => d -> dir.ref(d)).toMap
    case None if ids.isEmpty => Map.empty
    case None =>
      val distinct = ids.distinct
      val hits = if (distinct.size <= 10000) rawDict.filter($"docId".isin(distinct: _*))
        else rawDict.join(spark.createDataset(distinct).toDF("docId"), Seq("docId"))
      hits.select($"docId", $"conv_id", $"turn_idx").as[(Long, String, Int)].collect()
        .map { case (d, c, t) => d -> ((c, t)) }.toMap
  }

  /** The k lowest docIds of a frame of live docIds: one Spark job (the
    * frame is built only when the fill runs). */
  private def lowest(absent: => DataFrame)(k: Int): Seq[Long] =
    absent.orderBy($"docId".asc).limit(k).as[Long].collect().toSeq

  /** The k lowest live docIds outside a driver-held `present` set: a walk
    * of the directory when the engine holds it, else one job over `dict`. */
  private def absentFrom(present: Seq[Long])(k: Int): Seq[Long] = directory match {
    case Some(dir) => dir.lowestAbsent(present, k)
    case None =>
      val live = dict.select($"docId")
      lowest(if (present.size <= 10000) live.filter(!$"docId".isin(present: _*))
        else live.join(spark.createDataset(present).toDF("docId"), Seq("docId"), "left_anti"))(k)
  }

  /** A query's expression tree and the atoms it indexes. */
  private def parse(query: String): (DenseEval.QNode, IndexedSeq[DenseEval.Atom]) = {
    val ast = new DenseEval.AstAlgebra(params.stemBareTerms)
    (QueryEvaluator.evaluate(query, ast, params), ast.atomList)
  }

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

  /** Driver-route top-k; None when an operand, or the docs the operands
    * match together, exceed `driverAlgebraMaxDocs`. The query's operands
    * are fetched together (`fetch`); the kernel then runs in-process. */
  def topKDriver(query: String, accuracy: Double, k: Int): Option[Vector[(Long, Double)]] = {
    val (root, atoms) = parse(query)
    val fetched = fetch(atoms, oneQuery = true)
    if (!fetched.fits(atoms)) None
    else driverTopK(root, atoms, fetched.rowsOf, accuracy, k)
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
    val (root, atoms) = parse(query)
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
    val bPhrases = spark.sparkContext.broadcast((phraseAtoms.map(_._1).toArray, phraseAtoms.map(_._2).toArray))
    val aligned = rows
      .groupByKey(_._1)
      .flatMapGroups { (docId: Long, it: Iterator[Row]) =>
        val entries = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int)]
        val stemRows = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Byte])]
        var dl = 0
        it.foreach { case (_, dlr, isStem, aIdx, tf, term, vb) =>
          dl = dlr
          if (!isStem) entries += ((aIdx, tf, dlr)) else stemRows += ((term, vb))
        }
        if (stemRows.nonEmpty) {
          val (stems, aIdx) = bPhrases.value
          PhraseMatch.foldDoc(stems, stemRows).foreach { case (i, tf) => entries += ((aIdx(i), tf, dl)) }
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
      topKTail(top.iterator, resolved.default, accuracy, k, lowest(dict.select($"docId")
        .join(aligned.toDF("docId", "entries").select($"docId"), Seq("docId"), "left_anti")))
    } finally { aligned.unpersist(false); () }
  }

  /** The final score of a doc under a single-atom query, from its raw
    * BM25 `s` and the atom's max `mx`: the single-operand stackCombine
    * (ProcessQuery :152-154,183-203), TFW·normalize(x) + EMW·x with x
    * max-normalized — not an IEEE no-op, so every single-atom path applies
    * this one scalar; the kernel's NAdd(NNorm(x), x) gives the same bits
    * (x's max is exactly 1.0). A plain value: closures may capture it. */
  private val atomScore: (Double, Double) => Double = {
    val tfw = params.termFrequencyWeight; val emw = params.exactMatchWeight
    (s, mx) => { val n = if (mx > 0) s / mx else s; tfw * n + emw * n }
  }

  /** The WAND candidate scan: ONE pruned scan of the compressed BLOCKS
    * table (never the flat postings) for every key of `idf`, each
    * partition running the block-max pruned kernel per key and emitting
    * ≤ k (key, docId, raw BM25) rows per key — ≤ blocks partitions·k rows
    * per key reach the driver, so no key (a stop word's 10^9 postings
    * included) concentrates on one task and no shuffle runs. */
  private[graft] def wandScan(idf: Map[String, Double], k: Int): Dataset[(String, Long, Double)] = {
    val p = params; val st = stats
    val delFn = deletedFn
    blocks.filter($"term".isin(idf.keys.toSeq: _*)).as[graft.model.IndexBlock]
      .mapPartitions(it => Wand.topKForPartitionMulti(it, idf, k, p, st, delFn))
  }

  /** Block-max WAND top-k of every bare-term key: `liveDf` (a lookup when
    * `held`, else one job), then one `wandScan` over the keys with live
    * docs (no job for none), merged per key on the driver
    * (`Wand.mergeTopK`) and scored with `atomScore` — rank- and
    * score-identical to the exhaustive path (same IEEE order;
    * the normalization max IS the top-1 score). Keys with no live doc are
    * absent from the map.
    *
    * @return per key, its ≤ k (docId, score), in raw-score order */
  private def wandTopK(keys: Seq[String], k: Int): Map[String, Vector[(Long, Double)]] = {
    val n = stats.total_docs.toDouble
    val idf = liveDf(keys).collect { case (t, df) if df > 0 => t -> Bm25.idf(n, df.toDouble) }
    if (idf.isEmpty) Map.empty
    else wandScan(idf, k).collect().groupBy(_._1).map { case (t, rs) =>
      val top = Wand.mergeTopK(rs.toIndexedSeq.map(r => (r._2, r._3)), k)
      val mx = top.head._2
      t -> top.map { case (d, s) => d -> atomScore(s, mx) }
    }
  }

  /** A bare term's lookup key (the algebra's term atom). */
  private def termKey(rawTerm: String): String =
    if (params.stemBareTerms) TextPipeline.term(rawTerm) else rawTerm

  /** Block-max WAND top-k for a single bare term: `wandTopK` at M = 1,
    * then the shared tail — absent docs hold 0 (the dense zero-fill). The
    * 10^12-doc fast path for the most common query shape. */
  def termTopKWand(rawTerm: String, accuracy: Double = 0.0, k: Int = params.topK): Vector[(Long, Double)] = {
    val key = termKey(rawTerm)
    val top = wandTopK(Seq(key), k).getOrElse(key, Vector.empty)
    topKTail(top.iterator, 0.0, accuracy, k, absentFrom(top.map(_._1)))
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
    // the hits' keys, then ONE filtered scan of turns for exactly those
    // keys (conv_id pushed down to the scan): no join, so no broadcast job
    // and no shuffle of turns
    val ref = refs(top.map(_._1))
    val wanted = ref.values.toSeq.distinct
    val texts = turns
      .filter($"conv_id".isin(wanted.map(_._1).distinct: _*) && struct($"conv_id", $"turn_idx").isin(
        wanted.map { case (c, t) => struct(lit(c).as("conv_id"), lit(t).as("turn_idx")) }: _*))
      .select($"conv_id", $"turn_idx", $"text").as[(String, Int, String)].collect()
      .map { case (c, t, text) => (c, t) -> text }.toMap
    top.map { case (docId, score) =>
      val (convId, turnIdx) = ref(docId)
      val text = texts.get((convId, turnIdx))
      SearchHit(docId, convId, turnIdx, score, text.getOrElse(""),
        text.fold("")(Snippeter.snippet(_, keys, weights)))
    }
  }

  /** Bulk scoring for single-ATOM queries — a bare term or a quoted
    * phrase — as the single-query code run over the batch. A single-query
    * path costs ≥ one Spark job per query; a training-data pipeline
    * re-scoring thousands of filter queries pays that per query, here per
    * shape:
    *   - every term is `wandTopK` over all the batch's keys: one live-df
    *     lookup (a job when not `held`) and one pruned block scan
    *     (pruning, not just batching: full-scoring 64 head terms at 10M
    *     docs measured slower than 64 WAND round-trips);
    *   - every phrase is one `phraseFold` (one docId shuffle over the union
    *     of their stems) ranked by `phraseTopK`.
    * Per-query results are bit-identical to the single-query paths by
    * construction (the same kernels and `atomScore`; q20's single-phrase
    * fold has the same combine as a bare term, no PHRASE_BOOST outside
    * mixed queries); EngineSpec asserts it. Semantics: per query, the
    * top-k MATCHING docs (score desc, docId asc) after the accuracy
    * filter. The single-query paths' dense zero-fill of sub-k result sets
    * (a reference presentation quirk) is deliberately not replicated —
    * absent docs score 0 and a bulk filtering pipeline wants matches, not
    * padding; with accuracy > 0 the single-query paths agree exactly.
    * The scoring runs eagerly; the returned frame only attaches the
    * dictionary.
    *
    * @return (query, docId, conv_id, turn_idx, score), k rows max per query
    */
  def searchMany(
      queries: Seq[String],
      k: Int = params.topK,
      accuracy: Double = 0.0): DataFrame = {
    require(queries.nonEmpty, "searchMany needs at least one query")
    val atoms: Seq[(String, DenseEval.Atom)] = queries.distinct.map { q =>
      QueryLexer.lex(q) match {
        case Vector(QueryLexer.QTerm(t)) =>
          q -> Left(termKey(t))
        case Vector(QueryLexer.QPhrase(p)) =>
          q -> Right(TextPipeline.tokenizeQuery(p))
        case _ => sys.error(
          s"searchMany supports single-atom queries (bare term or quoted phrase); " +
            s"route '$q' through searchFrame/topKAuto")
      }
    }.filter(_._2.fold(_ => true, _.nonEmpty))
    require(atoms.nonEmpty, "no evaluable atoms (all phrases tokenized to nothing)")
    val byTerm = wandTopK(atoms.collect { case (_, Left(t)) => t }.distinct, k)
    val byPhrase = phraseTopK(atoms.collect { case (_, Right(st)) => st }.distinct, k)
    val rows = for {
      (q, atom) <- atoms
      (d, s) <- atom.fold(byTerm.get, byPhrase.get).getOrElse(Seq.empty) if s >= accuracy
    } yield (q, d, s)
    withDict(rows)
  }

  /** The top-k of every phrase (none → no job): ONE cached `phraseFold`,
    * read by two passes.
    *   1. the kernel's atom pass (`DenseEval.Kernel.atomConstants`, the
    *      arithmetic of every boolean route) → per phrase its idf and max;
    *   2. `TopK.topKPerQuery` with one k-heap per phrase ordered by the
    *      FINAL score `atomScore(idf·tfPart, max)`, (score desc, docId
    *      asc), the order the single path ranks by — ≤ shuffle
    *      partitions·k rows per phrase reach the driver.
    * No block-max bound exists for phrase tf, so phrases score every
    * folded doc (as the single-query path does). The fold's cache is
    * released before this returns.
    *
    * @return per phrase with a match, its ≤ k (docId, score) */
  private def phraseTopK(phrases: Seq[Vector[String]], k: Int): Map[Vector[String], Seq[(Long, Double)]] =
    if (phrases.isEmpty) Map.empty
    else {
      val folded = phraseFold(phrases).as[(Int, Long, Int, Int)].cache()
      try {
        val (idf, mx) = kernel(DenseEval.NEmpty, phrases.length).atomConstants(pass =>
          folded.mapPartitions(it =>
            Iterator.single(pass(it.map { case (i, d, tf, dl) => (d, Array((i, tf, dl))) })))
            .collect().toSeq)
        val k1 = params.k1; val b = params.b; val avgdl = stats.avg_doc_len
        val score = atomScore
        val routes = Array.tabulate(phrases.length)(Array(_))
        val scan = TopK.Scan(folded.map { case (i, d, tf, dl) => (d, i.toLong, (tf, dl)) },
          i => routes(i.toInt))
        val top = TopK.topKPerQuery(scan, phrases.length, k, TopK.ScoreDesc) { case (tf, dl) =>
          val tp = Bm25.tfPart(tf.toDouble, dl.toDouble, k1, b, avgdl)
          i => score(idf(i) * tp, mx(i))
        }
        phrases.zip(top).filter(_._2.nonEmpty).toMap
      } finally { folded.unpersist(false); () }
    }

  /** Bulk evaluation of ARBITRARY queries — boolean, NOT, brackets and
    * mixed term+phrase shapes included — with the distributed operand
    * FETCH shared across the whole batch: `topKDriver`'s `fetch`, run once
    * over every query's atoms (ONE postings scan and a driver-side phrase
    * fold when the lexicon bounds them; else ONE pruned postings scan for
    * the bare-term atoms and ONE docId shuffle, head-stem
    * Bloom-prefiltered, folding every phrase atom doc-locally). Each query
    * then takes the driver route over the prefetched rows (`driverTopK`,
    * the `DenseEval` kernel in-process — the same code the single-query
    * driver path runs, so results are bit-identical to `topKAuto` by
    * construction; EngineSpec asserts it). A query whose
    * operand, or whose operands' union, exceeds `driverAlgebraMaxDocs` —
    * every phrase query when the phrase fetch reached its quota — falls
    * back to its own `topKAuto` evaluation: correct, just unshared.
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
    val evaluated = queries.distinct.map { q => val (root, atoms) = parse(q); (q, root, atoms) }
    // ---- one shared fetch, topKDriver's, over every query's atoms
    val fetched = fetch(evaluated.flatMap(_._3).distinct, oneQuery = false)
    // ---- per query: the driver route over the prefetched atoms ---------
    val rows = evaluated.flatMap { case (q, root, atoms) =>
      (if (fetched.fits(atoms)) driverTopK(root, atoms, fetched.rowsOf, accuracy, k) else None)
        .getOrElse(topKAuto(q, accuracy, k))
        .map { case (d, s) => (q, d, s) }
    }
    withDict(rows)
  }

  /** (query, docId, score) → a local frame of (query, docId, conv_id,
    * turn_idx, score) in the same order. */
  private def withDict(top: Seq[(String, Long, Double)]): DataFrame = {
    val ref = refs(top.map(_._2))
    spark.createDataset(top.map { case (q, d, s) => val (c, t) = ref(d); (q, d, c, t, s) })
      .toDF("query", "docId", "conv_id", "turn_idx", "score")
  }

  /** Bulk search with snippets over the source turns table: the bulk
    * top-k left-joined to turns, each query's snippet keys/weights
    * broadcast, and the snippet computed ON THE EXECUTORS per hit (the
    * single-query `search` snippets its few hits on the driver; N·k bulk
    * hits stay distributed). As in `search`, a hit whose turn `turns`
    * lacks keeps its place with an empty text and snippet. */
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
      .join(turns.select($"conv_id", $"turn_idx", $"text"), Seq("conv_id", "turn_idx"), "left")
      .select($"query", $"docId", $"conv_id", $"turn_idx", $"score", $"text")
      .as[(String, Long, String, Int, Double, String)]
      .map { case (q, d, c, t, s, text) =>
        val (keys, weights) = bMeta.value(q)
        val found = Option(text)
        (q, d, c, t, s, found.getOrElse(""), found.fold("")(Snippeter.snippet(_, keys, weights)))
      }
      .toDF("query", "docId", "conv_id", "turn_idx", "score", "text", "snippet")
  }

  /** DataFrame variant for the driver harness (SparkEntry): the top-k as
    * a local frame of (docId, conv_id, turn_idx, score), (score desc,
    * docId asc). */
  def searchFrame(query: String, accuracy: Double = 0.0, k: Int = 100): DataFrame = {
    val top = topKAuto(query, accuracy, k)
    val ref = refs(top.map(_._1))
    spark.createDataset(top.map { case (d, s) => val (c, t) = ref(d); (d, c, t, s) })
      .toDF("docId", "conv_id", "turn_idx", "score")
  }
}

/** The live docs of one snapshot, held on the driver: docIds ascending,
  * with their `conv_id` and `turn_idx` as parallel arrays. Consecutive
  * docs of one conversation share one `conv_id` String (docIds are ranked
  * by (conv_id, turn_idx), so a conversation's docs are adjacent). */
private[api] final class DocDirectory private (ids: Array[Long], convIds: Array[String], turnIdx: Array[Int]) {

  /** (conv_id, turn_idx) of a live docId, by binary search. */
  def ref(docId: Long): (String, Int) = {
    val i = java.util.Arrays.binarySearch(ids, docId)
    if (i < 0) throw new NoSuchElementException(s"docId $docId is not a live doc")
    (convIds(i), turnIdx(i))
  }

  /** The k lowest live docIds outside `present`, ascending: one merge walk
    * of the directory against the sorted `present`. */
  def lowestAbsent(present: Seq[Long], k: Int): Seq[Long] = {
    val skip = present.toArray
    java.util.Arrays.sort(skip)
    val out = Vector.newBuilder[Long]
    var i = 0; var j = 0; var n = 0
    while (n < k && i < ids.length) {
      while (j < skip.length && skip(j) < ids(i)) j += 1
      if (j == skip.length || skip(j) != ids(i)) { out += ids(i); n += 1 }
      i += 1
    }
    out.result()
  }
}

private[api] object DocDirectory {
  /** The most live docs an engine loads a directory for. Every write
    * re-opens the engine, so the next request pays the load, and each
    * later one saves ~0.1 s. Measured with `graft.tools.Drive directory`
    * (4 cpus, BASELINE.md), the load adds at most 0.4 s to that request
    * up to 250k docs, 0.6–1.1 s at 1M and 1.3–1.9 s at 2M, where it also
    * allocates ~0.6 GB of short-lived driver heap. Held, it costs ~28
    * bytes per doc. The lexicon shares this ceiling: at 250k docs its load
    * adds 28–196 ms more, and the two together stayed within 0.4 s. */
  val MaxDocs = 250000

  /** One Spark job: a typed collect of `dict`'s (docId, conv_id,
    * turn_idx), sorted in place by docId only when the files arrive out of
    * order (each file is sorted, so TimSort merges a few runs), then moved
    * into the primitive arrays, each row released as it is read. */
  def load(dict: DataFrame): DocDirectory = {
    import dict.sparkSession.implicits._
    val rows = dict.select("docId", "conv_id", "turn_idx").as[(Long, String, Int)].collect()
    val n = rows.length
    if ((1 until n).exists(i => rows(i - 1)._1 > rows(i)._1))
      java.util.Arrays.sort(rows, java.util.Comparator.comparingLong[(Long, String, Int)](_._1))
    val ids = new Array[Long](n)
    val convIds = new Array[String](n)
    val turnIdx = new Array[Int](n)
    var i = 0
    while (i < n) {
      val (d, c, t) = rows(i)
      rows(i) = null
      ids(i) = d
      convIds(i) = if (i > 0 && c == convIds(i - 1)) convIds(i - 1) else c
      turnIdx(i) = t
      i += 1
    }
    new DocDirectory(ids, convIds, turnIdx)
  }
}

/** The live df of every term of one snapshot, held on the driver: the
  * terms ascending (String order) beside their df, looked up by binary
  * search. */
private[api] final class Lexicon private (terms: Array[String], dfs: Array[Long]) {

  /** A term's live df; None for a term with no block in the snapshot. */
  def df(term: String): Option[Long] = {
    val i = java.util.Arrays.binarySearch(terms.asInstanceOf[Array[AnyRef]], term)
    if (i >= 0) Some(dfs(i)) else None
  }
}

private[api] object Lexicon {
  /** One Spark job: the (term, df contribution) rows summed per partition
    * on the executors (no shuffle), then collected, sorted by term and
    * summed across partitions into the two arrays. */
  def load(rows: Dataset[(String, Long)]): Lexicon = {
    import rows.sparkSession.implicits._
    val partial = rows.mapPartitions { it =>
      val sums = scala.collection.mutable.HashMap.empty[String, Long]
      it.foreach { case (t, n) => sums(t) = sums.getOrElse(t, 0L) + n }
      sums.iterator
    }.collect()
    java.util.Arrays.sort(partial, Ordering.by[(String, Long), String](_._1))
    val terms = Array.newBuilder[String]
    val dfs = Array.newBuilder[Long]
    var i = 0
    while (i < partial.length) {
      val t = partial(i)._1
      var df = 0L
      while (i < partial.length && partial(i)._1 == t) { df += partial(i)._2; i += 1 }
      terms += t; dfs += df
    }
    new Lexicon(terms.result(), dfs.result())
  }
}

/** The phrase positional fold, doc-local form — equivalent to the
  * reference's global iteration (BM25Ranker.cpp:439-491), including the
  * stale-postings quirk; unit-tested against the oracle's independent
  * global-fold transcription. */
object PhraseMatch {
  /** Every phrase's tf in one doc, from the doc's (stem, positions_vb)
    * rows: each stem's positions decoded once, then `phraseTf` per phrase.
    * Yields (index into `phrases`, tf) for tf > 0, in phrase order. */
  def foldDoc(phrases: Array[Vector[String]], stemRows: Iterable[(String, Array[Byte])]): Iterator[(Int, Int)] = {
    val termPos = stemRows.iterator.map { case (t, vb) =>
      t -> graft.codec.VarByte.decodePositions(vb).toSeq
    }.toMap
    phrases.iterator.zipWithIndex.flatMap { case (stems, i) =>
      val tf = phraseTf(stems, termPos)
      if (tf > 0) Iterator.single((i, tf)) else Iterator.empty
    }
  }

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
