package graft

/** Ranker constants, reference-identical defaults:
  * K1/B (/root/reference/source/BM25Ranker.cpp:9-10), PHRASE_BOOST and
  * EXACT_MATCH_WEIGHT as overridden by main
  * (/root/reference/source/main.cpp:19-22); TERM_FREQUENCY_WEIGHT is derived
  * as 1 − EXACT_MATCH_WEIGHT (BM25Ranker.cpp:17-24).
  *
  * `stemBareTerms = false` mirrors the reference exactly: unquoted query
  * terms are looked up RAW in the index (BM25Ranker.cpp:350-353 uses the
  * lexer token with no normalize/stem), so `Running` matches nothing while
  * `run` matches the stem key. Set true for the saner opt-in behavior.
  */
final case class GraftParams(
    k1: Double = 1.5,
    b: Double = 0.75,
    phraseBoost: Double = 1.35,
    exactMatchWeight: Double = 0.6,
    stemBareTerms: Boolean = false,
    topK: Int = 100,
    /** driver-route ceiling: the most docs any one operand may match and
      * the most docs the driver aligns for a query (the union of its
      * operands' docs); above either the engine falls back to the dense
      * evaluator, which runs the same kernel per partition */
    driverAlgebraMaxDocs: Int = 2000000,
    /** minimum Σ df of a phrase's queried stems — the docId-shuffle size
      * the head-stem Bloom prefilter could save — for the prefilter to
      * engage (phrase tf is provably 0 for a doc missing the FIRST stem,
      * so its docIds, broadcast as a Bloom filter, drop non-candidate
      * postings map-side BEFORE the shuffle). Below it the shuffle is
      * too small to pay for the filter; when the corpus itself is
      * smaller than this the df lookup is skipped entirely (no extra
      * job). Results are bit-identical either way — Bloom false
      * positives fold to tf=0. */
    phrasePrefilterMinDf: Long = 65536L,
    /** selectivity gate: the Bloom prefilter only runs when
      * df(head stems) ≤ this fraction of Σ df(all queried stems), i.e.
      * when it can cut the shuffle ≥ 1/ratio ×. Measured on a 10M-doc
      * corpus where every stem is a head term (df(head) ≈ 0.4·Σdf), the
      * unconditional filter ran 0.76–0.87× — the Bloom build plus the
      * per-row test cost more than the ~30% shuffle cut paid back. */
    phrasePrefilterMaxRatio: Double = 0.25,
    /** ceiling on un-compacted tombstones an engine will hold as the
      * exact driver/broadcast skip set for the WAND kernels (8 bytes/id
      * ⇒ the 10M default is 80 MB — a deliberately generous bound; a
      * Bloom filter is NOT an option here because a false positive would
      * drop a live document). Past it, queries refuse until
      * IndexBuilder.compact() purges the tombstones physically. */
    maxDeletedIdsInMemory: Int = 10000000) {
  def termFrequencyWeight: Double = 1 - exactMatchWeight
}
