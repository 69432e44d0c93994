package graft.model

import java.sql.Timestamp

/** One transcript turn — the engine's document
  * (BASELINE.json input_hint schema; replaces the reference's crawled page,
  * /root/reference/include/HTMLParser.h:13-27). */
final case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** docID ↔ (conv_id, turn_idx) dictionary row + raw token count.
  * Normalizes the reference's driver-resident doc_lengths map
  * (/root/reference/include/InvertedIndex.h:15-21). */
final case class DocDictEntry(docId: Long, conv_id: String, turn_idx: Int, doc_len: Int)

/** Flat posting row — the v1 index shape. One row per (term, doc); doc_len
  * denormalized in to avoid the per-term scoring join
  * (/root/reference/source/BM25Ranker.cpp:358-368 does a map lookup per doc).
  * positions are 0-based raw-token offsets (InvertedIndex.cpp:135-145),
  * delta+varbyte encoded from the tokenizer onward. */
final case class PostingRow(
    term: String,
    docId: Long,
    tf: Int,
    doc_len: Int,
    positions_vb: Array[Byte])

/** Tokenizer output row: postings + per-doc sentinel rows (term == "") that
  * carry the dictionary columns. The reference also indexes the empty term
  * in memory and drops it at persist time (DataBase.cpp:36-39); we reuse the
  * same reserved key so the corpus is tokenized exactly once. */
final case class RawIndexRow(
    term: String,
    docId: Long,
    tf: Int,
    doc_len: Int,
    positions_vb: Array[Byte],
    conv_id: String,
    turn_idx: Int)

/** Corpus stats singleton (reference metadata doc, InvertedIndex.h:15-21). */
final case class IndexStats(total_docs: Long, avg_doc_len: Double)

/** Per-term document frequency + collection tf. */
final case class TermStats(term: String, df: Long, ctf: Long)

/** Compressed block-max index cell: ≤ blockSize postings of one term,
  * docId-sorted, delta+varbyte encoded. (term, min_doc) is the block key.
  * max_tf / min_dl give a parameter-independent BM25 upper bound for
  * block-max WAND pruning. */
final case class IndexBlock(
    term: String,
    min_doc: Long,
    max_doc: Long,
    n_docs: Int,
    max_tf: Int,
    min_dl: Int,
    block: Array[Byte])

/** Per-partition build lineage row (the scalable analogue of the
  * reference's per-document `processed` flag, InvertedIndex.cpp:29-46).
  * A ledgered write's row holds its batch id, the full `Long`, in
  * `partition_id`; build stages hold -1. */
final case class LineageRow(
    stage: String,
    partition_id: Long,
    status: String,
    rows: Long,
    wall_ms: Long)

/** Query result row. */
final case class SearchHit(
    docId: Long,
    conv_id: String,
    turn_idx: Int,
    score: Double,
    text: String,
    snippet: String)
