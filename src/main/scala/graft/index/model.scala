package graft.index

/** Table row types of the index (SURVEY.md §7.0). All ids are Long —
  * the reference's u32 overflows at 10^12 turns (SURVEY.md §1).
  */

/** One document = one transcript turn; doc_id is dense and 1-based in
  * stable (conv_id, turn_idx) order (reference assigns arrival order,
  * src/indexer/indexer.rs:52,105; we make the order explicit).
  * `doc_len` is the surviving-token count, the BM25 length norm input
  * (reference doc_length, indexer.rs:114).
  */
final case class DocRow(
    doc_id: Long,
    conv_id: String,
    turn_idx: Int,
    role: String,
    doc_len: Int)

/** Stage-1 SPIMI segment row (the spill-run analog, reference
  * src/spimi.rs:148-179). `salt` partitions a high-df term's postings by
  * contiguous doc_id RANGE so that per-salt chunks concatenate in global
  * doc_id order (skew handling, BASELINE.json north_rule).
  */
final case class SegmentRow(
    term: String,
    salt: Int,
    doc_id: Long,
    dl: Int,
    tf: Int,
    pos_enc: Array[Byte]) // vb(n)+delta-gap unit (ChunkCodec.encodePostingUnit)

/** One compressed posting chunk — a row of the `postings` table. Mirrors
  * the reference Chunk (src/indexer/chunk.rs:6-15) with block-max
  * metadata as plain columns: `max_doc_id` is the reference's skip
  * pointer (chunk.rs:9), `max_impact` is the exact per-chunk BM25 upper
  * bound for block-max WAND. Arrays `tfs`/`dls` stay uncompressed
  * columns (Parquet delta-packs them) so scoring never decodes blobs;
  * `doc_gaps`/`pos_blob` are delta-gap+VByte (graft.core codecs).
  */
final case class ChunkRow(
    term_id: Long,
    chunk_seq: Long, // = min_doc_id: unique per term, globally doc-ordered

    min_doc_id: Long,
    max_doc_id: Long,
    n_postings: Int,
    doc_gaps: Array[Byte],
    tfs: Array[Int],
    dls: Array[Int],
    pos_blob: Array[Byte],
    max_tf: Int,
    max_impact: Double)

/** Pre-dictionary chunk (term string key; term_id joined in later).
  * `max_norm` = max over the chunk's postings of Bm25.norm(tf, dl) —
  * computed scalar-side so max_impact = idf * max_norm is bit-identical
  * to the oracle's per-posting impacts.
  */
final case class RawChunk(
    term: String,
    chunk_seq: Long,
    min_doc_id: Long,
    max_doc_id: Long,
    n_postings: Int,
    doc_gaps: Array[Byte],
    tfs: Array[Int],
    dls: Array[Int],
    pos_blob: Array[Byte],
    max_tf: Int,
    max_norm: Double)

/** Dictionary row: term_id = dense 1-based rank in byte-order term sort
  * (reference assigns term_id in merge order = lexicographic order,
  * src/spimi.rs:76,94-95; Spark default binary collation matches Rust
  * String Ord). df = document frequency (the reference's misnamed
  * `term_frequency`, src/indexer/index_merge_writer.rs:142), cf =
  * collection frequency, idf = BM25 idf, max_impact = global per-term
  * upper bound for WAND.
  */
final case class DictRow(
    term: String,
    term_id: Long,
    df: Long,
    cf: Long,
    idf: Double,
    max_impact: Double)

final case class IndexMeta(
    n_docs: Long,
    avgdl: Double,
    n_terms: Long,
    n_postings: Long,
    k1: Double,
    b: Double)

object Bm25 {
  val K1 = 1.2
  val B = 0.75

  /** idf = ln(1 + (N - df + 0.5)/(df + 0.5)) — the BM25 idf demanded by
    * the north rule (SURVEY.md §7.3(3)); the reference's WIP tf-idf
    * (log10(N/df), src/scoring/mod.rs:42-44) is kept separately as
    * `tfIdf` for parity tests.
    */
  def idf(n: Long, df: Long): Double =
    math.log(1.0 + (n - df + 0.5) / (df + 0.5))

  /** The tf/length part of BM25; impact = idf * norm(tf, dl). Scalar and
    * Spark sides both call this exact function, so scores are
    * bit-identical between the cluster and the oracle.
    */
  def norm(tf: Int, dl: Int, avgdl: Double, k1: Double = K1, b: Double = B): Double =
    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))

  def impact(idf: Double, tf: Int, dl: Int, avgdl: Double,
      k1: Double = K1, b: Double = B): Double =
    idf * norm(tf, dl, avgdl, k1, b)

  /** Reference parity scorer (src/scoring/mod.rs:34-48). */
  def tfIdf(n: Long, df: Long, tf: Int): Double =
    math.log10(n.toDouble / df.toDouble) * tf
}
