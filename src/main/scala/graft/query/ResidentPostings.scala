package graft.query

import org.apache.spark.sql.catalyst.InternalRow

/** One reader's postings held on the driver (the reference's resident
  * blocks, read directly): every chunk row of the `postings` table in
  * flat primitive arrays, ordered by (term_id, chunk_seq). Term `t`
  * (the i-th of the ascending local `termIds`) owns chunks
  * `[termStart(i), termStart(i + 1))`; chunk `c` owns postings
  * `[postStart(c), postStart(c + 1))` of `tfs`/`dls`, and bytes
  * `[gapStart(c), gapStart(c + 1))` of `gaps` and
  * `[posStart(c), posStart(c + 1))` of `pos`. No boxed value is held,
  * so the heap cost is the column bytes (`tfs`/`dls` as 4-byte `Int`s)
  * plus three `Int`s a chunk and an `Int` and a `Long` a term.
  */
final class ResidentPostings private (termIds: Array[Long], termStart: Array[Int],
    postStart: Array[Int], tfs: Array[Int], dls: Array[Int],
    gapStart: Array[Int], gaps: Array[Byte], posStart: Array[Int], pos: Array[Byte]) {

  /** The chunk rows of local term `termId` as the per-call collect
    * returns them: labelled `key`, with `pos_blob` only when `withPos`.
    */
  def rows(termId: Long, key: Long, withPos: Boolean): Seq[LocalChunk] = {
    val t = java.util.Arrays.binarySearch(termIds, termId)
    if (t < 0) Nil
    else (termStart(t) until termStart(t + 1)).map { c =>
      LocalChunk(key, postStart(c + 1) - postStart(c),
        java.util.Arrays.copyOfRange(gaps, gapStart(c), gapStart(c + 1)),
        java.util.Arrays.copyOfRange(tfs, postStart(c), postStart(c + 1)),
        java.util.Arrays.copyOfRange(dls, postStart(c), postStart(c + 1)),
        if (withPos) java.util.Arrays.copyOfRange(pos, posStart(c), posStart(c + 1))
        else null)
    }
  }

  /** Heap bytes of the arrays' contents. */
  def bytes: Long =
    8L * termIds.length + 4L * (termStart.length + 3 * postStart.length +
      tfs.length + dls.length) + gaps.length + pos.length
}

object ResidentPostings {

  /** The columns of a collected chunk row, in order: the reader's index
    * in the engine's readers, then the `postings` table's term_id,
    * chunk_seq, n_postings, doc_gaps, tfs, dls and pos_blob, then the
    * byte lengths of doc_gaps and pos_blob.
    */
  private[query] val Columns: Seq[String] = Seq("reader", "term_id", "chunk_seq",
    "n_postings", "doc_gaps", "tfs", "dls", "pos_blob", "gaps_len", "pos_len")

  private val order: java.util.Comparator[InternalRow] = (a: InternalRow, b: InternalRow) => {
    val r = Integer.compare(a.getInt(0), b.getInt(0))
    if (r != 0) r
    else {
      val t = java.lang.Long.compare(a.getLong(1), b.getLong(1))
      if (t != 0) t else java.lang.Long.compare(a.getLong(2), b.getLong(2))
    }
  }

  /** Packs the chunk rows of readers `0 until nReaders`, collected as
    * [[Columns]] in any order. Reads each value straight from the row
    * (no per-row object is built), sorts `chunks` in place and clears
    * each slot once copied, so a row is garbage as soon as it is
    * packed. A column whose total outgrows a JVM array fails the pack.
    */
  private[query] def packAll(chunks: Array[InternalRow], nReaders: Int): Seq[ResidentPostings] = {
    java.util.Arrays.sort(chunks, order)
    var from = 0
    (0 until nReaders).map { g =>
      while (from < chunks.length && chunks(from).getInt(0) < g) from += 1
      var until = from
      while (until < chunks.length && chunks(until).getInt(0) == g) until += 1
      val held = pack(chunks, from, until)
      from = until
      held
    }
  }

  /** Packs `chunks[from, until)`, sorted by (term_id, chunk_seq). */
  private def pack(chunks: Array[InternalRow], from: Int, until: Int): ResidentPostings = {
    val n = until - from
    def total(column: Int): Int = {
      var s = 0L
      var c = from
      while (c < until) { s += chunks(c).getInt(column); c += 1 }
      require(s < Int.MaxValue - 8, s"resident postings column of $s elements")
      s.toInt
    }
    val tfs = new Array[Int](total(3))
    val dls = new Array[Int](tfs.length)
    val gaps = new Array[Byte](total(8))
    val pos = new Array[Byte](total(9))
    val postStart, gapStart, posStart = new Array[Int](n + 1)
    val termIds = Array.newBuilder[Long]
    val termStart = Array.newBuilder[Int]
    var prevTerm = 0L
    var i = 0
    while (i < n) {
      val ch = chunks(from + i)
      val termId = ch.getLong(1)
      if (i == 0 || prevTerm != termId) { termIds += termId; termStart += i }
      prevTerm = termId
      val np = ch.getInt(3)
      val (tf, dl) = (ch.getArray(5), ch.getArray(6))
      var j = 0
      while (j < np) {
        tfs(postStart(i) + j) = tf.getInt(j)
        dls(postStart(i) + j) = dl.getInt(j)
        j += 1
      }
      System.arraycopy(ch.getBinary(4), 0, gaps, gapStart(i), ch.getInt(8))
      System.arraycopy(ch.getBinary(7), 0, pos, posStart(i), ch.getInt(9))
      postStart(i + 1) = postStart(i) + np
      gapStart(i + 1) = gapStart(i) + ch.getInt(8)
      posStart(i + 1) = posStart(i) + ch.getInt(9)
      chunks(from + i) = null
      i += 1
    }
    termStart += n
    new ResidentPostings(termIds.result(), termStart.result(), postStart, tfs, dls,
      gapStart, gaps, posStart, pos)
  }
}
