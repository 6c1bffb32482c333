package graft.query

import org.apache.spark.sql.catalyst.InternalRow

import graft.index.IndexBuilder

/** A root's docs rows held on the driver (the reference's in-memory
  * document store): every row of every reader's `docs` table, all
  * [[IndexBuilder.DocsSchema]] columns, as Spark's binary rows sorted by
  * doc_id. Doc_ids are disjoint across readers, so each doc is held once.
  */
final class ResidentDocs private (ids: Array[Long], rows: Array[InternalRow]) {

  /** The rows of `docIds` the root holds, each once, by ascending doc_id. */
  def rowsOf(docIds: Array[Long]): Seq[InternalRow] =
    docIds.distinct.sorted.flatMap(row).toSeq

  /** The row of `docId`, if the root holds it. */
  def row(docId: Long): Option[InternalRow] = {
    val i = java.util.Arrays.binarySearch(ids, docId)
    if (i < 0) None else Some(rows(i))
  }

  /** The text of a held row (null when the row has none). */
  def text(r: InternalRow): String =
    if (r.isNullAt(ResidentDocs.TextField)) null
    else r.getUTF8String(ResidentDocs.TextField).toString
}

object ResidentDocs {

  private val TextField = IndexBuilder.DocsSchema.fieldIndex("text")

  /** Holds `rows`, collected as [[IndexBuilder.DocsSchema]] in any order;
    * sorts them in place.
    */
  private[query] def apply(rows: Array[InternalRow]): ResidentDocs = {
    java.util.Arrays.sort(rows, (a: InternalRow, b: InternalRow) =>
      java.lang.Long.compare(a.getLong(0), b.getLong(0)))
    new ResidentDocs(rows.map(_.getLong(0)), rows)
  }
}
