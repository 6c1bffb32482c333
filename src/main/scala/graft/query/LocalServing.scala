package graft.query

import graft.core.{ChunkCodec, Tokenizer}
import graft.index.{Bm25, DictRow, IndexMeta}

/** One postings chunk row as the driver-local paths read it (from
  * [[ResidentPostings]] or one collect): the `postings` table's decode
  * columns, with `pos_blob` null when the call does not need positions
  * for that term. (`graft.index.ChunkRow` is the row the table stores.)
  */
final case class LocalChunk(term_id: Long, n_postings: Int, doc_gaps: Array[Byte],
    tfs: Array[Int], dls: Array[Int], pos_blob: Array[Byte])

/** One term's postings decoded on the driver, its chunks concatenated.
  * `positions` is null when the positional column was not collected;
  * each posting's positions ascend.
  */
final class TermPostings(val docIds: Array[Long], val tfs: Array[Int], val dls: Array[Int],
    val positions: Array[Array[Int]]) {

  /** doc_id -> index into the arrays above. */
  lazy val indexOf: java.util.HashMap[Long, Integer] = {
    val m = new java.util.HashMap[Long, Integer](docIds.length * 2)
    var i = 0
    while (i < docIds.length) { m.put(docIds(i), i); i += 1 }
    m
  }
}

/** A driver lexicon's unigrams bucketed by code-point length, for fuzzy
  * lookup on the driver: the terms within distance d of a query are
  * found by scanning only the buckets of the query's length ± d with
  * [[graft.core.Fuzzy.Within]]. Each bucket packs its terms' UTF-16
  * units into one array, so the scan reads memory in order and touches
  * a term's row only when the term matches.
  */
final class FuzzyLexicon private (byLen: Map[Int, FuzzyLexicon.Bucket]) {

  private val longest = if (byLen.isEmpty) -1 else byLen.keys.max

  /** The rows whose term is within Levenshtein distance `d` of `q`, in
    * UTF-8 term order: the term set of `IndexReader.fuzzyTerms`'s Spark
    * paths.
    */
  def within(q: String, d: Int): Seq[DictRow] = {
    val near = new graft.core.Fuzzy.Within(q, d)
    val qLen = near.query.length
    val out = Array.newBuilder[DictRow]
    var len = math.max(0, qLen - d)
    while (len <= math.min(longest, qLen.toLong + d)) {
      byLen.get(len).foreach { b =>
        var t = 0
        while (t < b.rows.length) {
          if (near(b.chars, b.starts(t), b.starts(t + 1))) out += b.rows(t)
          t += 1
        }
      }
      len += 1
    }
    out.result().sortBy(_.term)(Tokenizer.utf8Ordering).toSeq
  }
}

object FuzzyLexicon {

  /** The terms of one code-point length: term `t` is the UTF-16 units
    * `chars[starts(t), starts(t + 1))`, its row `rows(t)`.
    */
  private final class Bucket(val chars: Array[Char], val starts: Array[Int],
      val rows: Array[DictRow])

  /** Buckets the unigrams of `rows` (a bigram-indexed dictionary's
    * space-joined pseudo-terms are never fuzzy matches).
    */
  def apply(rows: Iterable[DictRow]): FuzzyLexicon =
    new FuzzyLexicon(rows.iterator.filter(r => !r.term.contains(" ")).toArray
      .groupBy(r => r.term.codePointCount(0, r.term.length))
      .map { case (len, rs) =>
        val starts = rs.scanLeft(0)(_ + _.term.length)
        val chars = new Array[Char](starts.last)
        rs.indices.foreach(t => rs(t).term.getChars(0, rs(t).term.length, chars, starts(t)))
        len -> new Bucket(chars, starts, rs)
      })
}

/** Driver-local query evaluation over decoded postings: pure functions,
  * no Spark. When the total df of every term a call needs fits under
  * `EngineConfig.localMaxPostings`, the engine reads those terms' chunk
  * rows from its [[ResidentPostings]] (when the root's postings fit
  * the driver heap's resident budget) or collects them in ONE job, and
  * answers from them here — the
  * reference's one-process evaluation of phrase intersection and the
  * three-tier handle_query (positional_intersect/mod.rs:11-35,
  * search_engine/mod.rs:118-206). The text the snippet page and the
  * filtered kinds read comes from the engine's [[ResidentDocs]] when
  * postings and docs fit that budget together, else from one job on the
  * docs parquet. On a warm resident root no kind runs a Spark job: the
  * engine wraps each answer in a local relation of the kind's schema
  * (`org.apache.spark.sql.graft.LocalFrame`).
  *
  * Every function reproduces its distributed counterpart bit for bit:
  * the same `Bm25.impact`, the per-doc fold from 0.0 in ASCENDING
  * term_id order (what `sort_array(collect_list(struct(fold_key,
  * impact)))` folds), the (score desc, doc_id asc) tie-break, the
  * anchor-offset phrase test of the distributed phrase plan, the exact
  * tier algebra of `QueryEngine.tieredTopK` and the `split`/`slice`
  * window of `QueryEngine.assembleSnippets`. Over generations the engine passes
  * its global entries (term_id = the UTF-8 fold key, global df and idf)
  * and global meta, so the same functions serve every kind of root.
  */
object LocalServing {

  /** Decode collected chunk rows, grouped by term, keeping only the
    * postings of docs passing `live` (tombstoned docs are dropped here).
    */
  def decode(rows: Seq[LocalChunk], live: Long => Boolean = _ => true): Map[Long, TermPostings] =
    rows.groupBy(_.term_id).map { case (termId, chunks) =>
      val withPos = chunks.forall(_.pos_blob != null)
      val ids = Array.newBuilder[Long]
      val tfs = Array.newBuilder[Int]
      val dls = Array.newBuilder[Int]
      val pos = Array.newBuilder[Array[Int]]
      chunks.foreach { c =>
        val cIds = ChunkCodec.decodeDocGaps(c.doc_gaps, c.n_postings)
        val cPos = if (withPos) ChunkCodec.decodePositions(c.pos_blob, c.n_postings) else null
        var i = 0
        while (i < c.n_postings) {
          if (live(cIds(i))) {
            ids += cIds(i)
            tfs += c.tfs(i)
            dls += c.dls(i)
            if (withPos) pos += cPos(i)
          }
          i += 1
        }
      }
      termId -> new TermPostings(ids.result(), tfs.result(), dls.result(),
        if (withPos) pos.result() else null)
    }

  /** Exact BM25 score of every doc holding any of `entries` (restricted
    * to docs passing `keep`): impacts added per doc in ascending
    * term_id order starting from 0.0.
    */
  def scores(entries: Seq[DictRow], ps: Map[Long, TermPostings], meta: IndexMeta,
      keep: Long => Boolean = _ => true): scala.collection.Map[Long, Double] = {
    val acc = scala.collection.mutable.LongMap.empty[Double]
    entries.sortBy(_.term_id).foreach { e =>
      ps.get(e.term_id).foreach { p =>
        var i = 0
        while (i < p.docIds.length) {
          val d = p.docIds(i)
          if (keep(d))
            acc(d) = acc.getOrElse(d, 0.0) +
              Bm25.impact(e.idf, p.tfs(i), p.dls(i), meta.avgdl, meta.k1, meta.b)
          i += 1
        }
      }
    }
    acc
  }

  /** The k best (doc_id, score) pairs, (score desc, doc_id asc). */
  def topK(scored: scala.collection.Map[Long, Double], k: Int): Seq[(Long, Double)] =
    scored.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)

  /** Docs holding every one of `entries` (an empty seq holds none). */
  private def allOf(entries: Seq[DictRow], ps: Map[Long, TermPostings]): Set[Long] =
    if (entries.isEmpty) Set.empty
    else entries.map(e => ps.get(e.term_id).fold(Set.empty[Long])(_.docIds.toSet))
      .reduce(_ intersect _)

  /** Docs where `seq` (duplicates kept, position-significant) occurs at
    * consecutive positions, ascending. A one-term sequence is that
    * term's doc set; a term missing from `entries` matches nothing.
    * Multi-term sequences need positions collected for their terms.
    * The anchor is the rarest term (ties: first index), as in the
    * distributed plan: for some anchor position p, every other index i
    * holds position p + (i - anchor).
    */
  def phraseDocs(seq: Seq[String], entries: Seq[DictRow],
      ps: Map[Long, TermPostings]): Array[Long] = {
    val byTerm = entries.map(e => e.term -> e).toMap
    if (seq.isEmpty || seq.exists(t => !byTerm.contains(t))) return Array.empty
    val post = seq.map(t => ps.get(byTerm(t).term_id))
    if (post.exists(_.isEmpty)) return Array.empty
    if (seq.size == 1) return post.head.get.docIds.sorted
    val anchor = seq.indices.minBy(i => (byTerm(seq(i)).df, i))
    val a = post(anchor).get
    val out = Array.newBuilder[Long]
    var j = 0
    while (j < a.docIds.length) {
      val d = a.docIds(j)
      val others = seq.indices.filter(_ != anchor).map { i =>
        val p = post(i).get
        val at = p.indexOf.get(d)
        (i, if (at == null) null else p.positions(at))
      }
      if (others.forall(_._2 != null) && a.positions(j).exists(pos =>
          others.forall { case (i, ips) =>
            java.util.Arrays.binarySearch(ips, pos + (i - anchor)) >= 0 }))
        out += d
      j += 1
    }
    out.result().sorted
  }

  /** `QueryEngine.tieredTopK`'s exact form over decoded postings: tier 0 =
    * phrase docs with their unigram score, tier 1 = docs holding every
    * query bigram (when `bigramActive`) that are not phrase docs, with
    * their bigram score, tier 2 = every other unigram match; ordered
    * (tier, score desc, doc_id), k rows. A one-term phrase has no
    * phrase or bigram tier: the unigram top-k, labeled tier 2.
    */
  def tiered(phraseSeq: Seq[String], entries: Seq[DictRow], bigramActive: Boolean,
      bigramEntries: Seq[DictRow], ps: Map[Long, TermPostings], meta: IndexMeta,
      k: Int): Seq[(Long, Double, Int)] = {
    val scored = scores(entries, ps, meta)
    if (phraseSeq.size == 1)
      return topK(scored, k).map { case (d, s) => (d, s, 2) }
    val phrase = phraseDocs(phraseSeq, entries, ps).toSet
    val tier0 = scored.iterator.filter(x => phrase(x._1)).map { case (d, s) => (d, s, 0) }
    val tier1 =
      if (!bigramActive) Seq.empty
      else {
        val conj = allOf(bigramEntries, ps)
        scores(bigramEntries, ps, meta, d => conj(d) && !phrase(d))
          .iterator.map { case (d, s) => (d, s, 1) }.toSeq
      }
    val claimed = tier1.iterator.map(_._1).toSet
    val tier2 = scored.iterator.filter(x => !phrase(x._1) && !claimed(x._1))
      .map { case (d, s) => (d, s, 2) }
    (tier0 ++ tier1 ++ tier2).toSeq
      .sortBy { case (d, s, t) => (t, -s, d) }.take(k)
  }

  /** Earliest position of any collected term in each of `docIds` that
    * holds one (the snippet anchor, `first_pos`).
    */
  def firstPositions(ps: Map[Long, TermPostings], docIds: Set[Long]): Map[Long, Int] = {
    val out = scala.collection.mutable.LongMap.empty[Int]
    ps.valuesIterator.foreach { p =>
      var i = 0
      while (i < p.docIds.length) {
        val d = p.docIds(i)
        if (docIds(d) && p.positions(i).nonEmpty) {
          val f = p.positions(i)(0)
          out(d) = out.get(d).fold(f)(math.min(_, f))
        }
        i += 1
      }
    }
    out.toMap
  }

  /** The ±`window` token slice around 0-based `firstPos`, cut from the
    * single-space split of `text` (trailing empty tokens kept, as
    * Spark's `split` keeps them) and re-joined with single spaces; both
    * ends clamp at the document boundary. Null text gives null.
    */
  def snippet(text: String, firstPos: Int, window: Int): String =
    if (text == null) null
    else text.split(" ", -1)
      .slice(math.max(firstPos - window, 0), firstPos + window + 1).mkString(" ")

  /** Prefix suggestion over the lexicon sorted by UTF-8 term order: the
    * `n` highest-df terms whose UTF-8 bytes start with those of
    * `prefix` (Spark's `startsWith`), (df desc, term asc in UTF-8
    * order). The prefix's terms form one contiguous range, found by
    * binary search; a bounded heap keeps the best `n` of it.
    */
  def suggest(sortedTerms: Array[DictRow], prefix: String, n: Int): Seq[(String, Long)] = {
    if (n <= 0) return Nil
    var lo = 0
    var hi = sortedTerms.length
    while (lo < hi) { // first term >= prefix
      val mid = (lo + hi) >>> 1
      if (Tokenizer.compareUtf8(sortedTerms(mid).term, prefix) < 0) lo = mid + 1 else hi = mid
    }
    val pre = prefix.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def matches(term: String): Boolean = {
      val b = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      b.length >= pre.length && java.util.Arrays.equals(b, 0, pre.length, pre, 0, pre.length)
    }
    val byRank: Ordering[DictRow] = (a, b) =>
      if (a.df != b.df) java.lang.Long.compare(b.df, a.df)
      else Tokenizer.compareUtf8(a.term, b.term)
    val worstFirst = new java.util.PriorityQueue[DictRow](math.min(n, 1024) + 1, byRank.reverse)
    var i = lo
    while (i < sortedTerms.length && matches(sortedTerms(i).term)) {
      worstFirst.add(sortedTerms(i))
      if (worstFirst.size > n) worstFirst.poll()
      i += 1
    }
    val best = new Array[DictRow](worstFirst.size)
    var j = best.length - 1
    while (j >= 0) { best(j) = worstFirst.poll(); j -= 1 }
    best.toSeq.map(r => (r.term, r.df))
  }
}
