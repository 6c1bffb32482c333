package graft.core

/** SymSpell deletion-neighborhood primitives (Garbe 2012) — the engine's
  * sub-linear fuzzy-match machinery, shared by the index-time variant
  * table writer (graft.index.IndexBuilder.writeFuzzyIndex) and the
  * query-side probe (graft.query.QueryEngine.fuzzyTerms) — and the
  * bounded Levenshtein ([[Fuzzy.Within]]) of the driver-side lookup over
  * an installed lexicon (graft.query.FuzzyLexicon).
  */
object Fuzzy {

  /** Terms longer than this get no deletion variants (just themselves):
    * variants of an L-char term cost O(L^2) characters, so one unbroken
    * 100 KB junk token (base64 blob, URL) would otherwise materialize
    * ~10 GB of variants inside a single task. Fuzzy recall is therefore
    * limited to terms <= MaxTermLen code points — matching the practical
    * domain of edit-distance-1 lexical lookup.
    */
  val MaxTermLen = 64

  /** All strings reachable from `s` by deleting up to d code points,
    * INCLUDING s itself (SymSpell requires 0..d deletions on both sides:
    * lev(a,b) <= d implies a and b share a string reachable by <= d
    * deletions from each). Deletions operate on code points, matching
    * Spark's levenshtein.
    *
    * Strings longer than `maxLen` code points emit only themselves. The
    * INDEX writer passes maxLen = MaxTermLen + d so that every term
    * reachable from a <= MaxTermLen-cp query still has its variants in
    * the table (a 65-cp term is 1 deletion from a 64-cp query); the
    * query side keeps the MaxTermLen default, and over-long QUERIES are
    * routed to the scan fallback by QueryEngine.fuzzyTerms.
    */
  def deleteVariants(s: String, d: Int, maxLen: Int = MaxTermLen): Set[String] = {
    if (s.codePointCount(0, s.length) > maxLen) return Set(s)
    def delOne(w: String): Iterator[String] = {
      val cps = w.codePoints().toArray
      cps.indices.iterator.map { j =>
        val rest = new Array[Int](cps.length - 1)
        System.arraycopy(cps, 0, rest, 0, j)
        System.arraycopy(cps, j + 1, rest, j, cps.length - 1 - j)
        new String(rest, 0, rest.length)
      }
    }
    var cur = Set(s)
    var all = Set(s)
    var i = 0
    while (i < d) {
      cur = cur.flatMap(delOne)
      all ++= cur
      i += 1
    }
    all
  }

  /** Spark's `levenshtein(term, q) <= d` for one query against many
    * terms, on the driver: the distance counts code points, as Spark's
    * does, and the query is taken through UTF-8 first (an unpaired
    * surrogate becomes '?', as in Spark's strings). One DP row per code
    * point of the term, only the cells within d of the diagonal, giving
    * up once every cell of a row exceeds d. Not thread-safe: the rows are
    * scratch space reused by every call.
    */
  final class Within(q: String, val d: Int) {
    val query: Array[Int] = new String(q.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      java.nio.charset.StandardCharsets.UTF_8).codePoints().toArray
    private val m = query.length
    private var prev = Array.tabulate(m + 1)(identity)
    private var cur = new Array[Int](m + 1)

    /** Whether the term held as the UTF-16 units `chars[from, until)` is
      * within `d` of the query (read in place from a packed array).
      */
    def apply(chars: Array[Char], from: Int, until: Int): Boolean = {
      if (d < 0) return false
      if (m == 0) return Character.codePointCount(chars, from, until - from) <= d
      val far = d + 1 // any value above d: a cell outside the band
      var j = 0
      while (j <= m) { prev(j) = j; j += 1 }
      var i = 0
      var k = from
      while (k < until) {
        val c = Character.codePointAt(chars, k, until)
        k += Character.charCount(c)
        i += 1
        val lo = math.max(1, i - d)
        val hi = math.min(m, i + d)
        if (lo > hi) return false // the term is more than d longer
        cur(lo - 1) = if (lo == 1) i else far
        var best = cur(lo - 1)
        j = lo
        while (j <= hi) {
          val v = math.min(prev(j - 1) + (if (query(j - 1) == c) 0 else 1),
            math.min(prev(j), cur(j - 1)) + 1)
          cur(j) = v
          if (v < best) best = v
          j += 1
        }
        if (hi < m) cur(hi + 1) = far
        if (best > d) return false
        val t = prev; prev = cur; cur = t
      }
      // the last row's band holds column m iff the lengths differ by <= d
      m - i <= d && prev(m) <= d
    }
  }
}
