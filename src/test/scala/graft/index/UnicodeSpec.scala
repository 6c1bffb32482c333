package graft.index

import java.sql.Timestamp

import graft.SparkSpecBase
import graft.corpus.Turn
import graft.oracle.Oracle
import graft.query.QueryEngine

/** Unicode ordering parity: Rust `String: Ord` and Spark's binary
  * StringType collation sort by UTF-8 BYTES; Java's compareTo sorts by
  * UTF-16 code units. Supplementary characters (emoji) order differently
  * under the two (U+E000 < U+1F600 in UTF-8 bytes, reversed in UTF-16),
  * so this corpus would break any Java-ordered term_id / range-boundary
  * logic — the engine must stay rank-identical to the (byte-ordered)
  * oracle anyway.
  */
class UnicodeSpec extends SparkSpecBase {

  private val lemmas = Map.empty[String, String]

  // terms chosen to straddle the UTF-16/UTF-8 order disagreement:
  // "" (private use, 3-byte UTF-8) vs "😀" (U+1F600, 4-byte UTF-8,
  // UTF-16 surrogate pair starting 0xD83D < 0xE000)
  private val words = Vector("alpha", "ka", "😀grin", "zebra",
    "ümlaut", "中文词", "ße", "😀grin", "ka")

  private lazy val turnsLocal: Seq[Turn] = (0 until 40).map { i =>
    val text = (0 until 8).map(j => words((i * 3 + j * 5) % words.size)).mkString(" ")
    Turn(f"conv-$i%08d", 0, "user", text, "", new Timestamp(0L))
  }

  private lazy val oracle = new Oracle(turnsLocal, lemmas)
  private lazy val engine: QueryEngine = {
    val dir = tmpDir("graft-unicode")
    import spark.implicits._
    new IndexBuilder(spark, lemmas, IndexConf(numParts = 4))
      .build(spark.createDataset(turnsLocal), dir)
    new QueryEngine(spark, dir, lemmas)
  }

  test("the corpus actually exercises the UTF-16/UTF-8 order divergence") {
    val a = "ka"
    val b = "😀grin"
    assert(a.compareTo(b) > 0, "UTF-16: surrogate pair sorts below U+E000")
    assert(graft.core.Tokenizer.compareUtf8(a, b) < 0, "UTF-8: 4-byte seq sorts above")
  }

  test("compareUtf8 matches UTF-8 byte order including unpaired surrogates") {
    // Java's UTF-8 encoder — and thus Spark's UTF8String, which fixes
    // the on-disk dictionary order — replaces an UNPAIRED surrogate
    // with '?' (0x3F); the comparator must mirror that, not compare the
    // raw surrogate code point (0xD800+ would sort above all BMP
    // letters while the bytes sort as '?')
    def byteCmp(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val emoji = new String(Character.toChars(0x1F600))
    val samples = Seq(
      "ab\uD800cd", // unpaired high surrogate mid-word
      "ab\uDC00cd", // unpaired low surrogate
      "ab?cd", "ab!cd", "abzcd", // '?' collision + neighbors
      "ab\uD800", "ab?", "ab", // tie-then-length tails
      "\uD800\uD800", "??", // consecutive unpaired highs
      s"ab${emoji}cd", s"ab$emoji", emoji, // PAIRED surrogates (4-byte path)
      "", "z", "ka")
    for (a <- samples; b <- samples)
      assert(
        Integer.signum(graft.core.Tokenizer.compareUtf8(a, b)) ==
          Integer.signum(byteCmp(a, b)),
        s"<$a> vs <$b>: comparator diverges from UTF-8 byte order")
  }

  test("term ids byte-ordered and identical to oracle on unicode terms") {
    val dict = engine.dictionary.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("term_id")).toMap
    assert(dict.size == oracle.termId.size)
    oracle.termId.foreach { case (t, id) =>
      assert(dict(t) == id, s"term_id mismatch for '$t' (codepoints ${t.codePoints.toArray.mkString(",")})")
    }
  }

  test("RangeRank scalable path (boundary routing) is UTF-8-byte ordered") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val terms = (0 until 5000).map { i =>
      words(i % words.size) + "-" + rnd.nextInt(1000)
    }.distinct
    val df = terms.toDF("term")
    // smallThreshold = 0 forces the sampled-boundary + offset path
    val ranked = RangeRank.withRank(df, Seq("term"), "rank", numParts = 8,
      smallThreshold = 0L).df
      .collect().map(r => r.getAs[String]("term") -> r.getAs[Long]("rank"))
    val want = terms.sorted(graft.core.Tokenizer.utf8Ordering)
      .zipWithIndex.map { case (t, i) => t -> (i + 1L) }.toMap
    ranked.foreach { case (t, r) =>
      assert(want(t) == r, s"rank mismatch for '$t': got $r want ${want(t)}")
    }
  }

  test("BM25 top-k rank-identical on unicode corpus") {
    Seq("😀grin alpha", "ka 中文词", "ümlaut ße zebra").foreach { q =>
      val got = engine.bm25TopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = oracle.bm25TopK(q, 10)
      assert(got == want, s"unicode top-k mismatch for '$q'\n got=$got\nwant=$want")
    }
  }

  test("fuzzy parity on supplementary-plane terms (code-point levenshtein)") {
    // A term with a SUPPLEMENTARY alphabetic first char: "\uD835\uDC52go"
    // (U+1D452 MATHEMATICAL ITALIC SMALL E + "go") — alphabetic, so
    // cleanWord keeps it. vs query "ego": ONE code-point substitution.
    // A UTF-16-unit oracle DP counts the surrogate PAIR as two edits,
    // omits the term at d=1, and wrongly indicts correct engine output
    // (Spark's levenshtein is code-point based).
    val mathEgo = "\uD835\uDC52go"
    assert(oracle.levenshtein(mathEgo, "ego") == 1)
    val local = Seq(
      Turn("fz-00000001", 0, "user", s"$mathEgo alpha beta", "", new Timestamp(0L)),
      Turn("fz-00000002", 0, "user", "ego gamma delta", "", new Timestamp(0L)))
    val dir = tmpDir("graft-unifuzzy")
    import spark.implicits._
    new IndexBuilder(spark, lemmas, IndexConf(numParts = 2))
      .build(spark.createDataset(local), dir)
    val e = new QueryEngine(spark, dir, lemmas)
    val fzOracle = new Oracle(local, lemmas)
    Seq(("ego", 1), (mathEgo, 1)).foreach { case (q, d) =>
      val got = e.fuzzyTerms(q, d).collect().map(_.getString(0)).toSet
      val want = fzOracle.fuzzyTerms(q, d)
      assert(got == want,
        s"fuzzy parity mismatch for ('$q', $d): got=$got want=$want")
      assert(got.contains(mathEgo) && got.contains("ego"),
        s"both forms must match at d=$d: $got")
    }
  }
}
