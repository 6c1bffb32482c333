package graft.query

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.SparkSpecBase
import graft.core.Fuzzy
import graft.corpus.{Transcripts, Turn}
import graft.index.{Generations, IndexBuilder, IndexConf, IndexPaths}

/** Driver fuzzy lookup: with the dictionary installed on the driver,
  * `fuzzyTerms` answers from the driver lexicon. Its rows must equal the
  * Spark paths' (the variant table at d <= 3, the `dict_by_len` range
  * probe at d = 4 and beyond `Fuzzy.MaxTermLen`, the scan fallback on a
  * read-only root without `dict_by_len`) on a single index and on a 3-generation
  * root with tombstones, supplementary-plane terms included, and it must
  * take none of those paths (their counters do not move).
  */
class FuzzyDriverSpec extends SparkSpecBase {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, indexBigrams = true)

  // U+1D452 (a surrogate pair in UTF-16, one code point) + "go": one
  // substitution from "ego"; a 70-code-point term, one deletion from a
  // query longer than Fuzzy.MaxTermLen
  private val mathEgo = "𝑒go"
  private val longTerm = "b" * 70
  private lazy val turns: Seq[Turn] = Transcripts.generateLocal(30L) ++
    Seq(s"$mathEgo alpha beta", "ego gamma delta", s"ümlaut 中文词 ße",
      s"$longTerm ego", s"𝑒𝑓 $mathEgo").zipWithIndex.map { case (text, i) =>
      Turn(f"zz-uni-$i%04d", 0, "user", text, "", new Timestamp(0L))
    }

  private lazy val singleRoot: String = {
    import spark.implicits._
    val dir = tmpDir("graft-fuzzq-driver-single")
    new IndexBuilder(spark, lemmas, conf).build(spark.createDataset(turns), dir)
    dir
  }

  private lazy val genRoot: String = {
    import spark.implicits._
    val dir = tmpDir("graft-fuzzq-driver-gens")
    val (b1, rest) = turns.splitAt(turns.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    Generations.deleteDocs(spark, spark.createDataset(Seq(3L, 200L, 500L)), dir)
    dir
  }

  /** The single root without `dict_by_len`, whose backfill of it failed
    * (as on a read-only mount): large d takes the scan.
    */
  private lazy val noDictByLen: String = {
    val dir = tmpDir("graft-fuzzq-driver-nodbl")
    new java.io.File(singleRoot).listFiles().filter(_.getName != "dict_by_len")
      .foreach(f => copyTree(f, new java.io.File(dir, f.getName)))
    QueryEngine.backfillFailed.add(IndexPaths(dir).dictByLen)
    dir
  }

  private val queries = Seq("tabel", "kelba", "the", "ego", mathEgo, "ümlau",
    "中文", "x", "", "b" * (Fuzzy.MaxTermLen + 5))

  private def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet

  private def counters: (Long, Long) =
    (QueryEngine.fuzzyRangeProbes.get(), QueryEngine.fuzzyScanFallbacks.get())

  for ((label, root, readers, scans) <- Seq(
      ("a single index", () => singleRoot, 1, false),
      ("3 generations with tombstones", () => genRoot, 3, false),
      ("a single index without dict_by_len", () => noDictByLen, 1, true)))
    test(s"driver fuzzy lookup equals the Spark paths: $label") {
      val viaSpark = new QueryEngine(spark, root(), lemmas)
      val viaDriver = new QueryEngine(spark, root(), lemmas)
      assert(viaDriver.warmDictionaryLocal())
      assert(viaDriver.readers.size == readers && !viaSpark.dictLocalInstalled)
      var matched = 0
      for (d <- 1 to 4; q <- queries) {
        val (probes, fallbacks) = counters
        val want = viaSpark.fuzzyTerms(q, d)
        val wantRows = rows(want)
        // d = 4 and the over-long query leave the variant tables
        val offTable = d == 4 || q.length > Fuzzy.MaxTermLen
        val (probed, scanned) = counters
        if (offTable && scans) assert(scanned - fallbacks == 1, s"'$q' d=$d: no scan fallback")
        else if (offTable) assert(probed - probes == readers, s"'$q' d=$d: no range probe")
        else assert((probed, scanned) == (probes, fallbacks), s"'$q' d=$d: left the variant table")
        val got = viaDriver.fuzzyTerms(q, d)
        assert(counters == (probed, scanned), s"'$q' d=$d: the driver path ran a Spark path")
        assert(got.schema == want.schema, s"'$q' d=$d: schema ${got.schema} != ${want.schema}")
        assert(rows(got) == wantRows, s"'$q' d=$d: driver ${rows(got)} != Spark $wantRows")
        matched += wantRows.size
      }
      assert(matched > 0, "no query matched a term — weak test")
      // the supplementary-plane and over-long terms are within reach
      val terms = viaDriver.fuzzyTerms("ego", 1).collect().map(_.getString(0)).toSet
      assert(terms.contains(mathEgo) && terms.contains("ego"), s"ego at d=1: $terms")
      assert(viaDriver.fuzzyTerms("b" * 69, 1).collect().map(_.getString(0)).toSeq ==
        Seq(longTerm))
    }

  test("Fuzzy.Within equals a full code-point Levenshtein") {
    def lev(a: Array[Int], b: Array[Int]): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0)
        dp(0) = i
        for (j <- 1 to b.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j), dp(j - 1)) + 1,
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(b.length)
    }
    val alphabet = Vector("a", "b", "c", mathEgo.take(2), "ß")
    val rnd = new scala.util.Random(16L)
    def word(): String = Seq.fill(rnd.nextInt(8))(alphabet(rnd.nextInt(alphabet.size))).mkString
    for (_ <- 0 until 3000) {
      val (q, t, d) = (word(), word(), rnd.nextInt(5))
      val want = lev(t.codePoints().toArray, q.codePoints().toArray) <= d
      assert(new Fuzzy.Within(q, d)(t.toCharArray, 0, t.length) == want, s"'$t' vs '$q' at d=$d")
    }
  }
}
