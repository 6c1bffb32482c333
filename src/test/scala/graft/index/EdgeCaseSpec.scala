package graft.index

import java.sql.Timestamp

import graft.SparkSpecBase
import graft.core.ChunkCodec
import graft.corpus.Turn
import graft.oracle.Oracle
import graft.query.QueryEngine

/** Degenerate inputs the 10^12-turn corpus will certainly contain:
  * empty texts, all-punctuation turns (doc_len 0), one-token docs, one
  * huge doc, single-conversation corpora.
  */
class EdgeCaseSpec extends SparkSpecBase {

  private val lemmas = Map.empty[String, String]

  private def turn(conv: Int, idx: Int, text: String) =
    Turn(f"conv-$conv%08d", idx, "user", text, "", new Timestamp(60000L))

  private lazy val turnsLocal: Seq[Turn] = Seq(
    turn(0, 0, ""),                         // empty text
    turn(0, 1, "   \t  "),                  // whitespace only
    turn(0, 2, "... !!! ???"),              // cleans to nothing, doc_len 0
    turn(0, 3, "solo"),                     // one token
    turn(1, 0, ("repeat " * 5000).trim),    // huge doc, tf 5000 of one term
    turn(1, 1, "solo again and again"),
    turn(2, 0, "regular words here solo"))

  private lazy val oracle = new Oracle(turnsLocal, lemmas)
  private lazy val engine: QueryEngine = {
    val dir = tmpDir("graft-edge")
    import spark.implicits._
    new IndexBuilder(spark, lemmas, IndexConf(numParts = 4))
      .build(spark.createDataset(turnsLocal), dir)
    new QueryEngine(spark, dir, lemmas)
  }

  test("meta counts degenerate docs; avgdl matches oracle") {
    assert(engine.meta.n_docs == 7)
    assert(engine.meta.avgdl == oracle.avgdl)
  }

  test("empty/punctuation docs get doc ids but no postings") {
    val lens = engine.docs.collect()
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")) ->
        r.getAs[Int]("doc_len")).toMap
    assert(lens(("conv-00000000", 0)) == 0)
    assert(lens(("conv-00000000", 2)) == 0)
    assert(lens(("conv-00000001", 0)) == 5000)
  }

  test("BM25 over degenerate corpus rank-identical to oracle (all paths)") {
    val forced = engine.withConfig(_.copy(localMaxPostings = 0L, wandMinPostings = 0L))
    Seq("solo", "repeat", "solo repeat", "words again").foreach { q =>
      val want = oracle.bm25TopK(q, 5)
      val got = forced.bm25TopK(q, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"edge top-k mismatch for '$q'\n got=$got\nwant=$want")
    }
    val local = engine.bm25TopK("solo repeat", 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(local == oracle.bm25TopK("solo repeat", 5))
  }

  test("huge-tf doc spans multiple chunks worth of positions, decodes back") {
    val e = engine.lookupTerms(Seq("repeat")).head
    assert(e.df == 1 && e.cf == 5000)
    import spark.implicits._
    val p = engine.postings.filter($"term_id" === e.term_id)
      .select($"doc_gaps", $"pos_blob", $"n_postings")
      .as[(Array[Byte], Array[Byte], Int)].collect()
      .flatMap { case (gaps, pos, n) => ChunkCodec.decode(gaps, pos, n).positions }
    assert(p.length == 1 && p.head.length == 5000)
    assert(p.head.toSeq == (0 until 5000))
  }

  test("tokenless handleQuery keeps the (doc_id, score, tier) contract") {
    // "... !!! ???" tokenizes to nothing: the early-out must still
    // return 3 columns or callers selecting the tier column throw
    Seq("", "   ", "... !!! ???").foreach { q =>
      val df = engine.handleQuery(q, 5)
      assert(df.columns.toSeq == Seq("doc_id", "score", "tier"),
        s"schema drift for tokenless query '$q': ${df.columns.mkString(",")}")
      assert(df.count() == 0)
    }
    // and the multi-generation facade agrees
    val root = tmpDir("graft-edge-mg")
    import spark.implicits._
    Generations.append(spark, spark.createDataset(turnsLocal), root, lemmas,
      IndexConf(numParts = 2))
    val multi = new MultiGenEngine(spark, root, lemmas)
    val df = multi.handleQuery("!!!", 5)
    assert(df.columns.toSeq == Seq("doc_id", "score", "tier"))
    assert(df.count() == 0)
  }
}
