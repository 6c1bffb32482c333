package graft.query

import graft.SparkSpecBase
import graft.corpus.{Transcripts, Turn}
import graft.index.{IndexBuilder, IndexConf}
import org.apache.spark.sql.functions._

/** The serving surface beyond plain top-k: filtered search (metadata
  * predicate), keyword-in-context snippets, and prefix suggest.
  */
class ServingSpec extends SparkSpecBase {

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-serving-index")
    new IndexBuilder(spark, Map.empty, IndexConf(numParts = 4))
      .build(Transcripts.generate(spark, 77L), dir)
    dir
  }
  private lazy val engine = new QueryEngine(spark, indexDir, Map.empty)

  private def scoreMap(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
    df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  // ------------------------------------------------------ filtered search

  test("filtered scores: candidate path == semi-join path == brute force, bit-identical") {
    val terms = Seq("the", Transcripts.contentWords(5))
    val pred = col("doc_len") % 3 === 0 // ~1/3 of docs, no doc_id bias
    // the distributed routes under test
    val dist = engine.withConfig(_.copy(localMaxPostings = 0L))
    val viaCandidates = scoreMap(
      dist.bm25ScoresFiltered(terms, pred)) // small corpus -> candidate path
    val viaJoin = scoreMap(
      dist.bm25ScoresFiltered(terms, pred, candidateCap = 0)) // forced semi-join
    val allowed = engine.docs.filter(pred).select(col("doc_id"))
    val brute = scoreMap(
      engine.bm25Scores(terms).join(allowed, Seq("doc_id"), "left_semi"))
    assert(viaCandidates.nonEmpty, "predicate matched no scored docs — weak test")
    assert(viaCandidates == brute,
      s"candidate path drifted: ${viaCandidates.size} vs ${brute.size}")
    assert(viaJoin == brute, s"semi-join path drifted: ${viaJoin.size} vs ${brute.size}")
  }

  test("filtered scoring keeps GLOBAL statistics: surviving docs score as unfiltered") {
    val terms = Seq(Transcripts.contentWords(9), Transcripts.contentWords(21))
    val unfiltered = scoreMap(engine.bm25Scores(terms))
    val filtered = scoreMap(
      engine.bm25ScoresFiltered(terms, col("doc_len") >= 10))
    assert(filtered.nonEmpty)
    filtered.foreach { case (doc, s) =>
      assert(unfiltered(doc) == s, s"doc $doc: filtered $s != global ${unfiltered(doc)}")
    }
  }

  test("filtered top-k scores the filtered set (post-filtering the global top-k is wrong)") {
    val q = s"the ${Transcripts.contentWords(5)}"
    val k = 10
    val globalTop = engine.bm25TopK(q, k).collect().map(_.getLong(0))
    val winner = globalTop.head
    val pred = col("doc_id") =!= winner
    val filtered = engine.bm25TopKFiltered(q, k, pred).collect().map(_.getLong(0))
    assert(!filtered.contains(winner))
    assert(filtered.length == k,
      s"filtered search must refill to k=$k, got ${filtered.length}")
    // and the refill doc is exactly the global rank-(k+1) doc
    val topK1 = engine.bm25TopK(q, k + 1).collect().map(_.getLong(0))
    assert(filtered.toSet == topK1.toSet - winner,
      "filtered top-k must equal global top-(k+1) minus the excluded winner")
  }

  test("empty filter and unknown terms degrade to empty results, not errors") {
    assert(engine.bm25ScoresFiltered(Seq("the"), lit(false)).isEmpty)
    assert(engine.bm25ScoresFiltered(Seq("zzzznotaterm"), lit(true)).isEmpty)
  }

  // ------------------------------------------------------------- snippets

  test("snippets: first_pos from the positional index; ±window slice clamps at doc edges") {
    import spark.implicits._
    val ts0 = new java.sql.Timestamp(0L)
    val turns = Seq(
      Turn("c1", 0, "user", "target aa bb cc dd ee", "", ts0), // match at doc start
      Turn("c2", 0, "user", "aa bb cc target dd ee ff", "", ts0), // interior
      Turn("c3", 0, "user", "aa bb cc dd ee ff target", "", ts0), // at doc end
      Turn("c4", 0, "user", "aa other bb cc dd target ee", "", ts0)) // two terms: min wins
    val dir = tmpDir("graft-snippet")
    new IndexBuilder(spark, Map.empty, IndexConf(numParts = 2))
      .build(spark.createDataset(turns), dir)
    val eng = new QueryEngine(spark, dir, Map.empty)
    val got = eng.snippetsFor(Seq("target", "other"), Array(1L, 2L, 3L, 4L), window = 3)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2)))).toMap
    assert(got(1L) == ((0, "target aa bb cc")), s"start clamp: ${got(1L)}")
    assert(got(2L) == ((3, "aa bb cc target dd ee ff")), s"interior: ${got(2L)}")
    assert(got(3L) == ((6, "dd ee ff target")), s"end clamp: ${got(3L)}")
    assert(got(4L) == ((1, "aa other bb cc dd")), s"min over terms: ${got(4L)}")
  }

  test("searchWithSnippets returns the bm25TopK docs, each with a snippet containing a term") {
    val q = s"${Transcripts.contentWords(9)} ${Transcripts.contentWords(21)}"
    val top = engine.bm25TopK(q, 5).collect().map(_.getLong(0)).toSet
    val rows = engine.searchWithSnippets(q, 5).collect()
    assert(rows.map(_.getLong(0)).toSet == top)
    val terms = engine.queryTerms(q).toSet
    rows.foreach { r =>
      val snippet = r.getString(3)
      // Transcripts text carries punctuation/case noise — clean each
      // snippet token the way the indexer did before comparing
      assert(snippet != null && snippet.split(" ").exists(
          t => terms.contains(graft.core.Tokenizer.cleanWord(t))),
        s"snippet of doc ${r.getLong(0)} lacks a query term: '$snippet'")
    }
  }

  test("snippetsFor with unknown terms or empty ids returns an empty frame with the schema") {
    val e1 = engine.snippetsFor(Seq("zzzznotaterm"), Array(1L))
    val e2 = engine.snippetsFor(Seq("the"), Array.empty[Long])
    assert(e1.isEmpty && e2.isEmpty)
    assert(e1.columns.toSeq == Seq("doc_id", "first_pos", "snippet"))
  }

  // ------------------------------------------------------- prefix suggest

  test("suggest: (df desc, term asc) selection, prefix-scoped, limit-bounded") {
    import spark.implicits._
    val ts0 = new java.sql.Timestamp(0L)
    val turns = Seq(
      Turn("c1", 0, "user", "apple apricot banana", "", ts0),
      Turn("c2", 0, "user", "apple banana cherry", "", ts0),
      Turn("c3", 0, "user", "apple axe axe", "", ts0)) // axe: df 1, cf 2
    val dir = tmpDir("graft-suggest")
    new IndexBuilder(spark, Map.empty, IndexConf(numParts = 2))
      .build(spark.createDataset(turns), dir)
    val eng = new QueryEngine(spark, dir, Map.empty)
    def got(prefix: String, n: Int): Seq[(String, Long)] =
      eng.suggest(prefix, n).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got("ap", 5) == Seq(("apple", 3L), ("apricot", 1L)))
    // df ties (apricot/axe/cherry all df=1) break by term asc
    assert(got("a", 3) == Seq(("apple", 3L), ("apricot", 1L), ("axe", 1L)))
    assert(got("b", 5) == Seq(("banana", 2L)))
    assert(got("zz", 5).isEmpty)
  }

  // --------------------------------------------- multi-generation serving

  test("two-generation root: suggest / filtered / snippets parity with the single index") {
    import graft.index.{Generations, MultiGenEngine}
    val dir = tmpDir("graft-serving-twogen")
    val turns = Transcripts.generate(spark, 77L)
    val conf = IndexConf(numParts = 4)
    // contiguous conv-order halves -> internal doc_ids align with the
    // single build (the q46 two-generation contract)
    Generations.append(spark, turns.filter(_.conv_id < "conv-00000040"),
      dir, Map.empty, conf)
    Generations.append(spark, turns.filter(_.conv_id >= "conv-00000040"),
      dir, Map.empty, conf)
    val multi = new MultiGenEngine(spark, dir, Map.empty)
    assert(multi.engines.size == 2)

    // suggest: per-generation dfs must SUM to the single dictionary's df
    def asSeq(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(asSeq(multi.suggest("t", 10)) == asSeq(engine.suggest("t", 10)))

    // filtered scores: bit-identical on BOTH selectivity routes
    val terms = Seq("the", Transcripts.contentWords(5))
    val pred = col("doc_len") % 3 === 0
    val single = scoreMap(engine.bm25ScoresFiltered(terms, pred))
    assert(single.nonEmpty)
    assert(scoreMap(multi.bm25ScoresFiltered(terms, pred)) == single)
    // the candidate and semi-join routes, driver-local gate shut
    val dist = new MultiGenEngine(spark, dir, Map.empty, EngineConfig(localMaxPostings = 0L))
    assert(scoreMap(dist.bm25ScoresFiltered(terms, pred)) == single)
    assert(scoreMap(
      dist.bm25ScoresFiltered(terms, pred, candidateCap = 0)) == single)

    // snippets for ids spanning both generations
    val sortedIds = single.keys.toSeq.sorted
    val ids = (sortedIds.take(3) ++ sortedIds.takeRight(3)).distinct.toArray
    def snaps(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(snaps(multi.snippetsFor(terms, ids)) ==
      snaps(engine.snippetsFor(terms, ids)))
  }

  test("suggest pushes a StartsWith filter into the dictionary scan (no postings IO)") {
    val plan = engine.suggest("th", 5).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("StringStartsWith(term"),
      s"no prefix pushdown in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"no bounded heap in:\n$plan")
    assert(!plan.contains("pos_blob") && !plan.contains("doc_gaps"),
      "suggest must not touch postings columns")
  }
}
