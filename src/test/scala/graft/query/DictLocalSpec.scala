package graft.query

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.index.{Generations, IndexBuilder, IndexConf, MultiGenEngine}

/** warmDictionaryLocal: the driver-hash-map dictionary serving mode.
  * The contract under test: installing it changes NOTHING about any
  * query result (bit-identical rows on every path that goes through
  * lookupTerms), the n_terms cap gate falls back to distributed probes,
  * and the logical probe budget is counted identically on both paths.
  */
class DictLocalSpec extends SparkSpecBase {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4)
  private lazy val allTurns = Transcripts.generateLocal(35L)

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-dictlocal")
    import spark.implicits._
    new IndexBuilder(spark, lemmas, conf)
      .build(spark.createDataset(allTurns), dir)
    dir
  }

  private lazy val genRoot: String = {
    val dir = tmpDir("graft-dictlocal-gens")
    import spark.implicits._
    val b1 = allTurns.filter(_.conv_id < "conv-00000018")
    val b2 = allTurns.filterNot(_.conv_id < "conv-00000018")
    Generations.append(spark, spark.createDataset(b1), dir, lemmas, conf)
    Generations.append(spark, spark.createDataset(b2), dir, lemmas, conf)
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private val query = s"the ${Transcripts.contentWords(5)} data"

  test("single engine: local map installs and every query path is bit-identical") {
    val plain = new QueryEngine(spark, indexDir, lemmas)
    val local = new QueryEngine(spark, indexDir, lemmas)
    assert(local.warmDictionaryLocal(), "lexicon under the cap must install")
    assert(local.dictLocalInstalled && !plain.dictLocalInstalled)

    val terms = plain.queryTerms(query)
    assert(local.lookupTerms(terms) == plain.lookupTerms(terms))
    // unknown terms: absent on both paths, not errors
    assert(local.lookupTerms(Seq("zzzznotaterm")) ==
      plain.lookupTerms(Seq("zzzznotaterm")))

    assert(rows(local.bm25TopK(query, 10)) == rows(plain.bm25TopK(query, 10)))
    assert(rows(local.handleQuery(query, 10)) ==
      rows(plain.handleQuery(query, 10)))
  }

  test("n_terms above dictLocalCap: gate refuses, falls back to distributed probes") {
    val plain = new QueryEngine(spark, indexDir, lemmas)
    val capped = new QueryEngine(spark, indexDir, lemmas, EngineConfig(dictLocalCap = 1L))
    assert(!capped.warmDictionaryLocal(), "gate must refuse a 1-row cap")
    assert(!capped.dictLocalInstalled)
    val terms = plain.queryTerms(query)
    assert(capped.lookupTerms(terms) == plain.lookupTerms(terms))
    assert(rows(capped.bm25TopK(query, 10)) == rows(plain.bm25TopK(query, 10)))
  }

  test("logical probe budget counts identically on both paths") {
    val plain = new QueryEngine(spark, indexDir, lemmas)
    val local = new QueryEngine(spark, indexDir, lemmas)
    local.warmDictionaryLocal()
    val terms = plain.queryTerms(query)
    QueryEngine.dictProbes.set(0)
    plain.lookupTerms(terms)
    val distributedProbes = QueryEngine.dictProbes.get()
    QueryEngine.dictProbes.set(0)
    local.lookupTerms(terms)
    assert(QueryEngine.dictProbes.get() == distributedProbes,
      "local path must count the same logical probes the budget tests pin")
  }

  test("multi-gen: warmDictionariesLocal keeps top-k and handleQuery bit-identical") {
    val plain = new MultiGenEngine(spark, genRoot, lemmas)
    val local = new MultiGenEngine(spark, genRoot, lemmas).warmDictionariesLocal()
    assert(local.engines.forall(_.dictLocalInstalled))
    assert(rows(local.bm25TopK(query, 10)) == rows(plain.bm25TopK(query, 10)))
    assert(rows(local.handleQuery(query, 10)) ==
      rows(plain.handleQuery(query, 10)))
    // pruned path too: force block-max engagement on the small corpus
    // (driver-local gate shut on both, so the block-max read runs)
    val forced: EngineConfig => EngineConfig =
      _.copy(wandMinPostings = 0L, localMaxPostings = 0L)
    val (plainP, localP) = (plain.withConfig(forced), local.withConfig(forced))
    assert(rows(localP.bm25TopK(query, 10)) == rows(plainP.bm25TopK(query, 10)))
    assert(localP.lastWandPath == plainP.lastWandPath,
      s"serving mode changed the path: ${localP.lastWandPath} vs ${plainP.lastWandPath}")
  }
}
