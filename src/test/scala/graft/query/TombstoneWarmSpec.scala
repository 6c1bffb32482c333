package graft.query

import graft.corpus.Transcripts
import graft.index.{Generations, IndexConf}
import graft.oracle.Oracle

/** The tombstone set a warm-up collects, on both sides of the bound
  * the batches' recorded sizes give. When Σ n_ids fits
  * [[EngineConfig.liveDocsCap]], the warm-up collects every batch in one
  * scan job and de-duplicates on the driver; above it, the engine
  * decides from the distinct count as before: still local when the
  * distinct ids fit, the anti-join when they do not. Every side must
  * see the same tombstones and answer bit-identically.
  */
class TombstoneWarmSpec extends JobCounting {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
  private lazy val allTurns = Transcripts.generateLocal(30L)
  private lazy val oracle = new Oracle(allTurns, lemmas)
  private val batchA = (1L to 40L).map(_ * 7)
  private val batchB = (20L to 60L).map(_ * 7) // overlaps batchA on 20..40
  private lazy val dead = (batchA ++ batchB).toSet

  private lazy val root: String = {
    import spark.implicits._
    val dir = tmpDir("graft-tombstone-warm")
    val (b1, b2) = allTurns.splitAt(allTurns.size / 2)
    Seq(b1, b2).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    Seq(batchA, batchB).foreach(b => Generations.deleteDocs(spark, spark.createDataset(b), dir))
    dir
  }

  private def tombstones(e: QueryEngine): Option[Seq[Long]] = e.deletedLocal.map(_.value.toSeq)

  test("warm-up collects the tombstones on both sides of the recorded-size bound") {
    val bound = (batchA.size + batchB.size).toLong
    assert(dead.size < bound, "fixture: the batches must overlap")
    val q = "the of table"
    val want = oracle.bm25TopKForTerms(
      new QueryEngine(spark, root, lemmas).queryTerms(q), Int.MaxValue)
      .filterNot { case (d, _) => dead(d) }.take(10)

    // at the bound: one scan job beside the two dictionary collects
    var atBound: QueryEngine = null
    val warmJobs = jobsOf {
      atBound = new QueryEngine(spark, root, lemmas, EngineConfig(liveDocsCap = bound))
      atBound.warmDictionaryLocal()
    }
    assert(warmJobs == 3, s"open + warm ran $warmJobs jobs, expected 2 dictionaries + 1")
    assert(tombstones(atBound).contains(dead.toSeq.sorted))

    // caps below the bound decide from the distinct ids: at the
    // distinct count the same array, one below it the anti-join
    val distinct = atBound.withConfig(_.copy(liveDocsCap = dead.size.toLong))
    val antiJoin = atBound.withConfig(_.copy(liveDocsCap = dead.size - 1L))
    distinct.warmDictionaryLocal()
    antiJoin.warmDictionaryLocal()
    assert(tombstones(distinct) == tombstones(atBound))
    assert(tombstones(antiJoin).isEmpty)

    val answers = Seq(atBound, distinct, antiJoin).map { e =>
      val top = e.bm25TopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      (top, e.lastWandPath, e.handleQuery(q, 10).collect().toSeq)
    }
    assert(answers.map(_._2) == Seq("local", "local", "exact"),
      s"gate decisions: ${answers.map(_._2)}")
    answers.foreach { case (top, _, _) => assert(top == want) }
    assert(answers.map(_._3).distinct.size == 1, "handleQuery answers differ across the bound")
  }
}
