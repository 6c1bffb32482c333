package graft.query

import org.apache.spark.sql.functions.col

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.index.{Compactor, Generations, IndexBuilder, IndexConf}

/** Spark jobs per warm query on the catalog-scale serving paths — the
  * plans above the driver-local gate (`localMaxPostings = 0`) with
  * block-max pruning forced (`wandMinPostings = 0`), which the benchmark
  * corpus is too small to reach. Job count is the deterministic,
  * noise-free proxy for per-query fixed cost: each job pays scheduler
  * and task-launch latency regardless of data size. Each budget is the
  * count the query takes with candidate reads that skip chunks by doc
  * range inside the read task, for a single index and for a
  * 3-generation root with tombstones alike; the comment beside it gives
  * the count when a driver pre-pass first collected the surviving chunk
  * keys. The index carries no bigrams, so handleQuery's overlapped
  * bigram probe (a job on another thread) never runs and the count
  * stays exact.
  *
  * The index writes have budgets too: a build (one slice and two resume
  * slices), an upsert, a delete and a two-generation merge over the same
  * corpus. Each budget is the count the write takes with row counts and
  * meta statistics observed by the writes themselves and generation
  * docs tables opened with the builder's schema; the comment beside it
  * gives the count when every stage re-read its output to count it.
  *
  * Opening an engine has budgets as well: every index table opens with
  * the schema its writer produced, and the warm-up collects the
  * tombstones, so an open plus `warmDictionaryLocal` runs one job per
  * dictionary (plus one for the tombstones) and the first query runs
  * only its own. With every table's schema inferred from its files and
  * the tombstones collected by the first query, the same opens took 4
  * jobs (single index) and 13 (3 generations with tombstones), the
  * first bm25TopK 3 and planning the first fuzzyTerms 1.
  */
class JobCountSpec extends SparkSpecBase with JobCounting {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
  private lazy val allTurns = Transcripts.generateLocal(40L)
  private val q = "the of table"
  private val pred = col("role") === "user"

  private lazy val singleRoot: String = {
    import spark.implicits._
    val dir = tmpDir("graft-jobs-single")
    new IndexBuilder(spark, lemmas, conf).build(spark.createDataset(allTurns), dir)
    dir
  }

  private lazy val genRoot: String = {
    import spark.implicits._
    val dir = tmpDir("graft-jobs-gens")
    val (b1, rest) = allTurns.splitAt(allTurns.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    Generations.deleteDocs(spark, spark.createDataset(Seq(3L, 200L, 500L)), dir)
    dir
  }

  /** kind -> (the warm call, its job budget). */
  private def kinds(e: QueryEngine): Seq[(String, () => Unit, Int)] = {
    val terms = e.queryTerms(q)
    Seq(
      ("bm25TopK pruned", () => { e.bm25TopK(q, 10).collect(); () }, 5), // pre-pass: 6
      ("bm25ScoresFiltered selective",
        () => { e.bm25ScoresFiltered(terms, pred, candidateCap = 2000000).collect(); () },
        4), // pre-pass: 5
      ("bm25ScoresFiltered broad",
        () => { e.bm25ScoresFiltered(terms, pred, candidateCap = 1).collect(); () }, 4),
      ("searchWithSnippets", () => { e.searchWithSnippets(q, 10).collect(); () },
        11), // pre-pass: 13
      ("handleQuery", () => { e.handleQuery(q, 10).collect(); () }, 8)) // pre-pass: 9
  }

  for ((label, root) <- Seq(("single index", () => singleRoot),
      ("3 generations with tombstones", () => genRoot)))
    test(s"job budgets above the driver-local gate: $label") {
      val e = new QueryEngine(spark, root(), lemmas,
        EngineConfig(localMaxPostings = 0L, wandMinPostings = 0L))
      e.warmDictionaryLocal()
      kinds(e).foreach { case (kind, run, budget) =>
        run() // first call resolves lazy state (file listings, codegen, liveDocs)
        val n = jobsOf(run())
        info(s"$kind: $n jobs (budget $budget)")
        assert(n <= budget, s"$kind ran $n jobs, budget $budget")
      }
      e.bm25TopK(q, 10).collect()
      assert(e.lastWandPath == "pruned", s"expected the pruned path, got ${e.lastWandPath}")
      e.handleQuery(q, 10).collect()
      assert(e.lastHandlePath == "pruned", s"expected the pruned tiers, got ${e.lastHandlePath}")
    }

  test("job budgets of an engine open, its warm-up and its first queries") {
    def opened(root: String): (QueryEngine, Int) = {
      var e: QueryEngine = null
      val n = jobsOf { e = new QueryEngine(spark, root, lemmas); e.warmDictionaryLocal() }
      (e, n)
    }
    val (_, single) = opened(singleRoot)
    info(s"single index, open + warm: $single jobs (budget 1)")
    assert(single <= 1, s"single-index open + warm ran $single jobs, budget 1")
    val (e, gens) = opened(genRoot)
    info(s"3 generations with tombstones, open + warm: $gens jobs (budget 4)")
    assert(gens <= 4, s"3-generation open + warm ran $gens jobs, budget 4")
    val first = jobsOf(e.bm25TopK(q, 10).collect())
    assert(e.lastWandPath == "local", s"expected the driver-local path, got ${e.lastWandPath}")
    val warm = jobsOf(e.bm25TopK(q, 10).collect())
    info(s"first bm25TopK after the warm-up: $first jobs; warm: $warm (budget 1)")
    assert(warm <= 1, s"warm bm25TopK ran $warm jobs, budget 1")
    assert(first == warm, s"first bm25TopK ran $first jobs, a warm one $warm")
    // the variant table opens with its schema: no footer-inference job
    val f = new QueryEngine(spark, singleRoot, lemmas)
    val plan = jobsOf(f.fuzzyTerms("tabel", 1))
    info(s"first fuzzyTerms on a fresh engine, planning: $plan jobs (budget 0)")
    assert(plan == 0, s"planning the first fuzzyTerms ran $plan jobs")
  }

  /** One write, measured from a cold start of its own Spark jobs. */
  private def writeJobs(label: String, budget: Int)(write: => Unit): Unit = {
    val n = jobsOf(write)
    info(s"$label: $n jobs (budget $budget)")
    assert(n <= budget, s"$label ran $n jobs, budget $budget")
  }

  for ((slices, budget) <- Seq((1, 27), (2, 29))) // re-reading: 53 and 58
    test(s"job budget of IndexBuilder.build, resumeSlices = $slices") {
      import spark.implicits._
      val ds = spark.createDataset(allTurns)
      val c = conf.copy(resumeSlices = slices)
      writeJobs(s"build, $slices slice(s)", budget) {
        new IndexBuilder(spark, lemmas, c).build(ds, tmpDir("graft-jobs-build"))
      }
    }

  test("job budgets of Generations.upsert, deleteDocs and Compactor.mergeSmallest") {
    import spark.implicits._
    val root = tmpDir("graft-jobs-writes")
    val (base, fresh) = allTurns.splitAt(allTurns.size / 2)
    Generations.append(spark, spark.createDataset(base), root, lemmas, conf)
    // new conversations plus corrected turns of live ones
    val corrected = base.take(30).map(t => t.copy(text = t.text + " corrected"))
    writeJobs("upsert", 33) { // re-reading: 63; inferring the docs schema: 34
      Generations.upsert(spark, spark.createDataset(fresh ++ corrected), root, lemmas, conf)
    }
    writeJobs("deleteDocs", 2) { // re-reading: 5
      Generations.deleteDocs(spark, spark.createDataset(Seq(5L, 50L, 500L)), root)
    }
    writeJobs("mergeSmallest", 19) { // re-reading: 49; inferring the docs schema: 21
      Compactor.mergeSmallest(spark, root, 2, lemmas, conf)
    }
  }
}
