package graft.query

import org.apache.spark.sql.functions.col

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.index.{Compactor, Generations, IndexBuilder, IndexConf, IndexPaths}

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
  * slices), an upsert, a delete, a two-generation merge and a compaction
  * over the same corpus. Each budget is the count the write takes with
  * row counts and meta statistics observed by the writes themselves and
  * generation docs tables opened with the builder's schema; the comment
  * beside it gives the count when every stage re-read its output to
  * count it (for the compaction: when it did not persist its segments).
  *
  * Opening an engine has budgets as well: every index table opens with
  * the schema its writer produced, and the warm-up collects the
  * tombstones, so an open plus `warmDictionaryLocal` runs one job per
  * dictionary (plus one for the tombstones) and the first query runs
  * only its own. With every table's schema inferred from its files and
  * the tombstones collected by the first query, the same opens took 4
  * jobs (single index) and 13 (3 generations with tombstones), the
  * first bm25TopK 3 and planning the first fuzzyTerms 1.
  *
  * Under the resident budget the first driver-local call loads every
  * generation's chunk rows in one job, and the first call that needs
  * text loads every generation's docs rows in one more. Later
  * driver-local calls run no job: 0 for bm25TopK, handleQuery,
  * phraseMatch, snippets and filtered search. With the dictionary
  * installed on the driver, fuzzyTerms runs none either. With the
  * budget shut, each call collects its own chunk rows (every
  * driver-local bm25TopK ran 1 job, the first too) and snippets and
  * filtered search one more job each for the text. Without the driver
  * dictionary a warm fuzzyTerms probes the variant table in Spark jobs
  * (1 on the single index here).
  */
class JobCountSpec extends SparkSpecBase with JobCounting {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
  private lazy val allTurns = Transcripts.generateLocal(40L)
  private val q = "the of table"
  private val pred = col("role") === "user"
  // two consecutive tokens of a live doc: a phrase that matches
  private lazy val phrase: Seq[String] =
    graft.core.Tokenizer.tokenize(allTurns(10).text, lemmas).take(2).map(_.term)
  // three distinct terms of a live doc: a conjunction that matches
  private lazy val conjTerms: Seq[String] =
    graft.core.Tokenizer.tokenize(allTurns(10).text, lemmas).map(_.term).distinct.take(3)

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

  /** The single-index-only calls -> (the warm call, its job budget).
    * Each budget is the count the call took when the reader kept a
    * decode of its own: tf-idf and vsm folded its (term_id, doc_id, tf,
    * dl) rows in a fold of their own, and the semi-join chain read each
    * term's doc ids from those rows; the comment beside it repeats that
    * count.
    */
  private def singleKinds(e: QueryEngine): Seq[(String, () => Unit, Int)] = {
    val terms = e.queryTerms(q)
    Seq(
      ("tfIdfScores", () => { e.tfIdfScores(terms).collect(); () }, 2), // own decode: 2
      ("vsmScores", () => { e.vsmScores(terms).collect(); () }, 3), // own decode: 3
      ("conjunctiveSemi", () => { e.conjunctiveSemi(conjTerms).collect(); () },
        4)) // own decode: 4
  }

  for ((label, root, single) <- Seq(("single index", () => singleRoot, true),
      ("3 generations with tombstones", () => genRoot, false)))
    test(s"job budgets above the driver-local gate: $label") {
      val e = new QueryEngine(spark, root(), lemmas,
        EngineConfig(localMaxPostings = 0L, wandMinPostings = 0L))
      e.warmDictionaryLocal()
      (kinds(e) ++ (if (single) singleKinds(e) else Nil)).foreach { case (kind, run, budget) =>
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
    def opened(root: String, budget: Option[Long] = None): (QueryEngine, Int) = {
      var e: QueryEngine = null
      val n = jobsOf {
        val o = new QueryEngine(spark, root, lemmas)
        e = budget.fold(o)(o.withResidentBudget)
        e.warmDictionaryLocal()
      }
      (e, n)
    }
    val (_, single) = opened(singleRoot)
    info(s"single index, open + warm: $single jobs (budget 1)")
    assert(single <= 1, s"single-index open + warm ran $single jobs, budget 1")
    val (e, gens) = opened(genRoot)
    info(s"3 generations with tombstones, open + warm: $gens jobs (budget 4)")
    assert(gens <= 4, s"3-generation open + warm ran $gens jobs, budget 4")
    // resident postings: the first gated call loads every generation's
    // chunk rows in one job, and later driver-local calls run none
    val (first, loads) =
      describedJobsOf(QueryEngine.ResidentLoadDescription)(e.bm25TopK(q, 10).collect())
    assert(e.lastWandPath == "local", s"expected the driver-local path, got ${e.lastWandPath}")
    info(s"first bm25TopK after the warm-up (loads the resident postings): $first jobs")
    assert(first == 1 && loads == 1,
      s"first bm25TopK ran $first jobs ($loads loads), expected the one load job")
    // the first call that needs text loads every generation's docs rows
    val (firstText, docLoads) = describedJobsOf(QueryEngine.ResidentDocsLoadDescription)(
      e.searchWithSnippets(q, 10).collect())
    info(s"first searchWithSnippets (loads the resident docs): $firstText jobs")
    assert(firstText == 1 && docLoads == 1,
      s"first searchWithSnippets ran $firstText jobs ($docLoads loads), expected the one load job")
    residentKinds(e).foreach { case (kind, run, budget) =>
      run()
      val n = jobsOf(run())
      info(s"warm $kind on resident postings: $n jobs (budget $budget)")
      assert(n == budget, s"warm $kind ran $n jobs, expected $budget")
    }
    // the budget shut: each driver-local call collects its chunk rows
    val (s, _) = opened(genRoot, Some(0L))
    val sFirst = jobsOf(s.bm25TopK(q, 10).collect())
    assert(s.lastWandPath == "local", s"expected the driver-local path, got ${s.lastWandPath}")
    val sWarm = jobsOf(s.bm25TopK(q, 10).collect())
    info(s"resident budget shut: first bm25TopK $sFirst jobs; warm: $sWarm (budget 1)")
    assert(sWarm <= 1, s"warm bm25TopK ran $sWarm jobs, budget 1")
    assert(sFirst == sWarm, s"first bm25TopK ran $sFirst jobs, a warm one $sWarm")
    // ... and the text kinds one more each, on the docs parquet
    shutTextKinds(s).foreach { case (kind, run, budget) =>
      run()
      val n = jobsOf(run())
      info(s"resident budget shut: warm $kind $n jobs (budget $budget)")
      assert(n == budget, s"warm $kind with the budget shut ran $n jobs, expected $budget")
    }
    // the variant table opens with its schema: no footer-inference job
    val f = new QueryEngine(spark, singleRoot, lemmas)
    val plan = jobsOf(f.fuzzyTerms("tabel", 1))
    info(s"first fuzzyTerms on a fresh engine, planning: $plan jobs (budget 0)")
    assert(plan == 0, s"planning the first fuzzyTerms ran $plan jobs")
    f.fuzzyTerms("tabel", 1).collect()
    val spark2 = jobsOf(f.fuzzyTerms("tabel", 1).collect())
    info(s"warm fuzzyTerms over the variant table (no driver dictionary): $spark2 jobs (budget 2)")
    assert(spark2 <= 2, s"warm fuzzyTerms over the variant table ran $spark2 jobs")
  }

  /** kind -> (a text kind with the resident budget shut, its jobs: the
    * chunk-row collect and the docs parquet lookup).
    */
  private def shutTextKinds(e: QueryEngine): Seq[(String, () => Unit, Int)] = Seq(
    ("searchWithSnippets", () => { e.searchWithSnippets(q, 10).collect(); () }, 2),
    ("bm25TopKFiltered", () => { e.bm25TopKFiltered(q, 10, pred).collect(); () }, 2))

  /** kind -> (a driver-local call, its jobs on resident postings and
    * docs with the dictionary on the driver).
    */
  private def residentKinds(e: QueryEngine): Seq[(String, () => Unit, Int)] = Seq(
    ("bm25TopK", () => { e.bm25TopK(q, 10).collect(); () }, 0),
    ("handleQuery", () => { e.handleQuery(q, 10).collect(); () }, 0),
    ("phraseMatch", () => { e.phraseMatch(phrase).collect(); () }, 0),
    ("searchWithSnippets", () => { e.searchWithSnippets(q, 10).collect(); () }, 0),
    ("bm25TopKFiltered", () => { e.bm25TopKFiltered(q, 10, pred).collect(); () }, 0),
    ("fuzzyTerms", () => { e.fuzzyTerms("tabel", 1).collect(); () }, 0))

  private def answers(e: QueryEngine): (Seq[(Long, Double)], Seq[String], Seq[Long]) =
    (e.bm25TopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      e.handleQuery(q, 10).collect().map(_.toString).toSeq,
      e.phraseMatch(phrase).collect().map(_.getLong(0)).sorted.toSeq)

  test("resident postings gate on the generations' recorded bytes summed") {
    val recorded = Generations.servingDirs(genRoot)
      .map(g => IndexBuilder.manifestBytes(IndexPaths(g).postings).get)
    assert(recorded.size == 3)
    val e = new QueryEngine(spark, genRoot, lemmas)
    e.warmDictionaryLocal()
    // every generation fits alone; only the sum is over the budget
    val above = e.withResidentBudget(recorded.sum - 1)
    assert(recorded.max <= recorded.sum - 1)
    above.bm25TopK(q, 10).collect()
    Seq(("bm25TopK", () => { above.bm25TopK(q, 10).collect(); () }),
      ("handleQuery", () => { above.handleQuery(q, 10).collect(); () }),
      ("phraseMatch", () => { above.phraseMatch(phrase).collect(); () }))
      .foreach { case (kind, run) =>
        val n = jobsOf(run())
        info(s"$kind one byte above the resident budget: $n jobs (the per-call collect)")
        assert(n == 1, s"$kind above the resident budget ran $n jobs")
      }
    assert(above.lastWandPath == "local")
    assert(above.residentBytes == 0)
    val at = e.withResidentBudget(recorded.sum)
    assert(jobsOf(at.bm25TopK(q, 10).collect()) == 1, "at the budget: the load job")
    info(s"recorded postings bytes ${recorded.sum}, held on the driver ${at.residentBytes}")
    assert(at.residentBytes > 0)
    assert(jobsOf(at.handleQuery(q, 10).collect()) == 0)
    assert(answers(at) == answers(above))
    assert(answers(at)._3.nonEmpty, s"the phrase $phrase matched nothing")
  }

  test("concurrent first calls share one load; a failed load is retried") {
    val e = new QueryEngine(spark, genRoot, lemmas)
    e.warmDictionaryLocal()
    val sibling = e.withConfig(_.copy(localMaxPostings = 30000L))
    val tops = new Array[Seq[(Long, Double)]](2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val (n, loads) = describedJobsOf(QueryEngine.ResidentLoadDescription) {
      // the threads inherit the job group, so the count covers both
      val go = new java.util.concurrent.CountDownLatch(1)
      val threads = Seq(e, sibling).zipWithIndex.map { case (eng, i) =>
        new Thread(() =>
          try {
            go.await()
            tops(i) = eng.bm25TopK(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          } catch { case t: Throwable => errors.add(t) })
      }
      threads.foreach(_.start())
      go.countDown()
      threads.foreach(_.join())
    }
    assert(errors.isEmpty, s"a concurrent first call failed: ${errors.peek()}")
    // a call that finds the load under way collects its own rows
    info(s"two concurrent first calls: $n jobs, $loads of them the load")
    assert(loads == 1, s"two concurrent first calls ran $loads loads, expected one")
    assert(n <= 2, s"two concurrent first calls ran $n jobs, expected a load and at most a collect")
    assert(tops(0) == tops(1))
    val shut = new QueryEngine(spark, genRoot, lemmas).withResidentBudget(0L)
    shut.warmDictionaryLocal()
    assert(answers(e) == answers(shut))

    // a load whose scan fails holds nothing; the next call loads again
    val fresh = new QueryEngine(spark, genRoot, lemmas)
    fresh.warmDictionaryLocal()
    fresh.postings // list the files before one goes missing
    val part = java.nio.file.Files.walk(java.nio.file.Paths.get(genRoot))
      .filter(p => p.toString.contains("/postings/") && p.toString.endsWith(".parquet"))
      .findFirst().get()
    val aside = java.nio.file.Paths.get(s"${tmpDir("graft-jobs-aside")}/part.parquet")
    java.nio.file.Files.move(part, aside)
    try intercept[Exception](fresh.bm25TopK(q, 10).collect())
    finally java.nio.file.Files.move(aside, part)
    assert(jobsOf(fresh.bm25TopK(q, 10).collect()) == 1, "the retried load")
    assert(jobsOf(fresh.bm25TopK(q, 10).collect()) == 0)
    assert(answers(fresh) == answers(shut))
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
    // a compaction is a merge that purges: it persists its segments, so
    // a re-run into the same outDir resumes past every stage
    val out = tmpDir("graft-jobs-compact")
    writeJobs("compact", 23) { // segments not persisted: 22
      Compactor.compact(spark, root, out, lemmas, conf)
    }
    writeJobs("compact, re-run", 0) {
      Compactor.compact(spark, root, out, lemmas, conf)
    }
    val segments = IndexPaths(out).segments
    assert(graft.index.Fs.readString(s"$segments/_manifest.json")
      .contains("\"status\":\"complete\""))
    // the segments resume under the fingerprint the compaction's meta
    // records, and their manifest matches the files on disk
    val fp = "\"fingerprint\":\"([^\"]+)\"".r
      .findFirstMatchIn(graft.index.Fs.readString(IndexPaths(out).meta)).get.group(1)
    assert(IndexBuilder.manifestComplete(segments, fp))
  }
}
