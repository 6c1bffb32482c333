package graft.index

import org.apache.spark.sql.functions.col

import graft.SparkSpecBase
import graft.core.Tokenizer
import graft.corpus.Transcripts
import graft.oracle.Oracle
import graft.query.{EngineConfig, QueryEngine}

/** The multi-generation postings read (one multi-path scan, generation
  * recovered from the file path) against the scalar oracle and against
  * one index over the same corpus. Contract: bit-identical results on
  * every serving surface, on the driver-local, exact AND block-max-pruned
  * paths, with tombstones (the single index carries the same tombstone
  * batch), and on a MERGED root whose generation doc ranges are
  * non-contiguous (the case that rules out interval-mapping), where the
  * same corpus compacted into one root is the reference.
  */
class FusedReadSpec extends SparkSpecBase {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
  private lazy val allTurns = Transcripts.generateLocal(40L)
  private lazy val oracle = new Oracle(allTurns, lemmas)
  private lazy val victims: Seq[Long] = oracle.bm25TopK("the of", 5).map(_._1).take(2)

  private lazy val root: String = {
    val dir = tmpDir("graft-fused")
    import spark.implicits._
    val (b1, rest) = allTurns.splitAt(allTurns.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    Generations.deleteDocs(spark, spark.createDataset(victims), dir)
    dir
  }

  /** The same corpus as ONE built index, carrying the same tombstones. */
  private lazy val singleRoot: String = {
    val dir = tmpDir("graft-fused-single")
    import spark.implicits._
    new IndexBuilder(spark, lemmas, conf).build(spark.createDataset(allTurns), dir)
    Generations.deleteDocs(spark, spark.createDataset(victims), dir)
    dir
  }

  /** An engine over `r`; `local = false` shuts the driver-local gate,
    * `pruned` forces the block-max path and theta refinement.
    */
  private def engine(r: String, local: Boolean, pruned: Boolean = false): QueryEngine =
    new QueryEngine(spark, r, lemmas).withConfig { c =>
      val gated = if (local) c else c.copy(localMaxPostings = 0L)
      if (pruned) gated.copy(wandMinPostings = 0L, refineMinCandidates = 0L) else gated
    }

  private val snippetTerms = Seq("the", "of", "table")

  private def snap(m: QueryEngine): Map[String, Seq[Any]] =
    Map(
      "bm25" -> m.bm25TopK("the of table", 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "handle" -> m.handleQuery("table scan", 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq,
      "filtered" -> m.bm25TopKFiltered("the of", 10, col("doc_len") % 2 === 0)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
      "conj" -> m.conjunctive(Seq("the", "of"))
        .collect().map(_.getLong(0)).toSeq.sorted,
      "phrase" -> m.phraseMatch(Seq("the", "of"))
        .collect().map(_.getLong(0)).toSeq.sorted,
      "phrase1" -> m.phraseMatch(Seq(Transcripts.contentWords(5)))
        .collect().map(_.getLong(0)).toSeq.sorted,
      "conjMissing" -> m.conjunctive(Seq("the", "zzzznotaterm"))
        .collect().map(_.getLong(0)).toSeq.sorted,
      "prox" -> m.proximity("the", "of", 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
        .toSeq.sorted,
      "snippets" -> {
        val ids = m.bm25TopK("the of table", 5).collect().map(_.getLong(0))
        m.snippetsFor(snippetTerms, ids)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
          .toSeq.sortBy(_._1)
      },
      "search" -> m.searchWithSnippets("the of table", 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)

  private def terms(q: String): Seq[String] =
    Tokenizer.tokenizeQuery(q, lemmas).unigrams.map(_.term).distinct

  /** The scalar oracle's answer to every [[snap]] surface over the docs
    * not in `dead` (full-corpus statistics: the liveDocs contract).
    */
  private def oracleSnap(dead: Set[Long]): Map[String, Seq[Any]] = {
    def top(q: String, k: Int, keep: Long => Boolean = _ => true): Seq[(Long, Double)] =
      oracle.bm25TopKForTerms(terms(q), Int.MaxValue)
        .filter { case (d, _) => !dead(d) && keep(d) }.take(k)
    def live(ids: Set[Long]): Seq[Long] = ids.filterNot(dead).toSeq.sorted
    def snippet(d: Long): Option[(Long, Int, String)] =
      snippetTerms.flatMap(t => oracle.postings.get(t).flatMap(_.find(_._1 == d)))
        .map(_._3.head).reduceOption(_ min _).map { p =>
          val words = oracle.docsSorted((d - 1).toInt).text.split(" ", -1)
          (d, p, words.slice(math.max(p - 3, 0), p + 4).mkString(" "))
        }
    Map(
      "bm25" -> top("the of table", 10),
      "handle" -> oracle.handleQuery("table scan", Int.MaxValue)
        .filterNot(r => dead(r._1)).take(10),
      "filtered" -> top("the of", 10, d => oracle.docLen(d) % 2 == 0),
      "conj" -> live(oracle.conjunctive(Seq("the", "of"))),
      "phrase" -> live(oracle.phraseMatch(Seq("the", "of"))),
      "phrase1" -> live(oracle.phraseMatch(Seq(Transcripts.contentWords(5)))),
      "conjMissing" -> Nil,
      "prox" -> oracle.proximity("the", "of", 3).filterNot(r => dead(r._1)).sorted,
      "snippets" -> top("the of table", 5).flatMap(r => snippet(r._1)).sortBy(_._1),
      "search" -> top("the of table", 5))
  }

  private def assertSnap(got: Map[String, Seq[Any]], want: Map[String, Seq[Any]],
      label: String): Unit =
    want.keys.foreach(k => assert(got(k) == want(k),
      s"$label: '$k' diverged\n got=${got(k)}\nwant=${want(k)}"))

  test("genSegOf: per-range layout, URI schemes, degenerate paths") {
    assert(Generations.genSegOf(
      "/tmp/r/gen-00003/postings/range-000/part-0.parquet") == "gen-00003")
    assert(Generations.genSegOf(
      "file:/tmp/r/gen-00000/postings/part-0.parquet") == "gen-00000")
    assert(Generations.genSegOf("/no/postings-free/path.parquet") == "")
  }

  test("3 generations == oracle == one index, on local, exact, pruned, tiered and filtered paths (with tombstones)") {
    val want = oracleSnap(victims.toSet)
    assert(want("bm25").nonEmpty && want("snippets").nonEmpty && want("prox").nonEmpty,
      "fixture: empty surfaces make a weak test")
    for (local <- Seq(true, false); pruned <- Seq(false, true)) {
      val label = s"local=$local pruned=$pruned"
      val got = snap(engine(root, local, pruned))
      assertSnap(got, want, s"3-gen vs oracle, $label")
      assertSnap(snap(engine(singleRoot, local, pruned)), got, s"one index vs 3-gen, $label")
    }
    // the forced form really is the block-max (candidate-pruned) read
    val m = engine(root, local = false, pruned = true)
    m.bm25TopK("the of table", 10).collect()
    assert(m.lastWandPath == "pruned", s"expected pruned, got ${m.lastWandPath}")
  }

  test("positional plans: forced candidate-pruned and forced shuffle both match the oracle") {
    // The inputs pick the plan: a phrase whose rarest term has df d takes
    // the candidate-pruned plan when d × PositionalPruneDensity < n_docs;
    // a stopword anchor ("the of"), or phraseMaxCandidates = 0, takes
    // the shuffle-join plan.
    def prunes(ts: Seq[String]): Boolean =
      ts.map(oracle.df).min * QueryEngine.PositionalPruneDensity < oracle.nDocs
    def want(ts: Seq[String]): Seq[Long] = (oracle.phraseMatch(ts) -- victims).toSeq.sorted
    // "the" then a rare term at the next position, matching a live doc
    val rareSeq = allTurns.iterator.flatMap(t =>
      Tokenizer.tokenize(t.text, lemmas).sliding(2).collect {
        case Seq(a, b) if a.term == "the" && b.position == a.position + 1 => Seq(a.term, b.term)
      }).find(ts => prunes(ts) && want(ts).nonEmpty)
    assert(rareSeq.isDefined, "fixture: no live 'the <rare>' phrase takes the pruned plan")
    val stopSeq = Seq("the", "of")
    assert(!prunes(stopSeq) && want(stopSeq).nonEmpty, "fixture: 'the of' must take the shuffle plan")
    for (ts <- Seq(rareSeq.get, stopSeq); shuffle <- Seq(false, true); r <- Seq(root, singleRoot)) {
      val m = engine(r, local = false)
        .withConfig(c => if (shuffle) c.copy(phraseMaxCandidates = 0L) else c)
      assert(m.phraseMatch(ts).collect().map(_.getLong(0)).toSeq.sorted == want(ts),
        s"$ts (pruned plan: ${prunes(ts) && !shuffle}) diverged on $r")
    }
  }

  test("pruned-path job count is FLAT in generation count") {
    // Spark JOB count is the deterministic, noise-free proxy for the
    // per-query fixed cost the multi-path read removes: one
    // chunk-metadata pre-pass for all generations, not one per
    // generation — so jobs must not grow with generation count, and a
    // generation set costs what one index does.
    import spark.implicits._
    val oneDir = tmpDir("graft-fused-onegen")
    Generations.append(spark, spark.createDataset(allTurns), oneDir, lemmas, conf)
    // force the candidate-pruned path
    val forced: EngineConfig => EngineConfig = _.copy(wandMinPostings = 0L)
    val one = engine(oneDir, local = false).withConfig(forced)
    val three = engine(root, local = false).withConfig(forced) // 3 generations + tombstones
    val single = engine(singleRoot, local = false).withConfig(forced)
    val q = "the of table"
    Seq(one, three, single).foreach { m =>
      m.warmDictionariesLocal()
      m.bm25TopK(q, 10).collect() // warm: plans, liveDocs, file listings
      assert(m.lastWandPath == "pruned")
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    def jobsOf(body: => Unit): Int = {
      Thread.sleep(300); jobs.set(0); body; Thread.sleep(300); jobs.get()
    }
    try {
      val j1 = jobsOf(one.bm25TopK(q, 10).collect())
      val j3 = jobsOf(three.bm25TopK(q, 10).collect())
      val jSingle = jobsOf(single.bm25TopK(q, 10).collect())
      assert(j3 == j1, s"jobs grew with generations: 1 gen=$j1, 3 gens=$j3")
      assert(j3 == jSingle, s"3 generations=$j3 jobs vs one index=$jSingle")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("candidate read under shuffled joins still recovers generations") {
    // The candidate read scans every chunk of the terms, skips those
    // whose doc range holds no candidate and filters per posting.
    // autoBroadcastJoinThreshold = -1 makes every un-hinted join SHUFFLE
    // (explicit broadcast() hints are unaffected). Generation recovery
    // must survive: the reader of each chunk comes from its file path,
    // which input_file_name() returns only in the scan stage.
    val m = engine(root, local = false, pruned = true)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val f = Seq(
        m.bm25TopK("the of table", 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
        m.bm25TopKFiltered("the of", 10, col("doc_len") % 2 === 0)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      assert(m.lastWandPath == "pruned", s"expected pruned, got ${m.lastWandPath}")
      val want = oracleSnap(victims.toSet)
      assert(f == Seq(want("bm25"), want("filtered")))
      assert(f.head.nonEmpty, "empty top-k — weak test")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("merged root (non-contiguous generation ranges) == compacted root == oracle") {
    // fresh root so the sibling tests' root is undisturbed
    val dir = tmpDir("graft-fused-merged")
    import spark.implicits._
    val thirds = allTurns.grouped(math.max(1, allTurns.size / 3 + 1)).toSeq
    thirds.foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    // merge FIRST and LAST -> the merged generation's doc ranges are
    // non-contiguous and sort AFTER the untouched middle generation
    val gens = Generations.genDirs(dir)
    Compactor.mergeGenerations(spark, dir, Seq(gens.head, gens.last),
      lemmas, conf)
    assert(new QueryEngine(spark, dir, lemmas).gens.size == 2)
    val out = tmpDir("graft-fused-merged-compact")
    Compactor.compact(spark, dir, out, lemmas, conf)
    val want = oracleSnap(Set.empty)
    for (local <- Seq(true, false); pruned <- Seq(false, true)) {
      val label = s"local=$local pruned=$pruned"
      val got = snap(engine(dir, local, pruned))
      assertSnap(got, want, s"merged vs oracle, $label")
      assertSnap(snap(engine(out, local, pruned)), got, s"compacted vs merged, $label")
    }
  }
}
