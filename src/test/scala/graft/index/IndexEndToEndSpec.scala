package graft.index

import graft.SparkSpecBase
import graft.core.ChunkCodec
import graft.corpus.Transcripts
import graft.oracle.Oracle
import graft.query.QueryEngine

/** End-to-end golden tests: the distributed index + query engine must be
  * RANK-IDENTICAL (doc_ids AND bit-identical Double scores) to the scalar
  * oracle on a deterministic corpus (BASELINE.md top-k fidelity;
  * SURVEY.md §7.3(2)).
  */
class IndexEndToEndSpec extends SparkSpecBase {

  private val nConvs = 60L // ~1200 turns
  private lazy val lemmas = Transcripts.lemmas
  private lazy val turnsLocal = Transcripts.generateLocal(nConvs)
  private lazy val oracle = new Oracle(turnsLocal, lemmas)

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-index")
    val turns = Transcripts.generate(spark, nConvs)
    // low threshold to force the salted-skew path on stopwords
    val builder = new IndexBuilder(spark, lemmas,
      IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4))
    builder.build(turns, dir)
    dir
  }
  private lazy val engine = new QueryEngine(spark, indexDir, lemmas)

  test("generate == generateLocal (per-turn text equality, stable order)") {
    val dist = Transcripts.generate(spark, 10L).collect()
      .sortBy(t => (t.conv_id, t.turn_idx)).toSeq
    val local = Transcripts.generateLocal(10L)
      .sortBy(t => (t.conv_id, t.turn_idx))
    assert(dist == local)
  }

  test("corpus meta matches oracle (N, avgdl)") {
    assert(engine.meta.n_docs == oracle.nDocs)
    assert(engine.meta.avgdl == oracle.avgdl) // bit-identical
  }

  test("doc ids are dense 1-based in (conv_id, turn_idx) order") {
    val docs = engine.docs.select("doc_id", "conv_id", "turn_idx")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(docs.length == oracle.nDocs)
    assert(docs.map(_._1).sorted.toSeq == (1L to oracle.nDocs).toSeq)
    docs.foreach { case (id, conv, turn) =>
      assert(oracle.docIdOf((conv, turn)) == id, s"doc_id mismatch for ($conv,$turn)")
    }
  }

  test("dictionary: term ids are byte-order ranks; df/cf match oracle") {
    val dict = engine.dictionary.collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("term_id"), r.getAs[Long]("df")))
    assert(dict.length == oracle.termId.size)
    dict.foreach { case (term, id, df) =>
      assert(oracle.termId(term) == id, s"term_id mismatch for '$term'")
      assert(oracle.df(term) == df, s"df mismatch for '$term'")
    }
  }

  test("postings decode back to the oracle's exact posting lists") {
    import spark.implicits._
    val terms = Seq("the", "alba", "cordi") // stopword (salted) + rare
    val entries = engine.lookupTerms(terms.filter(oracle.postings.contains))
    entries.foreach { e =>
      val got = engine.postings.filter($"term_id" === e.term_id)
        .select($"doc_gaps", $"pos_blob", $"n_postings")
        .as[(Array[Byte], Array[Byte], Int)].collect()
        .flatMap { case (gaps, pos, n) =>
          val c = ChunkCodec.decode(gaps, pos, n)
          c.docIds.zip(c.positions.map(_.toVector))
        }.sortBy(_._1).toSeq
      val want = oracle.postings(e.term)
        .map(p => (p._1, p._3)).toSeq
      assert(got == want, s"postings mismatch for '${e.term}'")
    }
  }

  test("salted stopword chunks stay globally doc-ordered and <=128") {
    import spark.implicits._
    val theId = engine.lookupTerms(Seq("the")).head.term_id
    val chunks = engine.postings.filter($"term_id" === theId)
      .select($"chunk_seq", $"min_doc_id", $"max_doc_id", $"n_postings")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._1)
    assert(chunks.length > 1, "stopword should span multiple chunks")
    assert(chunks.forall(_._4 <= 128))
    chunks.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 < b._2, s"chunk doc ranges overlap: $a vs $b")
    }
    // chunk_seq = min_doc_id: strictly increasing
    assert(chunks.map(_._1).toSeq == chunks.map(_._2).toSeq.sorted)
    // multiple salt buckets actually used for the stopword (skew path)
    val salts = spark.read.parquet(IndexPaths(indexDir).segments)
      .filter(org.apache.spark.sql.functions.col("term") === "the")
      .select("salt").distinct().count()
    assert(salts > 1, "salting did not engage")
  }

  private val queries = Seq(
    "albae corba",            // rare conjunction
    "the of and",             // pure stopwords
    "the cordin data albast", // mixed df + a term that may be absent
    "kelba sorro",
    "fraba")

  /** The distributed plans with block-max WAND engaged at any df. */
  private lazy val distributed =
    engine.withConfig(_.copy(localMaxPostings = 0L, wandMinPostings = 0L))

  /** The distributed exact fold: block-max WAND never engages. */
  private lazy val direct = distributed.withConfig(_.copy(wandMinPostings = Long.MaxValue))

  test("BM25 top-k rank-identical to oracle on all three paths (local, WAND, direct)") {
    queries.foreach { q =>
      val want = oracle.bm25TopK(q, 10)
      // path 1: driver-local fast path (default at this scale)
      val local = engine.bm25TopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(local == want, s"local-path mismatch for '$q'\n got=$local\nwant=$want")
      // paths 2+3: distributed, block-max WAND forced on and off; the
      // candidate reads scan the terms' chunks and skip by doc range
      Seq("wand" -> distributed, "direct" -> direct).foreach { case (path, e) =>
        val got = e.bm25TopK(q, 10)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(got == want, s"top-k mismatch for '$q' ($path)\n got=$got\nwant=$want")
      }
    }
  }

  /** `body`'s result with the executed plans of every action it runs:
    * the driver-local kinds return a LocalRelation, so their own plan
    * would be vacuous.
    */
  private def withPlans[A](body: => A): (A, Seq[String]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    // listener events arrive asynchronously and in order: once a
    // sentinel action is seen, every earlier action has been too
    def awaitSentinel(name: String): Unit = {
      spark.range(1).selectExpr(s"id AS $name").collect()
      val deadline = System.nanoTime() + 60000000000L
      while (!plans.toArray.exists(_.toString.contains(name)) &&
          System.nanoTime() < deadline) Thread.sleep(10)
    }
    spark.listenerManager.register(listener)
    val result = try {
      // an action the caller ran just before may still be queued: drain
      // it, so only `body`'s plans are recorded
      awaitSentinel("plan_start")
      plans.clear()
      val r = body
      awaitSentinel("plan_sentinel")
      r
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    assert(all.exists(_.contains("plan_sentinel")), "listener never saw the sentinel")
    (result, all.filterNot(_.contains("plan_sentinel")))
  }

  test("driver-local filtered text lookup on both sides of MaxInLiterals") {
    import org.apache.spark.sql.functions.col
    val pred = col("role") === "user"
    val gateShut = engine.withConfig(_.copy(localMaxPostings = 0L))
    // the resident budget shut: the text comes from the docs parquet
    val parquetText = engine.withResidentBudget(0L)
    def scansDocs(plan: String): Boolean =
      plan.linesIterator.exists(l => l.contains("FileScan") && l.contains("/docs"))
    // (query, whether its terms' postings hold more than MaxInLiterals docs)
    Seq("albae corba" -> false, "the of and" -> true).foreach { case (q, over) =>
      val held = direct.bm25TopK(q, 1000000).count()
      assert((held > MaxInLiterals) == over,
        s"'$q' holds $held docs, expected ${if (over) "more" else "at most"} than $MaxInLiterals")
      val (got, plans) = withPlans(parquetText.bm25TopKFiltered(q, 10, pred).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      // the driver-local path folds on the driver: no plan aggregates
      assert(!plans.exists(_.contains("HashAggregate")),
        s"'$q' left the driver-local path:\n${plans.mkString("\n")}")
      val want = gateShut.bm25TopKFiltered(q, 10, pred).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got.nonEmpty, s"'$q': empty filtered top-k — weak test")
      assert(got == want, s"'$q' filtered mismatch vs the gate-shut plan\n got=$got\nwant=$want")
      val pushed = plans.exists(_.contains("In(doc_id"))
      val semi = plans.exists(_.contains("LeftSemi"))
      if (over) assert(semi && !pushed, s"'$q': expected a broadcast semi-join:\n${plans.mkString("\n")}")
      else assert(pushed && !semi, s"'$q': expected a pushed In(doc_id:\n${plans.mkString("\n")}")
      assert(plans.exists(scansDocs), s"'$q': no docs scan found in:\n${plans.mkString("\n")}")
      // resident docs: the same answer from the held rows, filtered on
      // the driver; the first call loads them
      engine.bm25TopKFiltered(q, 10, pred).collect()
      val (resident, residentPlans) = withPlans(engine.bm25TopKFiltered(q, 10, pred).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq)
      assert(resident == want, s"'$q' resident-docs mismatch\n got=$resident\nwant=$want")
      assert(!residentPlans.exists(scansDocs),
        s"'$q': resident docs still scanned the docs table:\n${residentPlans.mkString("\n")}")
    }
  }

  test("WAND forced theta refinement: rank-identical at any candidate count") {
    // refine on EVERY pruned query
    val refined = distributed.withConfig(_.copy(refineMinCandidates = 0L))
    queries.foreach { q =>
      val want = oracle.bm25TopK(q, 10)
      val got = refined.bm25TopK(q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"refined wand mismatch for '$q'\n got=$got\nwant=$want")
    }
  }

  test("WAND tier-1 cap: fallback engages before any driver-side candidate collect") {
    val capped = distributed.withConfig(_.copy(wandCandidateCap = 1L)) // any real query exceeds this
    queries.foreach { q =>
      val want = oracle.bm25TopK(q, 10)
      capped.lastWandPath = ""
      val got = capped.bm25TopK(q, 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == want, s"cap-fallback mismatch for '$q'\n got=$got\nwant=$want")
      // every multi-candidate query must take the fallback without
      // reaching the "pruned" (collected) path; degenerate ones may
      // resolve as exact/empty, but NONE may report "pruned".
      assert(capped.lastWandPath != "pruned",
        s"'$q' collected candidates despite cap=1 (path=${capped.lastWandPath})")
    }
    capped.lastWandPath = ""
    capped.bm25TopK("the of and", 10).collect()
    assert(capped.lastWandPath == "fallback-cap",
      s"stopword query should exceed cap=1, path=${capped.lastWandPath}")
  }

  test("SymSpell fuzzy index: parity with full-dictionary levenshtein scan (d=1,2)") {
    Seq(1, 2).foreach { d =>
      Seq("albae", "crba", "kelba", "xx", "the").foreach { q =>
        val viaIndex = engine.fuzzyTerms(q, d).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        import org.apache.spark.sql.functions.{col, levenshtein, lit}
        val viaScan = engine.dictionary
          .filter(levenshtein(col("term"), lit(q)) <= d)
          .select(col("term"), col("term_id")).collect()
          .map(r => (r.getString(0), r.getLong(1))).toSet
        assert(viaIndex == viaScan, s"fuzzy mismatch for '$q' at d=$d")
      }
    }
  }

  test("fuzzy d=4 takes the dict_by_len range probe (no scan fallback); d<=3 stays on the variant table") {
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    engine.fuzzyTerms("kelba", 1).collect() // table path warmed, un-counted
    val beforeScans = QueryEngine.fuzzyScanFallbacks.get()
    val beforeProbes = QueryEngine.fuzzyRangeProbes.get()
    engine.fuzzyTerms("kelba", 3).collect()
    assert(QueryEngine.fuzzyScanFallbacks.get() == beforeScans &&
      QueryEngine.fuzzyRangeProbes.get() == beforeProbes,
      "d<=3 must serve from a variant table, not the length layout or scan")
    val got = engine.fuzzyTerms("kelba", 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(QueryEngine.fuzzyScanFallbacks.get() == beforeScans,
      "in-domain d=4 must NOT take the O(lexicon) scan (round-4 verdict #4)")
    assert(QueryEngine.fuzzyRangeProbes.get() == beforeProbes + 1,
      "d=4 (above the variant-table cap) must take the cp_len range probe")
    val want = engine.dictionary
      .filter(levenshtein(col("term"), lit("kelba")) <= 4)
      .select(col("term"), col("term_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, "range-probe results differ from ground truth")
  }

  test("fuzzy large-d on a root WITHOUT dict_by_len takes the counted scan fallback") {
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    // clone the index root minus dict_by_len: an older-build root shape
    val oldRoot = tmpDir("graft-oldroot")
    val src = new java.io.File(indexDir)
    src.listFiles().filter(_.getName != "dict_by_len")
      .foreach(f => copyTree(f, new java.io.File(oldRoot, f.getName)))
    val oldEngine = new QueryEngine(spark, oldRoot, lemmas)
    val before = QueryEngine.fuzzyScanFallbacks.get()
    val got = oldEngine.fuzzyTerms("kelba", 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(QueryEngine.fuzzyScanFallbacks.get() == before + 1,
      "without dict_by_len, d=4 must take the COUNTED scan fallback")
    val want = engine.dictionary
      .filter(levenshtein(col("term"), lit("kelba")) <= 4)
      .select(col("term"), col("term_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, "scan-fallback results differ from ground truth")
  }

  test("a TRUNCATED dict_by_len (part files lost under surviving markers) is not trusted") {
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    // clone the root, then delete ONE dict_by_len parquet part while
    // _SUCCESS AND the manifest survive: the manifest's fingerprint (the
    // dictionary's token) hashes the DICTIONARY's listing, so only the
    // manifest integrity check (n_files/bytes vs disk) can catch this —
    // without it every d>3 fuzzy lookup would silently DROP the matches
    // in that part
    val root2 = cloneRoot(indexDir, "graft-truncdbl")
    val victim = Fs.listFilesRecursive(s"$root2/dict_by_len", ".parquet").head._1
    Fs.deleteRecursive(victim)
    val truncEngine = new QueryEngine(spark, root2, lemmas)
    val beforeScans = QueryEngine.fuzzyScanFallbacks.get()
    val got = truncEngine.fuzzyTerms("kelba", 4).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(QueryEngine.fuzzyScanFallbacks.get() == beforeScans + 1,
      "truncated dict_by_len must fall back to the counted full scan, not serve partial results")
    val want = engine.dictionary
      .filter(levenshtein(col("term"), lit("kelba")) <= 4)
      .select(col("term"), col("term_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, "fallback results differ from ground truth")
  }

  test("a TRUNCATED fuzzy variant table is not trusted (manifest gate)") {
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    // same attack as the dict_by_len test, on fuzzy_d1: one parquet part
    // deleted while _SUCCESS + the manifest survive. Its fingerprint
    // hashes the DICTIONARY's listing, so only the variant table's own
    // n_files/bytes can catch this — without them every d<=1 lookup
    // would silently DROP the matches in the lost part.
    val root2 = cloneRoot(indexDir, "graft-truncfz")
    // earlier tests may have backfilled fuzzy_d2/d3 onto the source
    // root; drop them from the clone so the truncated d1 is the ONLY
    // candidate (a valid higher-d table legitimately serves d=1 —
    // that path is covered by the SymSpell parity test)
    new java.io.File(root2).listFiles()
      .filter(f => f.getName.startsWith("fuzzy_d") && f.getName != "fuzzy_d1")
      .foreach(f => Fs.deleteRecursive(f.getPath))
    val fuzzyDir = IndexPaths(root2).fuzzy(1)
    val dictToken = IndexBuilder.tableToken(IndexPaths(root2).dictionary)
    assert(Fs.exists(s"$fuzzyDir/_manifest.json"),
      "build-time writeFuzzyIndex must leave a manifest")
    assert(IndexBuilder.manifestComplete(fuzzyDir, dictToken))
    val victim = Fs.listFilesRecursive(fuzzyDir, ".parquet").head._1
    Fs.deleteRecursive(victim)
    assert(!IndexBuilder.manifestComplete(fuzzyDir, dictToken),
      "lost part file must read as not-intact")
    // a fresh engine must not serve the truncated table: valid() fails
    // and the writable root is re-backfilled, restoring full results
    val e2 = new QueryEngine(spark, root2, lemmas)
    val got = e2.fuzzyTerms("kelba", 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val want = engine.dictionary
      .filter(levenshtein(col("term"), lit("kelba")) <= 1)
      .select(col("term"), col("term_id")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == want, "truncated fuzzy table served partial results")
    assert(IndexBuilder.manifestComplete(fuzzyDir, dictToken),
      "re-backfill must restore an intact manifest")
  }

  test("handle_query: phrase-tier precedence matches oracle") {
    // a query whose first two tokens form a real phrase somewhere
    val t = turnsLocal.find(_.text.split(" ").length > 3).get
    val toks = graft.core.Tokenizer.tokenize(t.text, lemmas).take(2).map(_.term)
    val q = toks.mkString(" ")
    val want = oracle.handleQuery(q, 10)
    val got = engine.handleQuery(q, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(got == want, s"handleQuery mismatch for '$q'\n got=$got\nwant=$want")
    assert(got.exists(_._3 == 0), "expected at least one phrase-tier hit")
  }

  test("lemma file round-trip (reference lemmas.txt format)") {
    val f = java.nio.file.Paths.get(tmpDir("graft-lemmas"), "lemmas.txt")
    java.nio.file.Files.write(f,
      Transcripts.lemmaFileLines.mkString("\n").getBytes("UTF-8"))
    val loaded = graft.core.Tokenizer.loadLemmasFile(f.toString)
    assert(loaded == Transcripts.lemmas)
  }

  test("conjunctive AND matches oracle (inner-join and semi-join variants)") {
    Seq(Seq("the", "albast"), Seq("kelba", "of"), Seq("the", "of", "and")).foreach { ts =>
      val want = oracle.conjunctive(ts)
      val got = engine.conjunctive(ts).collect().map(_.getLong(0)).toSet
      assert(got == want, s"conjunctive mismatch for $ts")
      val gotSemi = engine.conjunctiveSemi(ts).collect().map(_.getLong(0)).toSet
      assert(gotSemi == want, s"conjunctiveSemi mismatch for $ts")
    }
  }

  test("phrase match matches oracle") {
    // find a phrase that actually occurs: take a doc's first two tokens
    val sample = turnsLocal.filter(_.text.split(" ").length > 3).take(20)
    val candidates = sample.map { t =>
      graft.core.Tokenizer.tokenize(t.text, lemmas).take(2).map(_.term)
    }.filter(ts => ts.length == 2 && ts(0) != ts(1))
    assert(candidates.nonEmpty)
    candidates.take(5).foreach { ts =>
      val got = engine.phraseMatch(ts).collect().map(_.getLong(0)).toSet
      val want = oracle.phraseMatch(ts)
      assert(got == want, s"phrase mismatch for $ts")
      assert(want.nonEmpty, s"phrase $ts should match at least its source doc")
    }
  }

  test("phrase/proximity: pruned and shuffle positional plans agree with the oracle") {
    // The inputs pick the plan: a phrase whose rarest term has df d takes
    // the candidate-pruned plan when d × PositionalPruneDensity < n_docs
    // (d <= 4 on this ~1,200-doc corpus); a denser anchor (a stopword
    // phrase) takes the shuffle-join plan, and phraseMaxCandidates = 0
    // sends every phrase there. Both sides must be populated.
    def prunes(ts: Seq[String]): Boolean =
      ts.map(oracle.df).min * QueryEngine.PositionalPruneDensity < oracle.nDocs
    // 3-token windows at consecutive positions: each occurs in its doc
    val windows = turnsLocal.iterator.flatMap(t =>
      graft.core.Tokenizer.tokenize(t.text, lemmas).sliding(3)
        .filter(w => w.size == 3 && w.last.position - w.head.position == 2)
        .map(_.map(_.term)))
      .filter(_.distinct.size == 3)
    val (rare, dense) = windows.take(2000).toSeq.partition(prunes)
    val phrases = rare.take(3) ++ dense.take(3) ++ Seq(Seq("the", "of"))
    assert(phrases.count(prunes) == 3 && phrases.count(!prunes(_)) == 4,
      s"fixture: expected 3 pruned-plan and 4 shuffle-plan phrases, got ${phrases.map(prunes)}")
    // the distributed phrase plans under test
    val shut = engine.withConfig(_.copy(localMaxPostings = 0L))
    val shuffleE = shut.withConfig(_.copy(phraseMaxCandidates = 0L))
    phrases.foreach { ts =>
      val want = oracle.phraseMatch(ts)
      assert(want.nonEmpty, s"phrase $ts should match at least its source doc")
      val viaInput = shut.phraseMatch(ts).collect().map(_.getLong(0)).toSet
      val shuffled = shuffleE.phraseMatch(ts).collect().map(_.getLong(0)).toSet
      val plan = if (prunes(ts)) "pruned" else "shuffle"
      assert(viaInput == want, s"$plan phrase plan mismatch for $ts")
      assert(shuffled == want, s"forced shuffle phrase plan mismatch for $ts")
    }
    // proximity takes the same plans: a pair holding a rare phrase's
    // rarest term prunes, "the of" shuffles
    val r = rare.head
    val i = math.max(1, r.indexOf(r.minBy(oracle.df)))
    Seq((r(i - 1), r(i)), ("the", "of")).foreach { case (t1, t2) =>
      assert(prunes(Seq(t1, t2)) == (t1 != "the"), s"fixture: ($t1, $t2) on the wrong plan")
      val want = oracle.proximity(t1, t2, 3).toSet
      Seq(shut, shuffleE).foreach { e =>
        val got = e.proximity(t1, t2, 3)
          .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
        assert(got == want, s"proximity mismatch for ($t1, $t2)")
      }
    }
  }

  test("proximity is directional (pp2 > pp1) and matches oracle") {
    val got = engine.proximity("the", "of", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val want = oracle.proximity("the", "of", 3).toSet
    assert(got == want)
    assert(got.forall { case (_, p1, p2) => p2 > p1 && p2 - p1 <= 3 })
  }

  test("withDocMeta attaches (conv_id, turn_idx, role) to top-k results") {
    val res = engine.withDocMeta(engine.bm25TopK("alba", 5)).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val docId = r.getAs[Long]("doc_id")
      val conv = r.getAs[String]("conv_id")
      val turn = r.getAs[Int]("turn_idx")
      assert(oracle.docIdOf((conv, turn)) == docId)
      assert(Set("user", "assistant", "tool").contains(r.getAs[String]("role")))
    }
  }

  test("fuzzy term lookup matches oracle") {
    val got = engine.fuzzyTerms("alba", 1).collect().map(_.getString(0)).toSet
    val want = oracle.fuzzyTerms("alba", 1)
    assert(got == want)
    assert(got.contains("alba"))
  }

  test("tf-idf parity scorer matches oracle") {
    val terms = Seq("alba", "the")
    val got = engine.tfIdfScores(terms).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == oracle.tfIdfScores(terms))
  }

  test("resume after a crash between stages: docs+segments kept, merge redone") {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("graft-crash")
    val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
    val turns = Transcripts.generate(spark, 20L)
    new IndexBuilder(spark, lemmas, conf).build(turns, dir)
    val paths = IndexPaths(dir)
    // simulate a crash after stage 1: later-stage outputs are lost
    def rmrf(p: String): Unit = {
      val f = Paths.get(p)
      if (Files.exists(f)) Files.walk(f)
        .sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }
    rmrf(paths.dictionary); rmrf(paths.postings); Files.delete(Paths.get(paths.meta))
    val docsMtime = Files.getLastModifiedTime(Paths.get(paths.docs, "_manifest.json"))
    val segsMtime = Files.getLastModifiedTime(Paths.get(paths.segments, "_manifest.json"))
    val meta = new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 20L), dir)
    // stages 0/1 untouched; stage 2 rebuilt; index queryable again
    assert(Files.getLastModifiedTime(Paths.get(paths.docs, "_manifest.json")) == docsMtime)
    assert(Files.getLastModifiedTime(Paths.get(paths.segments, "_manifest.json")) == segsMtime)
    assert(meta.n_docs == Transcripts.generateLocal(20L).size)
    val eng = new QueryEngine(spark, dir, lemmas)
    assert(eng.bm25TopK("the", 3).count() == 3)
  }

  test("per-partition resume: only killed slices recompute; final index byte-identical") {
    import java.nio.file.{Files, Paths}
    def rmrf(p: String): Unit = {
      val f = Paths.get(p)
      if (Files.exists(f)) Files.walk(f)
        .sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }
    // sorted (partIdx -> bytes) of a table's parquet files: part file
    // names embed a random UUID, so identity is (partition index, bytes)
    import scala.jdk.CollectionConverters._
    def tableBytes(dir: String): Seq[(String, Seq[Byte])] =
      Files.list(Paths.get(dir)).iterator().asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => (p.getFileName.toString.split("-").take(2).mkString("-"),
          Files.readAllBytes(p).toSeq))
        .sortBy(_._1)
    val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4,
      resumeSlices = 4)
    // reference: uninterrupted sliced build
    val refDir = tmpDir("graft-slice-ref")
    new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 20L), refDir)
    // interrupted build: simulate a kill mid-stage-1 — two slices lost,
    // parent segment marker + all later stages lost
    val dir = tmpDir("graft-slice-crash")
    new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 20L), dir)
    val paths = IndexPaths(dir)
    (0 until 4).foreach { i =>
      assert(Files.exists(Paths.get(s"${paths.segments}/slice_$i", "_manifest.json")),
        s"slice_$i manifest missing")
    }
    rmrf(s"${paths.segments}/slice_1")
    rmrf(s"${paths.segments}/slice_3")
    Files.delete(Paths.get(paths.segments, "_manifest.json"))
    rmrf(paths.dictionary); rmrf(paths.postings)
    Files.delete(Paths.get(paths.meta))
    val kept = Seq(0, 2).map(i =>
      Files.getLastModifiedTime(Paths.get(s"${paths.segments}/slice_$i", "_manifest.json")))
    new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 20L), dir)
    // intact slices untouched, killed slices rebuilt
    assert(Seq(0, 2).map(i => Files.getLastModifiedTime(
      Paths.get(s"${paths.segments}/slice_$i", "_manifest.json"))) == kept,
      "intact slices were recomputed")
    (0 until 4).foreach { i =>
      assert(Files.exists(Paths.get(s"${paths.segments}/slice_$i", "_manifest.json")))
    }
    // the RESUMED stage is byte-identical to the uninterrupted build
    // (sorted deterministic runs -> deterministic parquet bytes);
    // stage-2 tables are compared by FULL CONTENT instead — their byte
    // layout depends on Spark's range-exchange sample (seeded by rdd id,
    // different in any two runs, resumed or not)
    val refPaths = IndexPaths(refDir)
    (0 until 4).foreach { i =>
      assert(tableBytes(s"${paths.segments}/slice_$i") ==
        tableBytes(s"${refPaths.segments}/slice_$i"),
        s"slice_$i bytes differ from uninterrupted build")
    }
    def tableRows(d: String): Seq[Seq[Any]] =
      spark.read.option("recursiveFileLookup", "true") // postings: range_* dirs
        .parquet(d).collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }).sortBy(_.toString()).toSeq
    assert(tableRows(paths.dictionary) == tableRows(refPaths.dictionary),
      "dictionary content differs from uninterrupted build")
    assert(tableRows(paths.postings) == tableRows(refPaths.postings),
      "postings content differs from uninterrupted build")
    // and sliced == unsliced index CONTENT (layout-independent semantics:
    // dictionary rows identical; the postings differ only in seam chunks)
    val unslicedDir = tmpDir("graft-slice-unsliced")
    new IndexBuilder(spark, lemmas, conf.copy(resumeSlices = 1))
      .build(Transcripts.generate(spark, 20L), unslicedDir)
    def dictRows(d: String) = spark.read.parquet(IndexPaths(d).dictionary)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(dictRows(dir) == dictRows(unslicedDir),
      "sliced build changed dictionary content")
    val engS = new QueryEngine(spark, dir, lemmas)
    val engU = new QueryEngine(spark, unslicedDir, lemmas)
    Seq("the big join", "kelba sorro").foreach { q =>
      assert(engS.bm25TopK(q, 5).collect().toSeq ==
        engU.bm25TopK(q, 5).collect().toSeq, s"rank drift for '$q'")
    }
    // GEOMETRY-CHANGED resume: crash after the slices but before the
    // parent manifest, then resume with resumeSlices=2 — the 4-slice
    // dirs' manifests must NOT be accepted (their doc ranges were
    // computed under a different slicing; same slice_1 name, different
    // [lo, hi) — silent drop/double-count otherwise).
    Files.delete(Paths.get(paths.segments, "_manifest.json"))
    rmrf(paths.dictionary); rmrf(paths.postings)
    Files.delete(Paths.get(paths.meta))
    new IndexBuilder(spark, lemmas, conf.copy(resumeSlices = 2))
      .build(Transcripts.generate(spark, 20L), dir)
    assert(dictRows(dir) == dictRows(unslicedDir),
      "geometry-changed resume corrupted the dictionary")
  }

  test("stage-2 per-range resume: only killed ranges recompute; content identical") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    def rmrf(p: String): Unit = {
      val f = Paths.get(p)
      if (Files.exists(f)) Files.walk(f)
        .sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    }
    // part names embed the write job's UUID: an unchanged listing proves
    // the range dir was not rewritten
    def listing(d: String): Seq[String] =
      Files.list(Paths.get(d)).iterator().asScala.toSeq
        .map(_.getFileName.toString).filter(_.endsWith(".parquet")).sorted
    def rows(d: String): Seq[Seq[Any]] =
      spark.read.option("recursiveFileLookup", "true").parquet(d)
        .collect().map(_.toSeq.map {
          case b: Array[Byte] => b.toSeq
          case v => v
        }).sortBy(_.toString()).toSeq
    val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4,
      stage2Ranges = 4)
    val refDir = tmpDir("graft-st2-ref")
    new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 20L), refDir)
    val dir = tmpDir("graft-st2-crash")
    new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 20L), dir)
    val paths = IndexPaths(dir)
    (0 until 4).foreach { r =>
      assert(Files.exists(Paths.get(s"${paths.postings}/range_$r", "_manifest.json")),
        s"range_$r manifest missing")
    }
    // simulate a kill mid-stage-2: two ranges lost, parent postings
    // marker + meta lost; dictionary survived (it completes first)
    rmrf(s"${paths.postings}/range_1")
    rmrf(s"${paths.postings}/range_3")
    Files.delete(Paths.get(paths.postings, "_manifest.json"))
    Files.delete(Paths.get(paths.meta))
    val keptParts = Seq(0, 2).map(r => listing(s"${paths.postings}/range_$r"))
    val keptDict = listing(paths.dictionary)
    new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 20L), dir)
    assert(Seq(0, 2).map(r => listing(s"${paths.postings}/range_$r")) == keptParts,
      "intact ranges were recomputed")
    assert(listing(paths.dictionary) == keptDict,
      "completed dictionary was recomputed")
    (0 until 4).foreach { r =>
      assert(Files.exists(Paths.get(s"${paths.postings}/range_$r", "_manifest.json")))
    }
    // resumed index content == uninterrupted build (parquet BYTES of the
    // recomputed ranges depend on Spark's range-exchange sample seed, so
    // content is the right identity here; the intact-listing assertions
    // above cover the not-recomputed half)
    val refPaths = IndexPaths(refDir)
    assert(rows(paths.dictionary) == rows(refPaths.dictionary),
      "dictionary content differs from uninterrupted build")
    assert(rows(paths.postings) == rows(refPaths.postings),
      "postings content differs from uninterrupted build")
    // ranges partition the term_id space disjointly and completely
    val perRange = (0 until 4).map { r =>
      val d = s"${paths.postings}/range_$r"
      spark.read.parquet(d).select("term_id").collect().map(_.getLong(0)).toSet
    }
    val all = spark.read.option("recursiveFileLookup", "true")
      .parquet(paths.postings).select("term_id").collect().map(_.getLong(0)).toSet
    assert(perRange.map(_.size).sum == perRange.reduce(_ ++ _).size, "term_id in two ranges")
    assert(perRange.reduce(_ ++ _) == all)
    assert(perRange.count(_.nonEmpty) >= 2, "expected multiple non-empty ranges")
    // and the resumed index serves identical queries
    val engR = new QueryEngine(spark, dir, lemmas)
    val engF = new QueryEngine(spark, refDir, lemmas)
    Seq("the big join", "kelba sorro").foreach { q =>
      assert(engR.bm25TopK(q, 5).collect().toSeq ==
        engF.bm25TopK(q, 5).collect().toSeq, s"rank drift for '$q'")
    }
  }

  test("changed BM25 constants invalidate resume (k1/b are in the fingerprint)") {
    import org.apache.spark.sql.functions.{col, desc}
    val dir = tmpDir("graft-k1b-resume")
    val conf = IndexConf(numParts = 2)
    new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 10L), dir)
    val maxImpactA = spark.read.option("recursiveFileLookup", "true")
      .parquet(IndexPaths(dir).postings)
      .orderBy(desc("max_impact")).select("max_impact").head().getDouble(0)
    // same root, same corpus, different b: every chunk's max_norm bakes
    // b in, so resume MUST invalidate — reusing the postings would serve
    // block-max bounds from the old constants (silently wrong WAND top-k)
    new IndexBuilder(spark, lemmas, conf.copy(b = 0.25))
      .build(Transcripts.generate(spark, 10L), dir)
    val manifest = graft.index.Fs.readString(
      s"${IndexPaths(dir).postings}/_manifest.json")
    assert(manifest.contains("-b0.25-"), s"fingerprint lacks b: $manifest")
    val maxImpactB = spark.read.option("recursiveFileLookup", "true")
      .parquet(IndexPaths(dir).postings)
      .orderBy(desc("max_impact")).select("max_impact").head().getDouble(0)
    assert(maxImpactA != maxImpactB,
      "postings were not rebuilt after the BM25 constants changed")
    // and QUERY-side scoring must use the index's constants, not the
    // defaults — on both the distributed exact fold and the forced-WAND
    // path (block-max bounds are only sound when query impacts use the
    // same k1/b the chunk max_norms were built under). The driver-local
    // gate is shut on both, or LocalServing would answer them.
    val eng = new QueryEngine(spark, dir, lemmas)
    val exactE = eng.withConfig(_.copy(localMaxPostings = 0L, wandMinPostings = Long.MaxValue))
    val pruning = eng.withConfig(_.copy(localMaxPostings = 0L, wandMinPostings = 0L))
    val scalar = new graft.oracle.Oracle(
      Transcripts.generateLocal(10L), lemmas, b = 0.25)
    Seq("the alba", "kelba sorro the").foreach { q =>
      val exact = exactE.bm25TopK(q, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(exactE.lastWandPath == "exact", s"'$q' took ${exactE.lastWandPath}")
      assert(exact == scalar.bm25TopK(q, 5),
        s"custom-constant exact scoring diverges from scalar for '$q'")
      val pruned = pruning.bm25TopK(q, 5).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(pruning.lastWandPath != "local", s"'$q' was served driver-locally")
      assert(pruned == exact, s"custom-constant WAND diverges for '$q'")
    }
  }

  test("handleQuery phrase tier matches the FULL query sequence (repeated words)") {
    import graft.corpus.Turn
    val ts0 = new java.sql.Timestamp(0L)
    // doc 1 contains the DEDUPED sequence "to be or not" but NOT the
    // query phrase; doc 2 contains the full phrase. Before round 4 the
    // phrase tier ran on the deduplicated terms and promoted doc 1.
    val miniTurns = Seq(
      Turn("c1", 0, "user", "to be or not at all zz qq", "", ts0),
      Turn("c2", 0, "user", "to be or not to be that is the question", "", ts0))
    val dir = tmpDir("graft-phrase-dup")
    import spark.implicits._
    new IndexBuilder(spark, Map.empty, IndexConf(numParts = 2))
      .build(spark.createDataset(miniTurns), dir)
    val eng = new QueryEngine(spark, dir, Map.empty)
    val got = eng.handleQuery("to be or not to be", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val tierOf = got.map(r => r._1 -> r._3).toMap
    assert(tierOf(2L) == 0, s"full-phrase doc must be tier 0: $got")
    assert(tierOf(1L) == 2, s"deduped-subsequence doc must stay tier 2: $got")
    val want = new graft.oracle.Oracle(miniTurns, Map.empty)
      .handleQuery("to be or not to be", 10)
    assert(got == want, s"engine/oracle drift\n got=$got\nwant=$want")
  }

  test("resumed build does no per-part-file driver IO (Fs ops stay O(stages))") {
    val conf = IndexConf(numParts = 8, skewDfThreshold = 300, nSalts = 4,
      resumeSlices = 4, stage2Ranges = 4)
    val dir = tmpDir("graft-resume-io")
    new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 20L), dir)
    val nPartFiles = Fs.listFilesRecursive(dir, ".parquet").size
    assert(nPartFiles > 40, s"corpus too small to make the bound meaningful: $nPartFiles")
    Fs.ops.set(0L)
    new IndexBuilder(spark, lemmas, conf)
      .build(Transcripts.generate(spark, 20L), dir)
    val ops = Fs.ops.get()
    // a fully-resumed build reads manifests/markers only: O(stages),
    // strictly below the part-file count (the old footer loop alone was
    // >= nPartFiles driver opens)
    assert(ops < nPartFiles && ops <= 40,
      s"resumed build did $ops Fs ops over $nPartFiles part files")
  }

  test("resume rebuilds a stage whose part files were deleted under a surviving manifest") {
    // the round-4 ADVICE scenario: a range dir loses parquet files but
    // its _manifest.json survives — manifestComplete must read the
    // stage as INCOMPLETE (n_files/bytes vs one listing) and the resume
    // must rebuild it, never serve truncated postings
    val conf2 = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4,
      stage2Ranges = 2)
    val dir = tmpDir("graft-manifest-integrity")
    val turns = Transcripts.generate(spark, 20L)
    new IndexBuilder(spark, lemmas, conf2).build(turns, dir)
    val fullRows = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/postings").count()
    val victim = Fs.listFilesRecursive(s"$dir/postings", ".parquet").head._1
    Fs.deleteRecursive(victim)
    new IndexBuilder(spark, lemmas, conf2).build(turns, dir)
    val rebuilt = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/postings").count()
    assert(rebuilt == fullRows,
      s"resume served truncated postings: $rebuilt rows != $fullRows")
  }

  test("URI-schemed root: build + resume + query over file:// (the Fs seam)") {
    // the marker seam goes through the Hadoop FileSystem API; a
    // scheme'd root exercises exactly the code path an hdfs:// or
    // s3a:// root would take (resolved per-URI), with file:// standing
    // in for the distributed FS this sandbox doesn't have
    val plain = tmpDir("graft-uri-root")
    val root = s"file://$plain"
    val conf = IndexConf(numParts = 2, resumeSlices = 2)
    val b = new IndexBuilder(spark, lemmas, conf)
    val m1 = b.build(Transcripts.generate(spark, 10L), root)
    assert(m1.n_docs > 0)
    // resume: a second build skips every stage (manifests readable
    // through the scheme'd path)
    val t0 = System.nanoTime()
    val m2 = b.build(Transcripts.generate(spark, 10L), root)
    assert(m2 == m1)
    assert((System.nanoTime() - t0) / 1e9 < 10.0, "resume did not skip stages")
    // query + lazy fuzzy backfill through the scheme'd root
    val e = new QueryEngine(spark, root, lemmas)
    assert(e.bm25TopK("the alba", 3).count() > 0)
    assert(e.fuzzyTerms("alba", 1).count() >= 1)
    // generations under a scheme'd root
    val genRoot = s"file://${tmpDir("graft-uri-gens")}"
    Generations.append(spark, Transcripts.generate(spark, 4L), genRoot, lemmas,
      IndexConf(numParts = 2))
    Generations.append(spark, Transcripts.generate(spark, 4L, seed = 7L),
      genRoot, lemmas, IndexConf(numParts = 2))
    assert(Generations.genDirs(genRoot).size == 2)
    val multi = new MultiGenEngine(spark, genRoot, lemmas)
    assert(multi.bm25TopK("the", 3).count() == 3)
  }

  test("rebuild over a changed corpus invalidates stale backfilled fuzzy tables") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.{col, levenshtein, lit}
    val spark0 = spark
    import spark0.implicits._
    def stage(n: Long, seed: Long, p: String): Unit =
      Transcripts.generate(spark, n, seed = seed).write
        .mode("overwrite").parquet(p)
    val dir = tmpDir("graft-fuzzy-stale")
    val turnsA = tmpDir("graft-fuzzy-stale-a"); stage(6L, 42L, turnsA)
    val turnsB = tmpDir("graft-fuzzy-stale-b"); stage(10L, 99L, turnsB)
    val conf = IndexConf(numParts = 2, fuzzyMaxDistance = 1)
    val b = new IndexBuilder(spark, lemmas, conf)
    b.build(spark.read.parquet(turnsA).as[graft.corpus.Turn], dir)
    val e1 = new QueryEngine(spark, dir, lemmas)
    e1.fuzzyTerms("alba", 2).collect() // lazily backfills fuzzy_d2
    assert(Files.exists(Paths.get(s"$dir/fuzzy_d2/_SUCCESS")),
      "d=2 backfill did not run")
    // different corpus, SAME root: the rebuild rewrites dictionary and
    // fuzzy_d1, but not the old backfilled fuzzy_d2 — it must be
    // detected as stale (dict-token mismatch) instead of serving
    // old-corpus terms/term_ids/dfs against the new index
    b.build(spark.read.parquet(turnsB).as[graft.corpus.Turn], dir)
    val e2 = new QueryEngine(spark, dir, lemmas)
    Seq("albae", "crba").foreach { q =>
      val viaIndex = e2.fuzzyTerms(q, 2).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val viaScan = e2.dictionary
        .filter(levenshtein(col("term"), lit(q)) <= 2)
        .select(col("term"), col("term_id")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(viaIndex == viaScan,
        s"stale fuzzy table served for '$q': $viaIndex != $viaScan")
    }
  }

  test("resume: a second build() skips completed stages") {
    // capture manifest mtimes, rebuild, assert untouched
    import java.nio.file.{Files, Paths}
    val paths = IndexPaths(indexDir)
    val manifests = Seq(paths.docs, paths.segments, paths.dictionary, paths.postings,
      paths.dictByLen, paths.fuzzy(1))
      .map(d => Paths.get(d, "_manifest.json"))
    val before = manifests.map(Files.getLastModifiedTime(_))
    val turns = Transcripts.generate(spark, nConvs)
    new IndexBuilder(spark, lemmas,
      IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4))
      .build(turns, indexDir)
    val after = manifests.map(Files.getLastModifiedTime(_))
    assert(before == after, "resume should not rewrite completed stages")
  }

  test("resumed build repairs a STALE-TOKENED dict_by_len") {
    // simulate a dictionary rewritten under an UNCHANGED build
    // fingerprint (new part UUIDs => new tableToken, e.g. a repaired
    // stage): dict_by_len's manifest then carries a token that no
    // longer matches the dictionary — a build-fp skip would leave it
    // stale forever (serve side rejects it, no build repairs it, every
    // large-d fuzzy query pays the O(lexicon) scan)
    val root2 = cloneRoot(indexDir, "graft-staletok")
    val dictByLen = IndexPaths(root2).dictByLen
    val dictToken = IndexBuilder.tableToken(IndexPaths(root2).dictionary)
    val manifest = s"$dictByLen/_manifest.json"
    Fs.writeString(manifest, Fs.readString(manifest).replace(
      s""""fingerprint":"$dictToken"""",
      """"fingerprint":"stale-token-from-before-the-dict-rewrite""""))
    assert(!IndexBuilder.manifestComplete(dictByLen, dictToken))
    val turns = Transcripts.generate(spark, nConvs)
    new IndexBuilder(spark, lemmas,
      IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4))
      .build(turns, root2)
    assert(IndexBuilder.manifestComplete(dictByLen, dictToken),
      "resumed build must rewrite a stale-tokened dict_by_len")
  }
}
