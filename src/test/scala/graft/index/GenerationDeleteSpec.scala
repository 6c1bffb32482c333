package graft.index

import org.apache.spark.sql.functions._

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.oracle.Oracle
import graft.query.{EngineConfig, QueryEngine}

/** Document deletion (tombstones) on an incremental root — Lucene
  * liveDocs semantics: deleted docs vanish from every result path
  * immediately while global statistics stay PRE-DELETE; compaction
  * purges the postings and recomputes statistics over survivors. The
  * bar: pre-compaction results are bit-identical to the scalar oracle's
  * full-corpus scoring filtered to survivors, and the compacted index
  * is score-identical to a corpus that never contained the deletions.
  */
class GenerationDeleteSpec extends SparkSpecBase {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
  private lazy val allTurns = Transcripts.generateLocal(40L)
  private lazy val oracle = new Oracle(allTurns, lemmas)

  /** Tombstones chosen to HURT: two docs from the pre-delete top-5 of
    * the scoring query (ranks must reshuffle), one phrase-tier doc of
    * the handleQuery query (tier-claim filtering must engage), plus one
    * whole conversation via deleteWhere (the metadata-takedown form).
    * Batches overlap on one id to exercise the distinct() union.
    */
  private lazy val delFromTop: Seq[Long] =
    oracle.bm25TopK("the of", 5).map(_._1).take(2)
  private lazy val delPhrase: Long = {
    val phr = oracle.phraseMatch(Seq("the", "of"))
    assert(phr.nonEmpty, "fixture: 'the of' must phrase-match somewhere")
    phr.min
  }

  private lazy val root: String = {
    val dir = tmpDir("graft-del")
    import spark.implicits._
    val batch1 = allTurns.filter(_.conv_id < "conv-00000020")
    val batch2 = allTurns.filterNot(_.conv_id < "conv-00000020")
    Generations.append(spark, spark.createDataset(batch1), dir, lemmas, conf)
    Generations.append(spark, spark.createDataset(batch2), dir, lemmas, conf)
    // batch A: explicit ids (top-ranked docs + one phrase doc)
    Generations.deleteDocs(spark,
      spark.createDataset(delFromTop :+ delPhrase), dir)
    // batch B: a whole conversation by metadata, overlapping batch A iff
    // the phrase doc lives in it (overlap is fine either way)
    Generations.deleteWhere(spark, dir, col("conv_id") === "conv-00000007")
    dir
  }

  private lazy val deleted: Set[Long] = {
    val ids = Generations.deletedDocs(spark, root).get
      .collect().map(_.getLong(0)).toSet
    assert(ids.size >= 3, s"fixture: expected >=3 tombstones, got $ids")
    ids
  }

  private def oracleTopKLive(terms: Seq[String], k: Int): Seq[(Long, Double)] =
    oracle.bm25TopKForTerms(terms, Int.MaxValue)
      .filterNot { case (d, _) => deleted(d) }.take(k)

  test("tombstoned docs vanish from BM25 top-k on BOTH paths, scores keep pre-delete stats") {
    val multi = new MultiGenEngine(spark, root, lemmas)
    assert(multi.deletedIds.nonEmpty)
    val queries = Seq("the of", "alba corba", "kelba the sorro")
    // exact path: driver-local (tombstones dropped at decode), then the
    // distributed fold with the gate shut
    for (gate <- Seq(multi.conf.localMaxPostings, 0L); q <- queries) {
      val e = multi.withConfig(_.copy(localMaxPostings = gate))
      val terms = e.queryTerms(q)
      val got = e.bm25TopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = oracleTopKLive(terms, 10)
      assert(got == want, s"exact-path mismatch for '$q'\n got=$got\nwant=$want")
      assert(got.forall(r => !deleted(r._1)))
    }
    // forced pruned path — theta/candidates must be survivor-only too
    val pruned = multi.withConfig(_.copy(localMaxPostings = 0L, wandMinPostings = 0L))
    queries.foreach { q =>
      pruned.lastWandPath = ""
      val got = pruned.bm25TopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == oracleTopKLive(pruned.queryTerms(q), 10),
        s"pruned-path mismatch for '$q' (path=${pruned.lastWandPath})")
    }
    // a deleted doc sat in the PRE-delete top-5, so ranks really moved
    val pre = oracle.bm25TopK("the of", 5).map(_._1)
    assert(pre.exists(deleted), "fixture: no top-5 doc was tombstoned")
  }

  test("liveDocs filter (default) and anti-join fallback agree; plans carry the right shape") {
    // default: tombstones under liveDocsCap collect to a broadcast
    // sorted array probed inside the fold stage — NO anti-join in the
    // plan (the per-query broadcast-relation rebuild measured 2.2x
    // median latency at 4.2M turns / 420k tombstones)
    val live = new MultiGenEngine(spark, root, lemmas)
    val livePlan = live.conjunctive(Seq("the"))
      .queryExecution.optimizedPlan.toString
    assert(!livePlan.contains("LeftAnti"),
      s"default path should filter, not join:\n$livePlan")
    // takedown-wave fallback: a cap of 0 forces the distributed anti-join
    val wave = new MultiGenEngine(spark, root, lemmas, EngineConfig(liveDocsCap = 0L))
    val wavePlan = wave.conjunctive(Seq("the"))
      .queryExecution.optimizedPlan.toString
    assert(wavePlan.contains("LeftAnti"),
      s"fallback path should anti-join:\n$wavePlan")
    // both forms serve identical results on every path family
    val q = "the of"
    assert(live.bm25TopK(q, 10).collect().toSeq ==
      wave.bm25TopK(q, 10).collect().toSeq)
    // pruned top-k through the anti-join too
    val wavePruned = wave.withConfig(_.copy(wandMinPostings = 0L))
    assert(live.bm25TopK(q, 10).collect().toSeq ==
      wavePruned.bm25TopK(q, 10).collect().toSeq)
    assert(live.handleQuery(q, 10).collect().toSeq ==
      wavePruned.handleQuery(q, 10).collect().toSeq)
    assert(live.conjunctive(Seq("the", "of")).collect().map(_.getLong(0)).toSet ==
      wavePruned.conjunctive(Seq("the", "of")).collect().map(_.getLong(0)).toSet)
  }

  test("boolean/positional results and handleQuery tiers exclude tombstones") {
    val multi = new MultiGenEngine(spark, root, lemmas)
    val ts = Seq("the", "of")
    assert(multi.conjunctive(ts).collect().map(_.getLong(0)).toSet ==
      oracle.conjunctive(ts) -- deleted)
    assert(multi.phraseMatch(ts).collect().map(_.getLong(0)).toSet ==
      oracle.phraseMatch(ts) -- deleted)
    assert(multi.proximity("the", "of", 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet ==
      oracle.proximity("the", "of", 3).filterNot(p => deleted(p._1)).toSet)
    // handleQuery: the deleted phrase doc must neither serve in tier 0
    // nor claim a slot against the unigram tier
    val got = multi.handleQuery("the of", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    val want = oracle.handleQuery("the of", Int.MaxValue)
      .filterNot { case (d, _, _) => deleted(d) }.take(10)
    assert(got == want, s"handleQuery mismatch\n got=$got\nwant=$want")
    assert(!got.exists(r => r._1 == delPhrase))
  }

  test("tf-idf, vsm and the semi-join chain drop tombstones on a single index") {
    import spark.implicits._
    val dir = tmpDir("graft-del-single")
    new IndexBuilder(spark, lemmas, conf).build(spark.createDataset(allTurns), dir)
    val dead = (delFromTop :+ delPhrase).toSet
    Generations.deleteDocs(spark, spark.createDataset(dead.toSeq), dir)
    val ts = Seq("the", "of")
    // the fixture bites: every tombstone is in each full-corpus answer
    assert(dead.subsetOf(oracle.tfIdfScores(ts).keySet) &&
      dead.subsetOf(oracle.conjunctive(ts)) && dead.contains(delPhrase))
    def scores(df: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val live = new QueryEngine(spark, dir, lemmas)
    assert(live.deletedIds.nonEmpty)
    // the liveDocs filter and the anti-join fallback alike
    for (e <- Seq(live, live.withConfig(_.copy(liveDocsCap = 0L)))) {
      assert(scores(e.tfIdfScores(ts)) == oracle.tfIdfScores(ts) -- dead)
      assert(scores(e.vsmScores(ts)) == oracle.vsmScores(ts) -- dead)
      assert(e.conjunctiveSemi(ts).collect().map(_.getLong(0)).toSet ==
        oracle.conjunctive(ts) -- dead)
    }
  }

  test("delete batches are idempotent, overlap-safe, and invisible until committed") {
    val before = Generations.delDirs(root).size
    import spark.implicits._
    val dir = s"$root/del-${"%05d".format(77)}"
    Generations.deleteDocsAt(spark, spark.createDataset(Seq(deleted.head)), root, dir)
    val after = Generations.delDirs(root).size
    assert(after == before + 1)
    // replay of a committed batch is a no-op (exactly-once seam)
    Generations.deleteDocsAt(spark,
      spark.createDataset(Seq(999999L)), root, dir)
    assert(Generations.deletedDocs(spark, root).get
      .filter(col("doc_id") === 999999L).count() == 0L)
    // overlapping ids across batches dedupe
    val n = Generations.deletedDocs(spark, root).get.count()
    assert(n == deleted.size, s"distinct union broken: $n vs ${deleted.size}")
    // a marker-less partial dir is invisible
    Fs.mkdirs(s"$root/del-88888/ids")
    assert(!Generations.delDirs(root).exists(_.endsWith("del-88888")))
    // an empty batch never commits (it would put a permanent no-op
    // anti-join into every plan of the root)
    val nBatches = Generations.delDirs(root).size
    Generations.deleteDocs(spark, spark.emptyDataset[Long], root)
    assert(Generations.delDirs(root).size == nBatches)
  }

  test("roots without deletes stay join-free (no LeftAnti in the plan)") {
    val dir = tmpDir("graft-nodel")
    import spark.implicits._
    Generations.append(spark,
      spark.createDataset(allTurns.take(30)), dir, lemmas, conf)
    val m = new MultiGenEngine(spark, dir, lemmas)
    assert(m.deletedIds.isEmpty)
    val plan = m.bm25TopK("the of", 5).queryExecution.optimizedPlan.toString
    assert(!plan.contains("LeftAnti"), s"unexpected anti-join:\n$plan")
  }

  test("compaction purges tombstones and recomputes statistics over survivors") {
    val out = tmpDir("graft-del-compact") + "/idx"
    val meta = Compactor.compact(spark, root, out, lemmas, conf)
    assert(meta.n_docs == oracle.nDocs - deleted.size)
    // the compacted index == an index over a corpus that never held the
    // deleted docs: fresh scalar oracle over survivors, compared on
    // (conv_id, turn_idx) business keys (compaction keeps original
    // doc_ids — gaps — while a fresh corpus would renumber)
    val survTurns = oracle.docsSorted.zipWithIndex.collect {
      case (t, i) if !deleted(i + 1L) => t
    }
    val oracle2 = new Oracle(survTurns, lemmas)
    assert(meta.avgdl == oracle2.avgdl)
    val eng = new QueryEngine(spark, out, lemmas)
    Seq("the of", "alba corba").foreach { q =>
      val got = eng.bm25TopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .map { case (d, s) =>
          val t = oracle.docsSorted((d - 1).toInt); ((t.conv_id, t.turn_idx), s)
        }.toSeq
      val want = oracle2.bm25TopK(q, 10).map { case (d, s) =>
        val t = oracle2.docsSorted((d - 1).toInt); ((t.conv_id, t.turn_idx), s)
      }
      assert(got == want, s"compacted mismatch for '$q'\n got=$got\nwant=$want")
    }
    // a LATER delete batch changes the compaction fingerprint: re-compact
    // into the same outDir must rebuild (not resume) and drop the new id
    val extra = eng.bm25TopK("the of", 1).collect()(0).getLong(0)
    import spark.implicits._
    Generations.deleteDocs(spark, spark.createDataset(Seq(extra)), root)
    val meta2 = Compactor.compact(spark, root, out, lemmas, conf)
    assert(meta2.n_docs == meta.n_docs - 1)
    val eng2 = new QueryEngine(spark, out, lemmas)
    assert(!eng2.bm25TopK("the of", 10).collect().map(_.getLong(0)).contains(extra))
  }

  test("upsert supersedes by (conv_id, turn_idx); compaction equals the corrected corpus") {
    import spark.implicits._
    val dir = tmpDir("graft-upsert")
    Generations.append(spark, spark.createDataset(allTurns), dir, lemmas, conf)
    val victim = allTurns.find(_.text.split(" ").length > 3).get
    val updated = victim.copy(text = "zquux " + victim.text)
    val insert = graft.corpus.Turn("conv-99999999", 0, "user",
      "zquux fresh insert", "", new java.sql.Timestamp(0L))
    Generations.upsert(spark,
      spark.createDataset(Seq(updated, insert)), dir, lemmas, conf)
    val multi = new MultiGenEngine(spark, dir, lemmas)
    // the marker term serves exactly the two upserted docs
    assert(multi.conjunctive(Seq("zquux")).count() == 2)
    // the superseded version is dead: no query path returns its doc_id
    val oldId = oracle.docIdOf((victim.conv_id, victim.turn_idx))
    val oldTerm = graft.core.Tokenizer.tokenize(victim.text, lemmas).head.term
    assert(!multi.conjunctive(Seq(oldTerm)).collect()
      .map(_.getLong(0)).contains(oldId))
    // insert-only upserts must not grow the tombstone chain
    val delBatches = Generations.delDirs(dir).size
    Generations.upsert(spark, spark.createDataset(Seq(
      graft.corpus.Turn("conv-99999998", 0, "user", "zquux second insert",
        "", new java.sql.Timestamp(0L)))), dir, lemmas, conf)
    assert(Generations.delDirs(dir).size == delBatches)
    // compacted == an index over the corrected corpus (scalar oracle on
    // business keys; compaction keeps original ids, the oracle renumbers)
    val out = tmpDir("graft-upsert-compact") + "/idx"
    val meta = Compactor.compact(spark, dir, out, lemmas, conf)
    assert(meta.n_docs == oracle.nDocs + 2)
    val corrected = allTurns.filterNot(t =>
      t.conv_id == victim.conv_id && t.turn_idx == victim.turn_idx) ++
      Seq(updated, insert,
        graft.corpus.Turn("conv-99999998", 0, "user", "zquux second insert",
          "", new java.sql.Timestamp(0L)))
    val oracle3 = new Oracle(corrected, lemmas)
    val eng = new QueryEngine(spark, out, lemmas)
    val engKeys = eng.docs.select("doc_id", "conv_id", "turn_idx").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    // FULL score sets on business keys (top-k tie-breaks by doc_id, and
    // the appended-then-compacted doc keeps a HIGH id while the fresh
    // oracle renumbers it low — set equality is id-order-free). Scores
    // must still be bit-identical: same stats, same fold order.
    Seq(Seq("zquux"), Seq("the", "of")).foreach { terms =>
      val got = eng.bm25Scores(terms).collect()
        .map(r => (engKeys(r.getLong(0)), r.getDouble(1))).toSet
      val want = oracle3.bm25TopKForTerms(terms, Int.MaxValue).map { case (d, s) =>
        val t = oracle3.docsSorted((d - 1).toInt); ((t.conv_id, t.turn_idx), s)
      }.toSet
      assert(got == want, s"upsert-compacted mismatch for $terms")
    }
  }

  test("filtered search and snippet serving on a tombstoned root see survivors only") {
    import spark.implicits._
    val multi = new MultiGenEngine(spark, root, lemmas)
    val q = "the of"
    val terms = multi.queryTerms(q)
    val pred = col("doc_len") >= 6
    // ground truth: per-generation docs tables give doc_len; the filtered
    // top-k must equal the FULL live score set restricted to the predicate
    val allowed = Generations.genDirs(root)
      .map(g => spark.read.parquet(IndexPaths(g).docs)
        .filter(pred).select("doc_id"))
      .reduce(_ unionByName _).as[Long].collect().toSet
    val want = multi.bm25TopK(q, Int.MaxValue - 1).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .filter(r => allowed(r._1)).take(10).toSeq
    assert(want.nonEmpty, "fixture: the filtered set must be non-empty")
    val got = multi.bm25TopKFiltered(q, 10, pred).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want, s"filtered mismatch\n got=$got\nwant=$want")
    assert(got.forall(r => !deleted(r._1)))
    // the candidate and semi-join routes agree on the tombstoned root
    // (driver-local gate shut: both routes are distributed plans)
    val dist = new MultiGenEngine(spark, root, lemmas, EngineConfig(localMaxPostings = 0L))
    assert(dist.bm25TopKFiltered(q, 10, pred).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq == want,
      "candidate route mismatch")
    val broad = dist.bm25ScoresFiltered(terms, pred, candidateCap = 0)
      .orderBy(col("score").desc, col("doc_id").asc).limit(10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(broad == want, s"semi-join route mismatch\n got=$broad\nwant=$want")
    // the result page: k rows, no tombstones, snippets from live docs
    val page = multi.searchWithSnippets(q, 10).collect()
    assert(page.length == 10)
    assert(page.forall(r => !deleted(r.getLong(0))))
    assert(page.forall(r => !r.isNullAt(3) && r.getString(3).nonEmpty),
      "every live result doc contains the terms, so each gets a snippet")
  }

  test("upsert key probe pushes conv_id literals into the docs scan") {
    import spark.implicits._
    val keys = Seq(("conv-00000003", 0), ("conv-00000005", 1))
      .toDF("conv_id", "turn_idx")
    val gens = Generations.genDirs(root)
    val pruned = Generations.docIdsForKeys(spark, gens, keys)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("In(conv_id") || plan.contains("EqualTo(conv_id"),
      s"expected a pushed conv_id filter on the docs scan:\n$plan")
    // correctness unchanged vs the un-pruned semi-join
    val fallback = Generations.docIdsForKeys(spark, gens, keys, maxLiterals = 0)
    assert(!fallback.queryExecution.executedPlan.toString.contains("In(conv_id"))
    assert(pruned.collect().map(_.getLong(0)).sorted.toSeq ==
      fallback.collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("streaming takedowns: doc_id files become tombstone batches, replay-safe") {
    import spark.implicits._
    val inDir = tmpDir("graft-delstream-in")
    val idxRoot = tmpDir("graft-delstream-idx")
    Generations.append(spark,
      spark.createDataset(allTurns), idxRoot, lemmas, conf)
    val victims = oracle.bm25TopK("the of", 3).map(_._1)
    spark.createDataset(victims.take(2)).toDF("doc_id")
      .coalesce(1).write.mode("append").parquet(inDir)
    spark.createDataset(Seq(victims(2))).toDF("doc_id")
      .coalesce(1).write.mode("append").parquet(inDir)
    val q = graft.streaming.StreamIngest.startDeletes(spark, inDir, idxRoot)
    q.awaitTermination(120000)
    val del = Generations.deletedDocs(spark, idxRoot).get
      .collect().map(_.getLong(0)).toSet
    assert(del == victims.toSet, s"streamed tombstones: $del vs $victims")
    // a restart from the SAME checkpoint re-delivers nothing new; the
    // batch count stays put (exactly-once seam)
    val batches = Generations.delDirs(idxRoot).size
    val q2 = graft.streaming.StreamIngest.startDeletes(spark, inDir, idxRoot)
    q2.awaitTermination(120000)
    assert(Generations.delDirs(idxRoot).size == batches)
    // the reopened engine serves survivors only
    val multi = new MultiGenEngine(spark, idxRoot, lemmas)
    val got = multi.bm25TopK("the of", 5).collect().map(_.getLong(0)).toSeq
    assert(got == oracle.bm25TopKForTerms(Seq("the", "of"), Int.MaxValue)
      .filterNot(r => victims.contains(r._1)).take(5).map(_._1))
  }
}
