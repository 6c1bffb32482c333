package graft.index

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.oracle.Oracle
import graft.query.{EngineConfig, QueryEngine}

/** Incremental indexing: generation appends, multi-generation querying
  * with globally-consistent BM25, compaction, and streaming ingest. The
  * bar: multi-gen and compacted results are BIT-IDENTICAL to a
  * from-scratch build of the whole corpus (and to the scalar oracle),
  * because batches arrive in (conv_id, turn_idx) order here.
  */
class IncrementalSpec extends SparkSpecBase {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
  private lazy val allTurns = Transcripts.generateLocal(40L)
  private lazy val oracle = new Oracle(allTurns, lemmas)

  private lazy val root: String = {
    val dir = tmpDir("graft-incr")
    import spark.implicits._
    // two batches in conv order -> generation doc_ids == full-build ids
    val batch1 = allTurns.filter(_.conv_id < "conv-00000020")
    val batch2 = allTurns.filterNot(_.conv_id < "conv-00000020")
    Generations.append(spark, spark.createDataset(batch1), dir, lemmas, conf)
    Generations.append(spark, spark.createDataset(batch2), dir, lemmas, conf)
    dir
  }

  test("generations have disjoint, consecutive doc_id ranges") {
    val gens = Generations.genDirs(root)
    assert(gens.size == 2)
    val metas = gens.map(IndexBuilder.readMeta)
    assert(metas.map(_.n_docs).sum == oracle.nDocs)
    val e0 = new QueryEngine(spark, gens(0), lemmas)
    val e1 = new QueryEngine(spark, gens(1), lemmas)
    val max0 = e0.docs.agg(org.apache.spark.sql.functions.max("doc_id")).head().getLong(0)
    val min1 = e1.docs.agg(org.apache.spark.sql.functions.min("doc_id")).head().getLong(0)
    assert(min1 == max0 + 1, s"gap/overlap between generations: $max0 -> $min1")
  }

  test("multi-gen BM25 top-k == oracle over the full corpus (bit-identical)") {
    val multi = new MultiGenEngine(spark, root, lemmas)
    assert(multi.nDocs == oracle.nDocs)
    assert(multi.avgdl == oracle.avgdl)
    Seq("alba corba", "the of", "kelba the sorro").foreach { q =>
      val got = multi.bm25TopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = oracle.bm25TopK(q, 10)
      assert(got == want, s"multi-gen mismatch for '$q'\n got=$got\nwant=$want")
    }
  }

  test("multi-gen BM25 with FORCED cross-generation block-max pruning: bit-identical") {
    // force the pruned path above the driver-local gate
    val multi = new MultiGenEngine(spark, root, lemmas,
      EngineConfig(wandMinPostings = 0L, localMaxPostings = 0L))
    Seq("alba corba", "the of", "kelba the sorro", "the").foreach { q =>
      multi.lastWandPath = ""
      val got = multi.bm25TopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = oracle.bm25TopK(q, 10)
      assert(got == want, s"pruned multi-gen mismatch for '$q'\n got=$got\nwant=$want")
    }
    // at least one query must actually have taken the pruned path (not
    // degenerate-fallen-back to exact)
    multi.lastWandPath = ""
    multi.bm25TopK("the of", 10).collect()
    assert(multi.lastWandPath == "pruned",
      s"stopword query did not engage cross-gen pruning: ${multi.lastWandPath}")
    // and the cap fallback is exact too
    val capped = multi.withConfig(_.copy(wandCandidateCap = 1L))
    val gotCap = capped.bm25TopK("the of", 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(capped.lastWandPath == "fallback-cap",
      s"cap should force (and LABEL) the exact fallback: ${capped.lastWandPath}")
    assert(gotCap == oracle.bm25TopK("the of", 10))
    // forced theta refinement: the refined tier-2 cut must stay
    // rank-identical at ANY candidate count
    val refined = multi.withConfig(_.copy(refineMinCandidates = 0L))
    Seq("alba corba", "the of", "kelba the sorro", "the").foreach { q =>
      val got = refined.bm25TopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == oracle.bm25TopK(q, 10),
        s"refined multi-gen mismatch for '$q'")
    }
  }

  test("multi-gen boolean/positional/fuzzy == oracle over the full corpus") {
    val multi = new MultiGenEngine(spark, root, lemmas)
    // conjunctive
    val sample = allTurns.filter(_.text.split(" ").length > 4).take(5)
    val termSets = sample.map(t =>
      graft.core.Tokenizer.tokenize(t.text, lemmas).take(2).map(_.term).distinct)
      .filter(_.size == 2)
    termSets.foreach { ts =>
      val got = multi.conjunctive(ts).collect().map(_.getLong(0)).toSet
      val want = oracle.conjunctive(ts)
      assert(got == want, s"multi-gen conjunctive mismatch for $ts")
    }
    // phrase
    termSets.foreach { ts =>
      val got = multi.phraseMatch(ts).collect().map(_.getLong(0)).toSet
      assert(got == oracle.phraseMatch(ts), s"multi-gen phrase mismatch for $ts")
    }
    // proximity
    val gotP = multi.proximity("the", "of", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(gotP == oracle.proximity("the", "of", 3).toSet)
    // fuzzy: global df equals oracle df for every matched term
    val gotF = multi.fuzzyTerms("alba", 1).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    assert(gotF.nonEmpty)
    gotF.foreach { case (t, df) =>
      assert(df == oracle.df(t), s"multi-gen fuzzy df mismatch for '$t'")
    }
  }

  test("multi-gen handleQuery == compacted handleQuery == oracle (tier/rank/bit-identical)") {
    import spark.implicits._
    // a bigram-indexed two-generation root, so the FULL three-tier
    // surface (phrase / bigram-conjunctive / unigram) is exercised on
    // an uncompacted hot-append root — the round-4 verdict's last gap
    val bgConf = conf.copy(indexBigrams = true)
    val dir = tmpDir("graft-incr-bg")
    val batch1 = allTurns.filter(_.conv_id < "conv-00000020")
    val batch2 = allTurns.filterNot(_.conv_id < "conv-00000020")
    Generations.append(spark, spark.createDataset(batch1), dir, lemmas, bgConf)
    Generations.append(spark, spark.createDataset(batch2), dir, lemmas, bgConf)
    val multi = new MultiGenEngine(spark, dir, lemmas).warmDictionary()
    val out = tmpDir("graft-incr-bg-compact")
    Compactor.compact(spark, dir, out, lemmas, bgConf)
    val single = new graft.query.QueryEngine(spark, out, lemmas)
    val bgOracle = new Oracle(allTurns, lemmas, indexBigrams = true)

    // a real indexed phrase (tier 0 + live bigram tier), free text, a
    // single term, and a partially-absent query
    val t = allTurns.find(_.text.split(" ").length > 4).get
    val phraseQ = graft.core.Tokenizer.tokenize(t.text, lemmas)
      .take(3).map(_.term).mkString(" ")
    val queries = Seq(phraseQ, "alba corba", "the", "kelba zzzabsent")
    // driver-local gate open (the default), then shut: the distributed
    // tiers must agree bit for bit too
    for (gate <- Seq(multi.conf.localMaxPostings, 0L); q <- queries) {
      val got = multi.withConfig(_.copy(localMaxPostings = gate)).handleQuery(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      val viaCompacted = single.withConfig(_.copy(localMaxPostings = gate))
        .handleQuery(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      assert(got == viaCompacted,
        s"multi-gen vs compacted handleQuery drift for '$q' (gate $gate)\n got=$got\nwant=$viaCompacted")
      val want = bgOracle.handleQuery(q, 10)
      assert(got == want,
        s"multi-gen handleQuery vs oracle drift for '$q' (gate $gate)\n got=$got\nwant=$want")
    }
    // the phrase query exercised tier 0 on the PRUNED path (gate shut)
    val shut = multi.withConfig(_.copy(localMaxPostings = 0L))
    val phraseRes = shut.handleQuery(phraseQ, 10).collect()
    assert(shut.lastHandlePath == "pruned",
      s"expected the pruned form: ${shut.lastHandlePath}")
    assert(phraseRes.exists(_.getInt(2) == 0), "expected a tier-0 hit")
    // and the forced EXACT form agrees bit-for-bit too
    val exact = shut.withConfig(_.copy(handleQueryClaimCap = -1))
    val gotExact = exact.handleQuery(phraseQ, 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(exact.lastHandlePath == "exact",
      s"claim cap -1 must force the exact form: ${exact.lastHandlePath}")
    assert(gotExact == bgOracle.handleQuery(phraseQ, 10),
      "multi-gen exact-form handleQuery drifts from oracle")
  }

  test("3-generation handleQuery: terms absent from most generations (probe-shared chains)") {
    import spark.implicits._
    // three generations where the query phrase exists ONLY in the last:
    // the phrase/conjunctive chains (which reuse TermStats' per-
    // generation entries) must contribute EMPTY for generations missing
    // any term, and the result must still be bit-identical to the
    // scalar oracle over the concatenated corpus
    val bgConf = conf.copy(indexBigrams = true)
    val dir = tmpDir("graft-incr-3g")
    val ts0 = new java.sql.Timestamp(60000000L)
    val batch1 = allTurns.filter(_.conv_id < "conv-00000014")
    val batch2 = allTurns.filter(t =>
      t.conv_id >= "conv-00000014" && t.conv_id < "conv-00000028")
    val markers = (0 until 4).map { i =>
      graft.corpus.Turn(f"zzz-$i%03d", 0, "user",
        s"zyxxo qwfpo marker line$i with zyxxo qwfpo again", "", ts0)
    }
    // marker convs sort AFTER every conv-*, so per-batch (conv_id,
    // turn_idx) doc_id assignment matches the global oracle order
    val batch3 = allTurns.filterNot(_.conv_id < "conv-00000028") ++ markers
    Seq(batch1, batch2, batch3).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, bgConf))
    assert(Generations.genDirs(dir).size == 3)
    val multi = new MultiGenEngine(spark, dir, lemmas).warmDictionary()
    val oracle3 = new Oracle(
      (batch1 ++ batch2 ++ batch3).sortBy(t => (t.conv_id, t.turn_idx)),
      lemmas, indexBigrams = true)
    // phrase only in gen 3 (phrase + bigram tiers fire there alone);
    // a corpus-wide query; a mix of gen-3-only and corpus-wide terms
    Seq("zyxxo qwfpo", "alba corba", "zyxxo the", "the zyxxo marker")
      .foreach { q =>
        val got = multi.handleQuery(q, 10).collect()
          .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
        val want = oracle3.handleQuery(q, 10)
        assert(got == want,
          s"3-gen handleQuery drift for '$q'\n got=$got\nwant=$want")
      }
    // the gen-3-only phrase really did serve from the phrase tier
    val res = multi.handleQuery("zyxxo qwfpo", 10).collect()
    assert(res.nonEmpty && res.forall(_.getInt(2) == 0),
      "gen-3-only phrase must hit tier 0 exclusively")
  }

  test("compaction produces a single index identical to a full rebuild") {
    val out = tmpDir("graft-compact")
    val meta = Compactor.compact(spark, root, out, lemmas, conf)
    assert(meta.n_docs == oracle.nDocs)
    val eng = new QueryEngine(spark, out, lemmas,
      EngineConfig(wandMinPostings = 0L, localMaxPostings = 0L))
    Seq("alba corba", "the of", "kelba the sorro").foreach { q =>
      val got = eng.bm25TopK(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val want = oracle.bm25TopK(q, 10)
      assert(got == want, s"compacted mismatch for '$q'\n got=$got\nwant=$want")
    }
    // dictionary df equals oracle df after the merge
    val dict = eng.dictionary.collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Long]("df")).toMap
    oracle.postings.keys.take(50).foreach { t =>
      assert(dict(t) == oracle.df(t), s"df mismatch for '$t' after compaction")
    }
  }

  test("streaming ingest: each micro-batch becomes a queryable generation") {
    import spark.implicits._
    val inDir = tmpDir("graft-stream-in")
    val idxRoot = tmpDir("graft-stream-idx")
    // two files BEFORE the stream starts; AvailableNow drains both
    val batch1 = allTurns.filter(_.conv_id < "conv-00000020")
    val batch2 = allTurns.filterNot(_.conv_id < "conv-00000020")
    spark.createDataset(batch1).coalesce(1).write.mode("append").parquet(inDir)
    spark.createDataset(batch2).coalesce(1).write.mode("append").parquet(inDir)
    val q = graft.streaming.StreamIngest.start(spark, inDir, idxRoot, lemmas, conf)
    q.awaitTermination(120000)
    assert(Generations.genDirs(idxRoot).nonEmpty)
    assert(Generations.totalDocs(idxRoot) == oracle.nDocs)
    val multi = new MultiGenEngine(spark, idxRoot, lemmas)
    val got = multi.bm25TopK("alba corba", 5).collect().map(_.getLong(0)).toSeq
    assert(got == oracle.bm25TopK("alba corba", 5).map(_._1))
  }
}
