package graft.index

import graft.SparkSpecBase
import graft.core.Tokenizer
import graft.corpus.Transcripts
import graft.query.{EngineConfig, QueryEngine}

/** Bigram indexing (reference tokenizer.rs:211-217, commented intent):
  * the invariant is that the doc set of an indexed bigram term equals the
  * positional phrase match of its two words.
  */
class BigramSpec extends SparkSpecBase {

  private val lemmas = Transcripts.lemmas

  private lazy val (engine, turns) = {
    val dir = tmpDir("graft-bigram")
    val local = Transcripts.generateLocal(25L)
    import spark.implicits._
    new IndexBuilder(spark, lemmas,
      IndexConf(numParts = 4, indexBigrams = true))
      .build(spark.createDataset(local), dir)
    (new QueryEngine(spark, dir, lemmas), local)
  }

  test("bigram token positions follow the position-1 rule") {
    val toks = Tokenizer.bigrams("big --- data systems", Map.empty)
    assert(toks == Seq(Tokenizer.Token(1, "big data"),
      Tokenizer.Token(2, "data systems")))
  }

  test("fuzzy lookup never surfaces bigram pseudo-terms") {
    // the bigram-indexed dictionary holds space-joined terms; a fuzzy
    // probe whose deletion neighborhood brushes one ("a b" at d >=
    // 1 from "ab") must not return it — bigrams are composition
    // artifacts, not words, and the scalar oracle (unigram postings
    // keys) would diverge
    val bg = turns.flatMap(t => Tokenizer.bigrams(t.text, lemmas))
      .groupBy(_.term).maxBy(_._2.size)._1
    val fused = bg.replace(" ", "") // distance |1| from the bigram
    Seq(1, 2).foreach { d =>
      val got = engine.fuzzyTerms(fused, d).collect().map(_.getString(0))
      assert(got.forall(!_.contains(" ")),
        s"bigram pseudo-term leaked into fuzzy results at d=$d: " +
          got.filter(_.contains(" ")).mkString(","))
    }
  }

  test("positional phrase match is a subset of the indexed bigram docs") {
    // Reference semantics differ deliberately: a bigram joins consecutive
    // SURVIVING lemmas (skipping tokens that clean to empty,
    // tokenizer.rs:159-164), while a phrase requires consecutive
    // POSITIONS (positional_intersect/mod.rs:11-35). So phrase ⊆ bigram,
    // with equality except across dropped tokens.
    val sample = turns.flatMap(t => Tokenizer.bigrams(t.text, lemmas))
      .groupBy(_.term).toSeq.sortBy(-_._2.size).take(3).map(_._1)
    assert(sample.nonEmpty)
    sample.foreach { bg =>
      val Array(w1, w2) = bg.split(" ", 2)
      val viaBigram = engine.conjunctive(Seq(bg)).collect().map(_.getLong(0)).toSet
      val viaPhrase = engine.phraseMatch(Seq(w1, w2)).collect().map(_.getLong(0)).toSet
      assert(viaPhrase.subsetOf(viaBigram), s"bigram '$bg' missing phrase docs")
      assert(viaPhrase.nonEmpty && viaBigram.nonEmpty)
      // every doc in the difference has a dropped token between the words
      val docsByConv = turns.map(t => (t.conv_id, t.turn_idx) -> t.text).toMap
      val mapping = engine.docs.collect()
        .map(r => r.getAs[Long]("doc_id") -> ((r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx")))).toMap
      (viaBigram -- viaPhrase).take(3).foreach { d =>
        val text = docsByConv(mapping(d))
        val toks = Tokenizer.tokenize(text, lemmas)
        val surviving = toks.map(_.term)
        val i = surviving.sliding(2).indexWhere(p => p == Seq(w1, w2))
        assert(i >= 0 && toks(i + 1).position - toks(i).position > 1,
          s"doc $d in bigram-only set without a dropped-token gap")
      }
    }
  }

  test("3-tier handleQuery: bigram middle tier rank-identical to scalar oracle") {
    val oracle = new graft.oracle.Oracle(turns, lemmas, indexBigrams = true)
    // queries: the most common surviving-lemma triple (bigram-conj docs
    // strictly contain phrase docs in general) + the top bigram pair
    val triples = turns.flatMap { t =>
      Tokenizer.tokenize(t.text, lemmas).map(_.term)
        .sliding(3).filter(_.size == 3).map(_.mkString(" "))
    }
    val topTriples = triples.groupBy(identity).toSeq
      .sortBy { case (tri, occ) => (-occ.size, tri) }.take(3).map(_._1)
    val topPair = turns.flatMap(t => Tokenizer.bigrams(t.text, lemmas))
      .groupBy(_.term).maxBy(p => (p._2.size, p._1))._1
    // a pair whose indexed-bigram doc set strictly contains its phrase
    // docs (a dropped token sits between the words somewhere): its query
    // MUST produce tier-1 rows
    // (equal-word pairs collapse to a single distinct query term, which
    // short-circuits to the unigram tier — skip them)
    val gapPair = oracle.bigramPostings.keys.toSeq.sorted.iterator
      .map { bg =>
        val Array(w1, w2) = bg.split(" ", 2)
        bg -> (if (w1 == w2) Set.empty[Long]
               else oracle.bigramPostings(bg).map(_._1).toSet --
                 oracle.phraseMatch(Seq(w1, w2)))
      }.find(_._2.nonEmpty)
    assert(gapPair.isDefined, "corpus has no bigram-only (gap) docs")
    var sawBigramTier = false
    (topTriples :+ topPair :+ gapPair.get._1).foreach { q =>
      val want = oracle.handleQuery(q, 50)
      val got = engine.handleQuery(q, 50).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      assert(got == want, s"3-tier mismatch for '$q'\n got=$got\nwant=$want")
      sawBigramTier ||= got.exists(_._3 == 1)
    }
    assert(sawBigramTier, "no test query exercised the bigram tier")
  }

  test("handleQuery stays within its dictionary-probe budget (one probe per term set)") {
    engine.handleQuery("warm up", 3).collect() // lazies resolved un-counted
    QueryEngine.dictProbes.set(0)
    engine.handleQuery("the big join", 10).collect()
    val probes = QueryEngine.dictProbes.get()
    // one probe per term set: unigram scoring, the phrase chain, and the
    // bigram tier (whose single probe serves existence check + bigram
    // BM25 + conjunctive; the round-3 form re-probed it per consumer)
    assert(probes <= 3, s"handleQuery made $probes dictionary probes, budget 3")
  }

  test("handleQuery pruned and exact forms are identical (pruned engages by default)") {
    def run(e: QueryEngine, q: String): Seq[(Long, Double, Int)] =
      e.handleQuery(q, 20).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    // the distributed forms under test
    val prunedE = engine.withConfig(_.copy(localMaxPostings = 0L, handleQueryClaimCap = 100000))
    // force the full-scoring form
    val exactE = prunedE.withConfig(_.copy(handleQueryClaimCap = -1))
    Seq("the big join", "kelba sorro the", "alba the corba").foreach { q =>
      val pruned = run(prunedE, q)
      assert(prunedE.lastHandlePath == "pruned",
        s"default cap should take the pruned form for '$q'")
      val exact = run(exactE, q)
      assert(exactE.lastHandlePath == "exact")
      assert(pruned == exact, s"tier construction drift for '$q'\n " +
        s"pruned=$pruned\n exact=$exact")
    }
  }

  test("handleQuery without indexed bigrams leaves the middle tier empty") {
    // the non-bigram oracle models a non-bigram index: same queries must
    // come back with tiers {0,2} only
    val oracle = new graft.oracle.Oracle(turns, lemmas, indexBigrams = false)
    val q = turns.flatMap(t => Tokenizer.bigrams(t.text, lemmas))
      .groupBy(_.term).maxBy(p => (p._2.size, p._1))._1
    val want = oracle.handleQuery(q, 10)
    assert(want.nonEmpty && want.forall(_._3 != 1))
  }

  test("bigram df in dictionary matches scalar count") {
    val bg = turns.flatMap(t => Tokenizer.bigrams(t.text, lemmas))
      .groupBy(_.term).maxBy(_._2.size)._1
    val docsWith = turns.count(t =>
      Tokenizer.bigrams(t.text, lemmas).exists(_.term == bg))
    val entry = engine.lookupTerms(Seq(bg))
    assert(entry.nonEmpty && entry.head.df == docsWith)
  }

  test("adaptive unclaimed-top-k escalates when every top unigram doc is claimed (exact)") {
    import graft.corpus.Turn
    import graft.query.TieredQuery
    // 60 GAP docs: both query bigrams ("zebra quartz", "quartz nickel")
    // appear but never the full phrase — so the phrase tier is EMPTY
    // (the phrase-fills-k early exit cannot fire) and every claimed doc
    // is bigram-conjunctive. 60 claimed docs exceed the guess floor
    // (TieredQuery.GuessFloor = 50), so at k = 1 the adaptive branch
    // runs with a first guess of 1 + 50 = 51 < 1 + 60. Every disjunctive
    // unigram match is a claimed doc, so that guess finds ZERO unclaimed
    // rows and must escalate to the worst-case top-(k + |claimed|)
    // width — and the final answer must still match the scalar oracle
    // bit-for-bit (tier 2 empty).
    val ts0 = new java.sql.Timestamp(60000000L)
    val custom = (0 until 60).map { i =>
      Turn(f"c$i%03d", 0, "user",
        s"zebra quartz fill$i quartz nickel word$i", "", ts0)
    } :+ Turn("c999", 0, "user", "unrelated filler text", "", ts0)
    val dir = tmpDir("graft-escalate")
    import spark.implicits._
    new IndexBuilder(spark, Map.empty, IndexConf(numParts = 2, indexBigrams = true))
      .build(spark.createDataset(custom), dir)
    // the distributed tier construction under test
    val e = new QueryEngine(spark, dir, Map.empty, EngineConfig(localMaxPostings = 0L))
    val before = TieredQuery.adaptiveEscalations.get()
    val got = e.handleQuery("zebra quartz nickel", 1).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(TieredQuery.adaptiveEscalations.get() == before + 1,
      "all-claimed top slots must trigger the worst-case escalation")
    val want = new graft.oracle.Oracle(custom, Map.empty, indexBigrams = true)
      .handleQuery("zebra quartz nickel", 1)
    assert(got == want, s"escalated path drifts from oracle: got=$got want=$want")
    assert(got.forall(_._3 == 1), "all results must come from the bigram tier")
  }

  test("adaptive unclaimed-top-k skips escalation when the match universe is exhausted") {
    import graft.corpus.Turn
    import graft.query.TieredQuery
    // 51 GAP docs (both bigrams, never the phrase — see the escalation
    // test above), ALL bigram-claimed, and no other doc matches any
    // query unigram: at k = 2 the first adaptive round's
    // topK(width = 2 + 50 = 52) comes back SHORT (51 rows) with zero
    // unclaimed — proof the universe is exhausted, so the worst-case
    // full-width re-run is provably useless and must be skipped (the
    // counter must NOT move).
    val ts0 = new java.sql.Timestamp(60000000L)
    val custom = (0 until 51).map { i =>
      Turn(f"x$i%03d", 0, "user",
        s"zebra quartz fill$i quartz nickel word$i", "", ts0)
    } :+ Turn("x999", 0, "user", "unrelated filler text", "", ts0)
    val dir = tmpDir("graft-exhaust")
    import spark.implicits._
    new IndexBuilder(spark, Map.empty, IndexConf(numParts = 2, indexBigrams = true))
      .build(spark.createDataset(custom), dir)
    // the distributed tier construction under test;
    // guess = k + min(51, max(50, 4k)) = 52 < k + 51 = 53
    val e = new QueryEngine(spark, dir, Map.empty, EngineConfig(localMaxPostings = 0L))
    val before = TieredQuery.adaptiveEscalations.get()
    val got = e.handleQuery("zebra quartz nickel", 2).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    assert(TieredQuery.adaptiveEscalations.get() == before,
      "exhausted match universe must not trigger the full-width escalation")
    val want = new graft.oracle.Oracle(custom, Map.empty, indexBigrams = true)
      .handleQuery("zebra quartz nickel", 2)
    assert(got == want, s"exhausted path drifts from oracle: got=$got want=$want")
    assert(got.forall(_._3 == 1), "all results must come from the bigram tier")
  }

  test("phrase-fills-k early exit: tier-0-only answer, identical to the exact form") {
    import graft.corpus.Turn
    import graft.query.TieredQuery
    // 8 docs carry the exact phrase "zebra quartz" (plus noise docs with
    // the unigrams scattered): any k <= 8 must be answered by the phrase
    // tier alone. The early exit must (a) fire (counter moves), (b) stay
    // bit-identical to the exact (claimCap = -1) construction, and
    // (c) return only tier-0 rows.
    val ts0 = new java.sql.Timestamp(60000000L)
    val custom = (0 until 8).map { i =>
      Turn(f"p$i%03d", 0, "user", s"zebra quartz fill$i word$i", "", ts0)
    } ++ (0 until 5).map { i =>
      Turn(f"n$i%03d", 0, "user", s"zebra fill$i quartz tail", "", ts0)
    }
    val dir = tmpDir("graft-phrasefill")
    import spark.implicits._
    new IndexBuilder(spark, Map.empty, IndexConf(numParts = 2, indexBigrams = true))
      .build(spark.createDataset(custom), dir)
    // the distributed tier construction under test
    val e = new QueryEngine(spark, dir, Map.empty, EngineConfig(localMaxPostings = 0L))
    val exactE = e.withConfig(_.copy(handleQueryClaimCap = -1)) // force the exact form
    def run(k: Int, eng: QueryEngine = e): Seq[(Long, Double, Int)] =
      eng.handleQuery("zebra quartz", k).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    Seq(1, 4, 8).foreach { k =>
      val before = TieredQuery.phraseFillExits.get()
      val fast = run(k)
      assert(TieredQuery.phraseFillExits.get() == before + 1,
        s"phrase tier holds 8 >= $k docs: the early exit must fire")
      assert(fast.forall(_._3 == 0), s"k=$k: all rows must be tier 0")
      val exact = run(k, exactE)
      assert(exactE.lastHandlePath == "exact")
      assert(fast == exact, s"k=$k early exit drifts from exact:\n " +
        s"fast=$fast\n exact=$exact")
    }
    // k above the phrase-doc count: the exit must NOT fire (tiers 1-2
    // are needed to fill k) and the full construction must still agree
    // with the exact form.
    val before = TieredQuery.phraseFillExits.get()
    val full = run(10)
    assert(TieredQuery.phraseFillExits.get() == before,
      "k=10 > 8 phrase docs: the early exit must not fire")
    val exact = run(10, exactE)
    assert(full == exact, s"k=10 full construction drifts from exact:\n " +
      s"full=$full\n exact=$exact")
  }
}
