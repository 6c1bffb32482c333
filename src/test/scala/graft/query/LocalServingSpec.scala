package graft.query

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpecBase
import graft.core.Tokenizer
import graft.corpus.{Transcripts, Turn}
import graft.index.{IndexBuilder, IndexConf}

/** The driver-local serving gate: under `localMaxPostings`, handleQuery,
  * phraseMatch, searchWithSnippets, bm25ScoresFiltered/bm25TopKFiltered
  * and (with the dictionary warmed into the driver) suggest answer from
  * the terms' chunk rows and the docs' text: held on the driver under
  * the resident budget (the default), or collected per call with that
  * budget shut. The contract under test: every answer, on both
  * sides of the resident budget, is bit-identical to the distributed
  * plans (`localMaxPostings = 0`), each kind stays within its Spark-job
  * budget, and one posting above the gate the distributed plan runs.
  */
class LocalServingSpec extends SparkSpecBase with JobCounting {

  private val lemmas = Transcripts.lemmas
  // salted stopwords (df > 300) put several chunks per term on the
  // local decode path
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300,
    nSalts = 4, indexBigrams = true)
  private lazy val allTurns = Transcripts.generateLocal(40L)

  private lazy val vocab: Vector[String] =
    allTurns.take(80).flatMap(t => Tokenizer.tokenize(t.text, lemmas).map(_.term))
      .distinct.sorted.toVector

  private def build(turns: Seq[Turn], lem: Map[String, String], prefix: String,
      c: IndexConf): String = {
    val dir = tmpDir(prefix)
    import spark.implicits._
    new IndexBuilder(spark, lem, c).build(spark.createDataset(turns), dir)
    dir
  }

  private lazy val dir = build(allTurns, lemmas, "graft-local-serving", conf)

  /** The serving configuration: default gate, dictionary in the driver. */
  private def localEngine(root: String, lem: Map[String, String]): QueryEngine = {
    val e = new QueryEngine(spark, root, lem)
    assert(e.warmDictionaryLocal())
    e
  }

  /** The distributed plans: gate off, Parquet dictionary probes. */
  private def distEngine(root: String, lem: Map[String, String]): QueryEngine = {
    new QueryEngine(spark, root, lem, EngineConfig(localMaxPostings = 0L))
  }

  private lazy val local = localEngine(dir, lemmas)
  private lazy val collected = local.withResidentBudget(0L)
  private lazy val dist = distEngine(dir, lemmas)

  // ---------------------------------------------------- canonical answers

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def tiered(df: DataFrame): Seq[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), bits(r.getDouble(1)), r.getInt(2))).toSeq

  private def docSet(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).sorted.toSeq

  private def page(df: DataFrame): Seq[(Long, Long, Option[Any], Option[Any])] =
    df.collect().map(r => (r.getLong(0), bits(r.getDouble(1)),
      Option(r.get(2)), Option(r.get(3)))).toSeq

  private def ranked(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), bits(r.getDouble(1)))).toSeq

  private def byDoc(df: DataFrame): Seq[(Long, Long)] = ranked(df).sorted

  private def schemaOf(df: DataFrame): Seq[(String, String)] =
    df.schema.map(f => (f.name, f.dataType.simpleString))

  private def phraseSeq(q: String, lem: Map[String, String]): Seq[String] =
    Tokenizer.tokenizeQuery(q, lem).unigrams.map(_.term)

  /** Every kind, local vs distributed, bit for bit. */
  private def assertParity(l: QueryEngine, d: QueryEngine, lem: Map[String, String],
      q: String, k: Int, window: Int, pred: Column): Unit = {
    val hl = l.handleQuery(q, k)
    assert(l.lastHandlePath == "local", s"'$q' did not take the local path")
    val hd = d.handleQuery(q, k)
    assert(d.lastHandlePath != "local")
    assert(schemaOf(hl) == schemaOf(hd), s"handleQuery schema drift for '$q'")
    assert(tiered(hl) == tiered(hd), s"handleQuery drift for '$q' k=$k")
    val seq = phraseSeq(q, lem)
    if (seq.nonEmpty)
      assert(docSet(l.phraseMatch(seq)) == docSet(d.phraseMatch(seq)),
        s"phraseMatch drift for $seq")
    val pl = l.searchWithSnippets(q, k, window)
    val pd = d.searchWithSnippets(q, k, window)
    assert(schemaOf(pl) == schemaOf(pd), s"searchWithSnippets schema drift for '$q'")
    assert(page(pl) == page(pd), s"searchWithSnippets drift for '$q' k=$k w=$window")
    assert(ranked(l.bm25TopKFiltered(q, k, pred)) == ranked(d.bm25TopKFiltered(q, k, pred)),
      s"bm25TopKFiltered drift for '$q' k=$k pred=$pred")
    val terms = l.queryTerms(q)
    assert(byDoc(l.bm25ScoresFiltered(terms, pred)) == byDoc(d.bm25ScoresFiltered(terms, pred)),
      s"bm25ScoresFiltered drift for '$q' pred=$pred")
  }

  // ---------------------------------------------------------------- specs

  /** Queries that hit every tier: consecutive corpus tokens (phrase
    * docs), word pairs a dropped token separates somewhere (their
    * bigram matches where the phrase does not: tier 1), plus the seeded
    * generator's mix of in-domain words, typos and absent junk.
    */
  private lazy val queries: Seq[String] = {
    val rnd = new scala.util.Random(20261017L)
    val fromText = allTurns.filter(_.text.split(" ").length > 6).take(12).map { t =>
      val toks = Tokenizer.tokenize(t.text, lemmas).map(_.term)
      val from = rnd.nextInt(math.max(1, toks.size - 4))
      toks.slice(from, from + 2 + rnd.nextInt(3)).mkString(" ")
    }
    val gapPairs = allTurns.iterator.flatMap { t =>
      Tokenizer.tokenize(t.text, lemmas).sliding(2).collect {
        case Seq(a, b) if b.position - a.position > 1 && a.term != b.term =>
          s"${a.term} ${b.term}"
      }
    }.distinct.take(3).toSeq
    fromText ++ gapPairs ++ RandomQueries.queries(vocab, rnd, 24)
  }

  test("randomized walk: every kind bit-identical to the distributed plans") {
    val rnd = new scala.util.Random(7L)
    var tiers = Set.empty[Int]
    queries.foreach { q =>
      val k = 1 + rnd.nextInt(12)
      val m = 2 + rnd.nextInt(3)
      val pred = col("doc_len") % m === rnd.nextInt(m)
      Seq(local, collected).foreach(assertParity(_, dist, lemmas, q, k, 1 + rnd.nextInt(5), pred))
      tiers ++= tiered(local.handleQuery(q, 50)).map(_._3)
    }
    assert(tiers == Set(0, 1, 2), s"the walk reached tiers $tiers only")
  }

  private val ts0 = new Timestamp(0L)
  private lazy val miniTurns = Seq(
    "to be or not at all zz qq",
    "to be or not to be that is the question",
    "target aa bb cc dd ee",
    "aa bb cc dd ee ff target",
    "aa target bb",
    "target end ",
    "lead  target  gap").zipWithIndex.map { case (text, i) =>
    Turn(f"c$i%03d", 0, if (i % 2 == 0) "user" else "assistant", text, "", ts0)
  }
  private lazy val miniDir = build(miniTurns, Map.empty, "graft-local-mini",
    IndexConf(numParts = 2, indexBigrams = true))

  test("edge cases: duplicate-term phrase, absent and tokenless queries, clamps, empty filters, large k") {
    val l = localEngine(miniDir, Map.empty)
    val d = distEngine(miniDir, Map.empty)
    val all = lit(true)
    for (e <- Seq(l, l.withResidentBudget(0L));
        (q, k, w, pred) <- Seq(
      ("to be or not to be", 10, 3, all), // duplicate terms keep positions
      ("zzjunk target", 10, 3, all), // a term absent from the dictionary
      ("target", 10, 3, all), // single term; "aa target bb" clamps both ends
      ("target end", 10, 1, all), // trailing empty token kept by the split
      ("target aa", 1000, 2, all), // k larger than the matches
      ("target aa", 1000, 2, col("role") === "user"),
      ("target", 10, 3, lit(false)), // a filter that matches no doc
      ("to be", 5, 2, col("doc_len") < 0)
    )) assertParity(e, d, Map.empty, q, k, w, pred)

    val tiers = tiered(l.handleQuery("to be or not to be", 10)).map(r => r._1 -> r._3).toMap
    assert(tiers(2L) == 0 && tiers(1L) == 2, s"phrase tier must hold the full sequence: $tiers")
    val snippets = l.searchWithSnippets("target", 10, 3).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(snippets(5L) == "aa target bb", s"both-ends clamp: ${snippets(5L)}")
    assert(snippets(6L) == "target end ", s"trailing empty token: '${snippets(6L)}'")

    // tokenless: no tokens, nothing decoded, the 3-column contract kept
    Seq("", "... !!! ???").foreach { q =>
      assert(schemaOf(l.handleQuery(q, 5)) == schemaOf(d.handleQuery(q, 5)))
      assert(l.handleQuery(q, 5).isEmpty)
      assert(page(l.searchWithSnippets(q, 5)) == page(d.searchWithSnippets(q, 5)))
      assert(schemaOf(l.searchWithSnippets(q, 5)) == schemaOf(d.searchWithSnippets(q, 5)))
      assert(ranked(l.bm25TopKFiltered(q, 5, all)).isEmpty)
    }
  }

  test("job budget per kind under the gate") {
    val q = queries.head
    assert(phraseSeq(q, lemmas).size >= 2)
    val pred = col("role") === "user"
    val seq = phraseSeq(q, lemmas)
    // resident postings and docs: no job; collected per call: one for
    // the chunk rows, and one more for the text of snippets and
    // filtered search
    for ((e, chunkJobs, textJobs) <- Seq((local, 0, 0), (collected, 1, 1))) {
      // first calls resolve lazy state (file listings, codegen, the
      // resident load) uncounted
      e.handleQuery(q, 10).collect()
      e.searchWithSnippets(q, 10).collect()
      e.bm25TopKFiltered(q, 10, pred).collect()
      e.phraseMatch(seq).collect()
      e.suggest("t", 10).collect()
      val hq = jobsOf(e.handleQuery(q, 10).collect())
      assert(e.lastHandlePath == "local")
      assert(hq == chunkJobs, s"handleQuery ran $hq jobs")
      val pm = jobsOf(e.phraseMatch(seq).collect())
      assert(pm == chunkJobs, s"phraseMatch ran $pm jobs")
      val sn = jobsOf(e.searchWithSnippets(q, 10).collect())
      assert(sn == chunkJobs + textJobs, s"searchWithSnippets ran $sn jobs")
      val fl = jobsOf(e.bm25TopKFiltered(q, 10, pred).collect())
      assert(fl == chunkJobs + textJobs, s"bm25TopKFiltered ran $fl jobs")
      val sg = jobsOf(e.suggest("t", 10).collect())
      assert(sg == 0, s"suggest with the driver dictionary ran $sg jobs")
    }
  }

  test("one posting above the gate the distributed plans run, with the same answers") {
    val q = queries.head
    val parsed = Tokenizer.tokenizeQuery(q, lemmas)
    val uni = local.lookupTerms(parsed.unigrams.map(_.term).distinct)
    val bigrams = parsed.bigrams.map(_.term).distinct
    val bi = local.lookupTerms(bigrams)
    val sumDf = uni.map(_.df).sum +
      (if (bigrams.nonEmpty && bi.size == bigrams.size) bi.map(_.df).sum else 0L)
    val seq = phraseSeq(q, lemmas)
    val e = localEngine(dir, lemmas)
    val atGateE = e.withConfig(_.copy(localMaxPostings = sumDf)) // at the gate: local
    val atGate = tiered(atGateE.handleQuery(q, 10))
    assert(atGateE.lastHandlePath == "local")
    assert(jobsOf(atGateE.handleQuery(q, 10).collect()) <= 1)
    // one posting above it: distributed
    val aboveE = e.withConfig(_.copy(localMaxPostings = sumDf - 1))
    val above = tiered(aboveE.handleQuery(q, 10))
    assert(aboveE.lastHandlePath == "pruned" || aboveE.lastHandlePath == "exact",
      s"path above the gate: ${aboveE.lastHandlePath}")
    assert(jobsOf(aboveE.handleQuery(q, 10).collect()) > 1)
    assert(above == atGate)
    // phraseMatch decodes the unigrams only
    val phraseE = e.withConfig(_.copy(localMaxPostings = uni.map(_.df).sum - 1))
    val phraseAbove = docSet(phraseE.phraseMatch(seq))
    assert(jobsOf(phraseE.phraseMatch(seq).collect()) > 1)
    assert(phraseAbove == docSet(local.phraseMatch(seq)))
  }

  test("suggest from the driver dictionary equals the Parquet prefix scan") {
    // UnicodeSpec's terms: U+E000 (3-byte UTF-8) against U+1F600 (a
    // surrogate pair in UTF-16, 4 bytes in UTF-8) splits UTF-16 and
    // UTF-8 order
    val pua = "\uE000"
    val grin = "\uD83D\uDE00"
    val words = Vector("alpha", s"${pua}ka", s"${grin}grin", "zebra", "\u00FCmlaut",
      "\u4E2D\u6587\u8BCD", "\u00DFe", s"${grin}grin", s"${pua}ka", "ka", "kaa")
    val uniTurns = (0 until 40).map { i =>
      val text = (0 until 8).map(j => words((i * 3 + j * 5) % words.size)).mkString(" ")
      Turn(f"conv-$i%08d", 0, "user", text, "", ts0)
    }
    val uniDir = build(uniTurns, Map.empty, "graft-local-suggest",
      IndexConf(numParts = 4, indexBigrams = true))
    def rows(df: DataFrame): Seq[(String, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Seq((dir, lemmas, Seq("", "t", "th", "the ", "da", "zzq")),
        (uniDir, Map.empty[String, String],
          Seq("", "k", "ka", "ka ", pua, s"${pua}k", grin, s"${grin}g", "\u00FC",
            "\u4E2D", "\u00DF", "z")))
      .foreach { case (root, lem, prefixes) =>
        val l = localEngine(root, lem)
        val d = distEngine(root, lem)
        assert(!d.dictLocalInstalled)
        prefixes.foreach { p =>
          Seq(0, 1, 3, 10, Int.MaxValue).foreach { n =>
            val want = rows(d.suggest(p, n))
            assert(rows(l.suggest(p, n)) == want, s"suggest drift: prefix='$p' n=$n")
          }
        }
        // bigram terms are suggestable too ("the " prefixes them only)
        if (root == dir) assert(rows(l.suggest("the ", 5)).nonEmpty)
      }
  }
}
