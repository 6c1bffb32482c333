package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{ChunkCodec, Tokenizer}
import graft.index.{Bm25, DictRow, IndexBuilder, IndexMeta, IndexPaths}

/** Decoded posting for query-side scoring. */
final case class ScoredPosting(term_id: Long, doc_id: Long, tf: Int, dl: Int)

final case class PositionedPosting(term_id: Long, doc_id: Long, positions: Seq[Int])

/** Query engine over a built index (SURVEY.md §3.2/§3.3).
  *
  * Spark-first shapes:
  *  - term lookup: dictionary scan filtered to the (few) query terms,
  *    collected to the driver — the reference's in-memory dict probe
  *    (src/in_memory_dict/map_in_memory_dict.rs);
  *  - postings fetch: Parquet scan of the `postings` table pruned by
  *    `term_id IN (...)` — the table is range-partitioned and sorted by
  *    (term_id, chunk_seq), so row-group min/max stats skip everything
  *    else (the reference's block_id seeks, src/indexer/block.rs:143-169);
  *  - chunk skipping: explicit `max_doc_id`/`max_impact` column predicates
  *    (the reference's per-chunk skip pointer, src/indexer/chunk.rs:9, plus
  *    the north rule's block-max WAND);
  *  - top-k: orderBy(score desc, doc_id asc).limit(k) which Spark plans as
  *    TakeOrderedAndProject — a distributed bounded heap (the reference's
  *    BinaryHeap, src/scoring/mod.rs:6-31, with a deterministic tie-break).
  */
class QueryEngine(spark: SparkSession, root: String,
    lemmas: Map[String, String] = Map.empty) {
  import spark.implicits._

  private val paths = IndexPaths(root)
  val meta: IndexMeta = IndexBuilder.readMeta(root)
  val dictionary: DataFrame = spark.read.parquet(paths.dictionary)
  // recursive: postings live in per-term-range subdirs (stage-2 resume
  // granularity); ranges are disjoint in term_id, so pushed term_id
  // predicates prune whole range dirs' row groups exactly as before
  val postings: DataFrame = spark.read
    .option("recursiveFileLookup", "true").parquet(paths.postings)
  val docs: DataFrame = spark.read.parquet(paths.docs)

  /** Driver-side lookup of the query terms' dictionary entries — a
    * handful of rows. Served from the [[warmDictionaryLocal]] hash map
    * when installed (zero Spark jobs), else a pushed Parquet probe.
    * [[QueryEngine.dictProbes]] counts LOGICAL probes (one per term
    * set) on both paths, so probe-budget tests pin the same contract
    * regardless of serving mode.
    */
  def lookupTerms(terms: Seq[String]): Seq[DictRow] =
    if (terms.isEmpty) Nil
    else {
      QueryEngine.dictProbes.incrementAndGet() // test hook (probe budget)
      dictLocalMap match {
        case Some(m) =>
          terms.distinct.flatMap(t => Option(m.get(t))).sortBy(_.term_id)
        case None =>
          dictionary.filter($"term".isin(terms.distinct: _*))
            .as[DictRow].collect().toSeq.sortBy(_.term_id)
      }
    }

  def queryTerms(query: String): Seq[String] =
    Tokenizer.tokenizeQuery(query, lemmas).unigrams.map(_.term).distinct

  // ----------------------------------------------------------- decoding

  /** Chunk rows of the given term_ids (optionally chunk-pruned by an
    * extra predicate) decoded into (term_id, doc_id, tf, dl) postings.
    */
  private def decodedPostings(termIds: Seq[Long],
      chunkFilter: Column = lit(true)): Dataset[ScoredPosting] = {
    postings
      .filter($"term_id".isin(termIds: _*) && chunkFilter)
      .select($"term_id", $"n_postings", $"doc_gaps", $"tfs", $"dls")
      .as[(Long, Int, Array[Byte], Seq[Int], Seq[Int])]
      .flatMap { case (termId, n, gaps, tfs, dls) =>
        val ids = ChunkCodec.decodeDocGaps(gaps, n)
        Iterator.tabulate(n)(i => ScoredPosting(termId, ids(i), tfs(i), dls(i)))
      }
  }

  /** Public decoded-postings accessor (MultiGenEngine, diagnostics). */
  def scoredPostings(termIds: Seq[Long]): Dataset[ScoredPosting] =
    decodedPostings(termIds)

  /** Postings with positions decoded (for phrase / proximity). */
  def positionedPostings(termIds: Seq[Long]): Dataset[PositionedPosting] = {
    postings
      .filter($"term_id".isin(termIds: _*))
      .select($"term_id", $"n_postings", $"doc_gaps", $"pos_blob")
      .as[(Long, Int, Array[Byte], Array[Byte])]
      .flatMap { case (termId, n, gaps, posBlob) =>
        val ids = ChunkCodec.decodeDocGaps(gaps, n)
        val poss = ChunkCodec.decodePositions(posBlob, n)
        Iterator.tabulate(n)(i => PositionedPosting(termId, ids(i), poss(i).toSeq))
      }
  }

  /** Doc_ids only — decodes doc_gaps, never touches tfs/dls/pos_blob
    * (Parquet column pruning keeps those columns unread).
    */
  private def postingDocIds(termId: Long): DataFrame = {
    postings
      .filter($"term_id" === termId)
      .select($"n_postings", $"doc_gaps")
      .as[(Int, Array[Byte])]
      .flatMap { case (n, gaps) => ChunkCodec.decodeDocGaps(gaps, n).iterator }
      .toDF("doc_id")
  }

  /** Positioned postings for one term, restricted to a sorted candidate
    * doc_id array: a metadata-only pre-pass finds the chunks whose doc
    * range contains a candidate (no pos_blob bytes read for the rest —
    * for a stopword in a phrase query this skips ~all of its positional
    * data), then decoded postings are filtered to candidates.
    */
  private def positionedForCandidates(termId: Long,
      cand: Array[Long]): Dataset[PositionedPosting] =
    positionedForCandidates(termId, spark.sparkContext.broadcast(cand))

  /** Overload taking an ALREADY-broadcast candidate array: a T-term
    * phrase calls this once per term, and re-broadcasting the identical
    * (up to ~16 MB) sorted array per call shipped T duplicate copies
    * per query and left them all for the ContextCleaner.
    */
  private def positionedForCandidates(termId: Long,
      bcCand: org.apache.spark.broadcast.Broadcast[Array[Long]]): Dataset[PositionedPosting] = {
    val survivors = postings
      .filter($"term_id" === termId)
      .select($"chunk_seq", $"min_doc_id", $"max_doc_id")
      .as[(Long, Long, Long)]
      .filter(c => QueryEngine.rangeHasCandidate(c._2, c._3, bcCand.value))
      .select($"chunk_seq").as[Long].collect()
    val base = postings.filter($"term_id" === termId)
    val pruned =
      if (survivors.length <= chunkInMaxLiterals)
        base.filter($"chunk_seq".isin(survivors.toSeq: _*))
      else {
        val survDf = survivors.toSeq.toDF("chunk_seq")
        base.join(broadcast(survDf), Seq("chunk_seq"), "left_semi")
      }
    pruned
      .select($"term_id", $"min_doc_id", $"max_doc_id", $"n_postings",
        $"doc_gaps", $"pos_blob")
      .as[(Long, Long, Long, Int, Array[Byte], Array[Byte])]
      .filter(c => QueryEngine.rangeHasCandidate(c._2, c._3, bcCand.value))
      .flatMap { case (tid, _, _, n, gaps, posBlob) =>
        val ids = ChunkCodec.decodeDocGaps(gaps, n)
        val cd = bcCand.value
        val poss = ChunkCodec.decodePositions(posBlob, n)
        Iterator.tabulate(n)(i => i)
          .filter(i => java.util.Arrays.binarySearch(cd, ids(i)) >= 0)
          .map(i => PositionedPosting(tid, ids(i), poss(i).toSeq))
      }
  }

  // -------------------------------------------------------------- scoring

  /** Exact BM25 scores for the given dictionary entries: per-doc sum in
    * FIXED term_id order (sort_array over collected (term_id, impact)
    * structs) so scores are bit-identical at any parallelism
    * (SURVEY.md §7.3(2)).
    */
  private def exactScores(entries: Seq[DictRow],
      chunkFilter: Column = lit(true),
      restrict: Option[DataFrame] = None): DataFrame = {
    val avgdl = meta.avgdl
    val k1 = meta.k1
    val b = meta.b
    val idfById = entries.map(e => e.term_id -> e.idf).toMap
    val bcIdf = spark.sparkContext.broadcast(idfById)
    val impacts = decodedPostings(entries.map(_.term_id), chunkFilter)
      .map(p => (p.doc_id, p.term_id,
        Bm25.impact(bcIdf.value(p.term_id), p.tf, p.dl, avgdl, k1, b)))
      .toDF("doc_id", "term_id", "impact")
    // restrict (filtered search, broad-filter path): left-semi BEFORE
    // the fold — both the join and the groupBy hash by doc_id, so the
    // join's exchange is reused by the aggregation (postings shuffle
    // once); excluded docs never enter the fold's state. No broadcast
    // hint: AQE broadcasts the allowed side iff its runtime size fits.
    restrict.fold(impacts)(r => impacts.join(r, Seq("doc_id"), "left_semi"))
      .groupBy($"doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct($"term_id", $"impact"))),
        lit(0.0),
        (acc, x) => acc + x.getField("impact")).as("score"))
  }

  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy($"score".desc, $"doc_id".asc).limit(k)

  /** Cache the dictionary — always safe: the lexicon is orders of
    * magnitude smaller than the corpus (~10^8 rows at 100 TB) and every
    * query path probes it. This is the half of warming a serving
    * deployment should copy unconditionally.
    */
  def warmDictionary(): this.type = {
    dictionary.cache().count()
    this
  }

  /** Lexicon-row cap for [[warmDictionaryLocal]] — gated on
    * `meta.n_terms` (no job runs to decide). DRIVER SIZING (round-5
    * verdict finding #5): a resident DictRow costs ~(2 x term chars +
    * 40 B fields + ~64 B String/entry overhead) ≈ 120-150 B for the
    * 10-30-char terms natural-language lexicons produce, so the 4M
    * default budgets ~500-600 MB of driver heap — sized for this
    * rig's 8 GB driver; set ~n_terms x 150 B <= 5-10% of driver heap
    * when deploying (a standard 8-16 GB production driver keeps the
    * default; a 2 GB driver should lower it to ~1M). The gate is a
    * row count rather than bytes because the meta carries no
    * term-length statistic — a corpus with pathological multi-KB
    * "terms" (binary spill, no tokenizer cleaning) underestimates, so
    * lower the cap there. A 100 TB corpus lexicon (~10^8 terms) fails
    * the gate and lookups stay distributed pushed probes.
    */
  var dictLocalCap: Long = 4000000L

  private var dictLocalMap: Option[java.util.HashMap[String, DictRow]] = None

  /** Whether [[warmDictionaryLocal]] installed the driver hash map. */
  def dictLocalInstalled: Boolean = dictLocalMap.isDefined

  /** Opt-in serving upgrade: when the lexicon fits under
    * [[dictLocalCap]], materialize the dictionary as a driver-side hash
    * map so every [[lookupTerms]] becomes a hash probe instead of a
    * Spark job. Per-query job-scheduling overhead from sequential
    * dictionary probes is the dominant share of multi-generation
    * serving latency (one probe PER GENERATION per term set — BENCH.md
    * round 5 fan-out anatomy), and this removes it entirely. Above the
    * cap it falls back to [[warmDictionary]] (cached distributed
    * probes) so callers can use this method unconditionally. Returns
    * whether the local map was installed.
    */
  def warmDictionaryLocal(): Boolean = {
    if (dictLocalMap.isDefined) return true
    if (meta.n_terms > dictLocalCap) { warmDictionary(); return false }
    val m = new java.util.HashMap[String, DictRow](
      math.max(16, (meta.n_terms * 2).toInt))
    dictionary.as[DictRow].collect().foreach(r => m.put(r.term, r))
    dictLocalMap = Some(m)
    true
  }

  /** OPT-IN postings cache, for bench/small-corpus serving ONLY: at full
    * scale the postings table does not fit in cluster memory — serving
    * relies on the (term_id, chunk_seq) range layout + Parquet row-group
    * pruning instead, which [[warmDictionary]] leaves untouched. Split
    * from dictionary warming (round-4 verdict) precisely so the
    * example nobody should copy at 100 TB is not the default.
    */
  def cachePostings(): this.type = {
    postings.cache().count()
    this
  }

  /** Below this many total postings across the query's terms, block-max
    * pruning costs more Spark jobs than it saves — score directly. WAND
    * engages for stopword-scale terms, exactly where it pays off.
    */
  var wandMinPostings: Long = 100000L

  /** The driver-local gate: when the total df of every term a call
    * decodes (unigrams and bigrams together) is at most this, the call
    * collects those terms' (term_id-pruned) chunk rows in ONE Spark job
    * and answers on the driver through [[LocalServing]] — the exact
    * same formulas, fold order and tie-breaks, so results are
    * bit-identical (LocalServingSpec). It covers `bm25TopK`,
    * `handleQuery`, `phraseMatch`, `searchWithSnippets` (plus one
    * pushed `doc_id IN` job for the result text) and
    * `bm25ScoresFiltered` / `bm25TopKFiltered` (plus one pushed job
    * that runs the predicate over the docs those postings hold). Driver
    * memory is bounded by this many postings; the positional kinds (phrase, tiered, snippets) also
    * ship `pos_blob`, whose size grows with the collected terms' cf.
    * 0 disables: every call then runs its distributed plan.
    */
  var localMaxPostings: Long = 20000L

  private def servesLocally(entries: Seq[DictRow]): Boolean =
    localMaxPostings > 0 && entries.iterator.map(_.df).sum <= localMaxPostings

  /** ONE job: the chunk rows of `termIds`, decoded on the driver.
    * `pos_blob` is read only for `posTermIds` (not at all when empty).
    */
  private def localPostings(termIds: Seq[Long],
      posTermIds: Set[Long] = Set.empty): Map[Long, TermPostings] =
    if (termIds.isEmpty) Map.empty
    else {
      val pos =
        if (posTermIds.isEmpty) lit(null).cast("binary")
        else if (termIds.forall(posTermIds)) $"pos_blob"
        else when($"term_id".isin(posTermIds.toSeq: _*), $"pos_blob")
      LocalServing.decode(postings
        .filter($"term_id".isin(termIds.distinct: _*))
        .select($"term_id", $"n_postings", $"doc_gaps", $"tfs", $"dls",
          pos.as("pos_blob"))
        .as[ChunkRow].collect().toSeq)
    }

  /** Above this many surviving chunks, chunk pruning switches from a
    * literal `chunk_seq IN (...)` pushed filter to a broadcast LEFT SEMI
    * join on (term_id, chunk_seq) — a 100k-literal filter makes Parquet
    * row-group stats evaluation itself the bottleneck on a wide cluster.
    */
  var chunkInMaxLiterals: Int = 1000

  /** Above this fraction of surviving chunks, the pruning join is skipped
    * entirely (read everything; rely on the per-posting candidate
    * filter). Tests raise it past 1.0 to force the join form at small
    * corpus sizes where candidates are always chunk-dense.
    */
  var chunkPruneDenseFraction: Double = 0.9

  /** Max tier-1 WAND candidates worth broadcasting for chunk skipping;
    * above it the exact unpruned plan is cheaper. The guard is a
    * `limit(cap + 1).collect()` — a CollectLimit whose driver transfer
    * is BOUNDED BY THE CAP (cap+1 rows, ~tens of MB at the default),
    * never the candidate relation's full size: an essential mid-df term
    * (df ~ 10^9 at 10^12 docs) ships at most cap+1 of its rows before
    * the fallback fires, and the success path collects the same rows
    * anyway (routing + materialization in one job, vs the old separate
    * distributed count + collect's two). Raising the knob raises the
    * driver bill linearly — it is a driver-memory budget, not a free
    * threshold. Tests lower it to force the fallback.
    */
  var wandCandidateCap: Long = 2000000L

  /** Max chunk-metadata rows the candidate-pruning pre-pass may collect
    * on the driver. The bound is checked with DRIVER-SIDE arithmetic
    * (min(total non-ess chunks, candidates × terms)) before any job
    * runs; above it, survivors are computed distributed and applied as
    * a left-semi join with no driver materialization.
    */
  var chunkMetaCollectCap: Double = 2e6

  /** Tier-1 candidate count above which the theta-refinement pass runs
    * (with a 50·k floor). <= 0 forces refinement on every pruned query —
    * a test knob: the refined cut must stay rank-identical to the exact
    * path at ANY candidate count for the pruning to be trustworthy.
    */
  var refineMinCandidates: Long = 20000L

  /** Diagnostic: which execution path the last wand() call took —
    * "pruned", "fallback-cap" (tier-1 over wandCandidateCap), "empty",
    * or "exact" (θ/essential-split degenerate cases). Tests assert the
    * cap fallback engages without driver-side candidate collection.
    */
  var lastWandPath: String = ""

  /** Driver-local BM25 top-k over collected chunks (rank-identical to the
    * distributed path: same Bm25.impact, same ascending-term_id fold,
    * same (score desc, doc_id asc) tie-break).
    */
  private def bm25TopKLocal(entries: Seq[DictRow], k: Int): DataFrame = {
    val ps = localPostings(entries.map(_.term_id))
    spark.createDataFrame(LocalServing.topK(LocalServing.scores(entries, ps, meta), k))
      .toDF("doc_id", "score")
  }

  /** Disjunctive (free-text) BM25 top-k. `useWand = true` applies the
    * two-pass block-max pruning (when the posting volume warrants it);
    * both paths return identical results (proof sketch in the wand()
    * scaladoc; asserted in tests).
    */
  def bm25TopK(query: String, k: Int, useWand: Boolean = true): DataFrame =
    bm25TopKForTerms(queryTerms(query), k, useWand)

  def bm25TopKForTerms(terms: Seq[String], k: Int, useWand: Boolean = true): DataFrame = {
    val entries = lookupTerms(terms)
    if (entries.isEmpty) emptyScores()
    else topKFromEntries(entries, k, useWand)
  }

  /** The top-k dispatch (local / WAND / direct) over already-looked-up
    * entries — all three paths return identical results.
    */
  private def topKFromEntries(entries: Seq[DictRow], k: Int,
      useWand: Boolean = true): DataFrame = {
    val totalDf = entries.map(_.df).sum
    if (servesLocally(entries)) bm25TopKLocal(entries, k)
    else if (useWand && totalDf >= wandMinPostings) wand(entries, k)
    else topK(exactScores(entries), k)
  }

  /** Exact BM25 scores RESTRICTED to `cand` (a sorted doc_id array),
    * through the block-max candidate machinery (chunk skipping + exact
    * per-posting filter): a candidate doc's complete postings for the
    * entries are included, so its score is bit-identical to the
    * all-docs exactScores fold.
    */
  private def scoresForCandidates(entries: Seq[DictRow],
      cand: Array[Long]): DataFrame = {
    if (entries.isEmpty || cand.isEmpty) return emptyScores()
    val avgdl = meta.avgdl
    val k1 = meta.k1
    val b = meta.b
    val bcIdf = spark.sparkContext.broadcast(entries.map(e => e.term_id -> e.idf).toMap)
    val totalChunks = entries.map(e =>
      (e.df + ChunkCodec.ChunkSize - 1) / ChunkCodec.ChunkSize).sum.toDouble
    candidatePrunedPostings(entries.map(_.term_id), cand, totalChunks)
      .map(p => (p.doc_id, p.term_id,
        Bm25.impact(bcIdf.value(p.term_id), p.tf, p.dl, avgdl, k1, b)))
      .toDF("doc_id", "term_id", "impact")
      .groupBy($"doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct($"term_id", $"impact"))),
        lit(0.0),
        (acc, x) => acc + x.getField("impact")).as("score"))
  }

  /** The reference's intended handle_query (src/search_engine/mod.rs:
    * 118-206, three scoring strategies appended in precedence order):
    *
    *  - tier 0 (thread 1): exact-phrase matches, unigram-BM25-scored;
    *  - tier 1 (thread 2): docs containing EVERY query bigram as an
    *    indexed bigram term (conjunctive over the bigram postings),
    *    scored by BIGRAM BM25 — engages only when the index was built
    *    with indexBigrams (otherwise the bigram dictionary probes come
    *    back empty and the tier contributes nothing, the two-tier form);
    *  - tier 2 (thread 3): the disjunctive unigram BM25 matches.
    *
    * A doc keeps its HIGHEST tier (the reference's append order is the
    * precedence), ordered (tier asc, score desc, doc_id asc), top-k.
    * Under the [[localMaxPostings]] gate (unigram plus active bigram
    * df) the tiers are computed on the driver by
    * [[LocalServing.tiered]] from one collect.
    */
  /** Claimed-doc cap for handleQuery's PRUNED tier construction: when
    * the phrase + bigram-conjunctive doc sets are each within this
    * bound they are collected and the unigram tier runs through the
    * block-max top-k machinery; above it the full exact-scoring form
    * runs (a query whose phrase matches millions of docs is scoring
    * stopword-scale sets anyway). Driver memory bound: two collects of
    * <= cap+1 longs (~2.4 MB each at the default). 300k measured ~20%
    * faster than the exact form for a 125k-claimed stopword-led phrase
    * at 4.2M docs (pruned+adaptive tier 2, bit-identical results —
    * BENCH.md round 5). Test knob, like wandMinPostings.
    */
  var handleQueryClaimCap: Int = 300000

  /** Per-engine adaptive-guess floor for handleQuery's unclaimed-top-k
    * (round-5 verdict finding #4: the old object-level knob was shared
    * by every engine in the JVM). -1 (default) falls back to
    * `TieredQuery.guessFloor`, the process default / test hook.
    */
  var handleQueryGuessFloor: Int = -1

  /** Diagnostic: "local" | "pruned" | "exact" form taken by the last
    * handleQuery.
    */
  var lastHandlePath: String = ""

  def handleQuery(query: String, k: Int): DataFrame = {
    // phrase tier matches the FULL lemma sequence (duplicates kept:
    // "to be or not to be" must not phrase-match "to be or not");
    // scoring and the probe dedup. The tier composition itself lives in
    // [[TieredQuery]] — shared with MultiGenEngine.handleQuery; this
    // method only wires the ENTRIES-based scorers in.
    val parsed = Tokenizer.tokenizeQuery(query, lemmas)
    val phraseSeq = parsed.unigrams.map(_.term)
    val terms = phraseSeq.distinct
    // keep the 3-column (doc_id, score, tier) contract even for a
    // tokenless query — a 2-column return breaks callers that select
    // the tier column
    if (terms.isEmpty) return emptyScores().withColumn("tier", lit(2))
    // ONE unigram dictionary probe serves scoring, the phrase chain and
    // the unigram tier's top-k dispatch
    val entries = lookupTerms(terms)
    if (phraseSeq.size == 1 && !servesLocally(entries)) {
      lastHandlePath = "pruned"
      return TieredQuery.singleTerm(
        n => if (entries.isEmpty) emptyScores() else topKFromEntries(entries, n), k)
    }
    val bigramTerms = parsed.bigrams.map(_.term).distinct
    // ONE dictionary probe serves the existence check, the bigram BM25
    // scoring, and the conjunctive intersection
    val bigramEntries =
      if (bigramTerms.isEmpty) Nil else lookupTerms(bigramTerms)
    val bigramActive =
      bigramTerms.nonEmpty && bigramEntries.size == bigramTerms.size
    val decoded = entries ++ (if (bigramActive) bigramEntries else Nil)
    if (servesLocally(decoded)) {
      lastHandlePath = "local"
      // positions only when a phrase can match: 2+ tokens, all present
      val posIds =
        if (phraseSeq.size > 1 && entries.size == terms.size) entries.map(_.term_id).toSet
        else Set.empty[Long]
      val ps = localPostings(decoded.map(_.term_id), posIds)
      return LocalServing.tiered(phraseSeq, entries, bigramActive, bigramEntries, ps,
        meta, k).toDF("doc_id", "score", "tier")
    }
    val phraseDocs = phraseMatchFromEntries(phraseSeq, entries)
    val conjDocs =
      if (bigramActive) Some(conjunctiveFromEntries(bigramEntries)) else None
    TieredQuery.run(spark, TieredQuery.Scorers(
      unigramsPresent = entries.nonEmpty,
      bigramActive = bigramActive,
      phraseDocs = phraseDocs,
      conjDocs = conjDocs,
      topK = n => topKFromEntries(entries, n),
      candScores = ids => scoresForCandidates(entries, ids),
      bigramCandScores = ids => scoresForCandidates(bigramEntries, ids),
      exactScores = () => exactScores(entries),
      bigramExactScores = () => exactScores(bigramEntries), // thread 2's bigram_scores
      empty = () => emptyScores()),
      k, handleQueryClaimCap, p => lastHandlePath = p, handleQueryGuessFloor)
  }

  private def emptyScores(): DataFrame =
    Seq.empty[(Long, Double)].toDF("doc_id", "score")

  /** Exact BM25 scores for every doc matching any of `terms` (no limit) —
    * for oracle comparisons and re-ranking under rounded scores.
    */
  def bm25Scores(terms: Seq[String]): DataFrame = {
    val entries = lookupTerms(terms)
    if (entries.isEmpty) emptyScores() else exactScores(entries)
  }

  // ----------------------------------------------- filtered search (q51)

  /** Exact BM25 scores restricted to documents matching `pred` — a
    * predicate over the docs-table metadata columns (doc_len, role,
    * conv_id, turn_idx, ts-derived fields). Statistics stay GLOBAL
    * (idf, avgdl, k-th bounds come from the whole corpus): the filter
    * restricts the CANDIDATE SET, not the scoring model, so a doc's
    * score is bit-identical with and without the filter — the standard
    * filtered-search contract, and what makes scores comparable across
    * filters.
    *
    * Two plans by filter selectivity, result-identical (test-pinned):
    *  - selective (≤ `candidateCap` matching docs, established by ONE
    *    cap-limited collect before any postings IO — driver memory is
    *    bounded by the cap, the WAND tier-1 guard pattern): score the
    *    collected doc_ids through the block-max candidate machinery —
    *    chunks whose [min_doc_id, max_doc_id] range contains no
    *    candidate are never decoded (their tf/dl bytes stay unread in
    *    Parquet);
    *  - broad: left-semi join the per-posting impacts against the
    *    allowed doc_ids BEFORE the per-doc fold (see exactScores —
    *    the join shares the fold's doc_id exchange). A broad filter
    *    touches most postings anyway, so candidate chunk-pruning would
    *    save nothing while shipping a huge broadcast.
    * At 10^12 turns the routing probe is a metadata-cheap scan of the
    * docs table (column-pruned to doc_id + the predicate columns) that
    * ships at most cap+1 ids to the driver. Under the
    * [[localMaxPostings]] gate neither plan runs: see `filteredScores`.
    */
  def bm25ScoresFiltered(terms: Seq[String], pred: Column,
      candidateCap: Int = 20000): DataFrame =
    filteredScores(lookupTerms(terms), pred, candidateCap, None)

  /** BM25 top-k under a metadata predicate. Post-filtering an
    * UNfiltered top-k is NOT equivalent (it returns < k rows whenever
    * any of the global top-k fail the predicate); this scores the
    * filtered candidate set and heaps over it.
    */
  def bm25TopKFiltered(query: String, k: Int, pred: Column): DataFrame =
    filteredScores(lookupTerms(queryTerms(query)), pred, 20000, Some(k))

  /** [[bm25ScoresFiltered]], top-k'd when `k` is given. Under the
    * driver-local gate the decoded postings bound the candidates: one
    * collect of the terms' chunk rows, then the predicate runs only
    * over the docs those postings hold (one pushed `doc_id IN` job,
    * at most `localMaxPostings` rows), and the allowed docs are scored
    * and ranked on the driver. The cap-limited candidate probe below
    * is skipped there: a CollectLimit scans the docs table in
    * incremental jobs until it sees cap+1 rows or the table ends.
    */
  private def filteredScores(entries: Seq[DictRow], pred: Column,
      candidateCap: Int, k: Option[Int]): DataFrame = {
    def ranked(scored: DataFrame): DataFrame = k.fold(scored)(topK(scored, _))
    if (entries.isEmpty) return ranked(emptyScores())
    if (servesLocally(entries)) {
      val ps = localPostings(entries.map(_.term_id))
      val held = ps.valuesIterator.flatMap(_.docIds.iterator).toArray.distinct
      val allowedIds =
        if (held.isEmpty) held
        else textFor(held).filter(pred).select($"doc_id").as[Long].collect()
      java.util.Arrays.sort(allowedIds)
      val scored = LocalServing.scores(entries, ps, meta,
        d => java.util.Arrays.binarySearch(allowedIds, d) >= 0)
      return spark.createDataFrame(LocalServing.topK(scored, k.getOrElse(Int.MaxValue)))
        .toDF("doc_id", "score")
    }
    val allowed = docs.filter(pred).select($"doc_id")
    // routing + materialization in one job (the WAND tier-1 pattern):
    // length > cap routes to the broad plan, which re-reads `allowed`
    // distributed — the limit rows are discarded, like a count would be
    val cap = math.min(candidateCap, Int.MaxValue - 2)
    val cand = allowed.limit(cap + 1).as[Long].collect()
    if (cand.isEmpty) ranked(emptyScores())
    else if (cand.length <= cap) ranked(scoresForCandidates(entries, cand.sorted))
    else ranked(exactScores(entries, restrict = Some(allowed)))
  }

  // -------------------------------------------------------- snippets (q52)

  /** Keyword-in-context snippets for a k-bounded result set:
    * `first_pos` = the earliest position of ANY of `terms` in the doc
    * (positions come from the POSITIONAL INDEX — the text is never
    * re-tokenized), `snippet` = the ±window tokens around it from the
    * stored document text. The positional decode goes through the
    * candidate-pruned chunk path (only chunks whose doc range contains
    * a result doc are read — for top-k-sized inputs that is O(k) chunks
    * per term); the text join is k rows against the doc_id-sorted docs
    * parquet (row-group pruned), the withDocMeta shape.
    *
    * Both `slice` ends clamp at the document boundary, so windows at
    * the start/end of a doc shrink rather than error.
    *
    * Alignment contract: index positions advance once per WHITESPACE-
    * separated raw token (empty-after-cleaning tokens still advance,
    * Tokenizer.tokenize), and the window is cut from `split(text, " ")`
    * — so the snippet aligns exactly on single-space-joined text (the
    * pre-cleaned corpora; q01 asserts split == tokenizer for
    * `documents`). Text with tabs/runs of spaces would need a
    * position-preserving splitter here; snippet WORDS are raw text
    * (punctuation and case preserved), which is what a result page
    * wants.
    */
  def snippetsFor(terms: Seq[String], docIds: Array[Long],
      window: Int = 3): DataFrame = {
    val entries = lookupTerms(terms)
    if (entries.isEmpty || docIds.isEmpty)
      return Seq.empty[(Long, Int, String)]
        .toDF("doc_id", "first_pos", "snippet")
    val bc = spark.sparkContext.broadcast(docIds.sorted)
    // ONE chunk-metadata pre-pass for ALL query terms (the firstPos agg
    // only needs "a position of ANY term", so per-term relations buy
    // nothing): the old per-term positionedForCandidates union paid one
    // survivors-collect job PER TERM per search
    val firstPos = positionedForCandidatesAll(entries.map(_.term_id), bc)
      .map(p => (p.doc_id, p.positions.head)) // per-posting positions ascend
      .toDF("doc_id", "pos")
      .groupBy($"doc_id")
      .agg(min($"pos").as("first_pos"))
    // the text side must be PRUNED, not just broadcast-joined: with the
    // k-row side broadcast, the probe would still SCAN every text row.
    // A pushed doc_id IN (k literals) prunes the doc_id-sorted docs
    // parquet to O(k) row groups (measured 4.2M docs: the full-scan
    // join dominated snippet latency). Above the literal-pushdown
    // comfort zone, semi-join first (same guard as chunkInMaxLiterals).
    QueryEngine.assembleSnippets(firstPos, textFor(docIds), window)
  }

  /** The docs rows of `docIds`: a pushed doc_id IN for up to
    * [[chunkInMaxLiterals]] ids, else a broadcast semi-join.
    */
  private def textFor(docIds: Array[Long]): DataFrame =
    if (docIds.length <= chunkInMaxLiterals)
      docs.filter($"doc_id".isin(docIds.toSeq: _*))
    else
      docs.join(broadcast(docIds.toSeq.toDF("doc_id")),
        Seq("doc_id"), "left_semi")

  /** Positioned postings of SEVERAL terms restricted to a sorted
    * candidate array, with ONE metadata pre-pass across all of them
    * (the multi-term analog of [[positionedForCandidates]]; the union
    * semantics snippetsFor needs). Exact (term_id, chunk_seq) survivor
    * pairs, same literal-IN / broadcast-semi-join routing.
    */
  private def positionedForCandidatesAll(termIds: Seq[Long],
      bcCand: org.apache.spark.broadcast.Broadcast[Array[Long]]): Dataset[PositionedPosting] = {
    val base = postings.filter($"term_id".isin(termIds: _*))
    val survivors = base
      .select($"term_id", $"chunk_seq", $"min_doc_id", $"max_doc_id")
      .as[(Long, Long, Long, Long)]
      .filter(c => QueryEngine.rangeHasCandidate(c._3, c._4, bcCand.value))
      .select($"term_id", $"chunk_seq").as[(Long, Long)].collect()
    val pruned =
      if (survivors.length <= chunkInMaxLiterals)
        base.filter($"chunk_seq".isin(survivors.map(_._2).distinct.toSeq: _*))
      else
        base.join(broadcast(survivors.toSeq.toDF("term_id", "chunk_seq")),
          Seq("term_id", "chunk_seq"), "left_semi")
    pruned
      .select($"term_id", $"min_doc_id", $"max_doc_id", $"n_postings",
        $"doc_gaps", $"pos_blob")
      .as[(Long, Long, Long, Int, Array[Byte], Array[Byte])]
      .filter(c => QueryEngine.rangeHasCandidate(c._2, c._3, bcCand.value))
      .flatMap { case (tid, _, _, n, gaps, posBlob) =>
        val ids = ChunkCodec.decodeDocGaps(gaps, n)
        val cd = bcCand.value
        val poss = ChunkCodec.decodePositions(posBlob, n)
        Iterator.tabulate(n)(i => i)
          .filter(i => java.util.Arrays.binarySearch(cd, ids(i)) >= 0)
          .map(i => PositionedPosting(tid, ids(i), poss(i).toSeq))
      }
  }

  /** Serving wrapper: BM25 top-k with snippets in one call — the
    * result-page shape (doc_id, score, first_pos, snippet). The top-k
    * ids are collected (k-bounded) to drive the chunk-pruned snippet
    * pass; left join so a result doc is never dropped by the snippet
    * stage. Under the driver-local gate: one collect of the terms'
    * chunk rows (positions included) ranks and anchors on the driver,
    * and one pushed `doc_id IN` job fetches the k texts.
    */
  def searchWithSnippets(query: String, k: Int, window: Int = 3): DataFrame = {
    val terms = queryTerms(query)
    val entries = lookupTerms(terms)
    if (window >= 0 && servesLocally(entries)) searchPageLocal(entries, k, window)
    else QueryEngine.searchPage(spark,
      if (entries.isEmpty) emptyScores() else topKFromEntries(entries, k),
      ids => snippetsFor(terms, ids, window))
  }

  private def searchPageLocal(entries: Seq[DictRow], k: Int, window: Int): DataFrame = {
    val ps = localPostings(entries.map(_.term_id), entries.map(_.term_id).toSet)
    val top = LocalServing.topK(LocalServing.scores(entries, ps, meta), k)
    val first = LocalServing.firstPositions(ps, top.map(_._1).toSet)
    val text: Map[Long, String] =
      if (top.isEmpty) Map.empty
      else textFor(top.map(_._1).toArray).select($"doc_id", $"text")
        .as[(Long, String)].collect().toMap
    val rows = top.map { case (d, s) =>
      (first.get(d), text.get(d)) match {
        case (Some(p), Some(t)) =>
          org.apache.spark.sql.Row(d, s, p, LocalServing.snippet(t, p, window))
        case _ => org.apache.spark.sql.Row(d, s, null, null)
      }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), QueryEngine.SearchPageSchema)
  }

  // -------------------------------------------- prefix suggest (q53)

  /** Prefix suggestion (typeahead): the `n` highest-df dictionary terms
    * with the given prefix, (df desc, term asc)-ordered — term is
    * unique, so the order is total and the result deterministic. The
    * scan pushes a StringStartsWith filter into the dictionary Parquet
    * (whose term-sorted, range-partitioned layout makes the prefix a
    * contiguous row-group range); no postings IO at all, and the plan
    * is a TakeOrderedAndProject over the pruned scan. With
    * [[warmDictionaryLocal]] installed the same answer comes from the
    * driver lexicon instead, with no Spark job.
    */
  def suggest(prefix: String, n: Int): DataFrame =
    if (dictLocalMap.isDefined)
      LocalServing.suggest(suggestTerms, prefix, n).toDF("term", "df")
    else
      dictionary.filter($"term".startsWith(prefix))
        .select($"term", $"df")
        .orderBy($"df".desc, $"term".asc)
        .limit(n)

  /** The [[warmDictionaryLocal]] lexicon in UTF-8 term order — the
    * dictionary Parquet's own order — so a prefix is one binary-searched
    * range: [[suggest]] then runs no Spark job. Built on the first
    * suggest call, not at warm-up.
    */
  private lazy val suggestTerms: Array[DictRow] =
    dictLocalMap.get.values.toArray(new Array[DictRow](0))
      .sortBy(_.term)(Tokenizer.utf8Ordering)

  /** Exact block-max top-k pruning — the batch MaxScore strategy (Turtle
    * & Flood '95; block-max refinement after Ding & Suel '11), on top of
    * the chunk metadata columns:
    *
    *  1. θ = k-th largest single-posting impact of the term with the
    *     highest global max_impact — a valid lower bound on the true k-th
    *     best total score (those k docs score at least that one impact).
    *  2. NON-ESSENTIAL terms: order terms by ascending max_impact and
    *     take the longest prefix whose cumulative max_impact < θ. A doc
    *     containing only non-essential terms scores < θ, so every true
    *     top-k doc appears in some ESSENTIAL term's postings.
    *  3. Candidates = essential terms' doc_ids. Non-essential (stopword-
    *     scale) postings are then read with TWO levels of skipping:
    *     chunks whose [min_doc_id, max_doc_id] contains no candidate are
    *     never decoded (the reference's skip pointer, src/indexer/
    *     block.rs:73-86, driven by the candidate set), and decoded
    *     postings are filtered to candidates before scoring.
    *  4. Exact fixed-order fold + top-k with the deterministic tie-break.
    */
  private val wandDebug = sys.env.contains("GRAFT_WAND_DEBUG")
  @inline private def wdbg(msg: => String): Unit =
    if (wandDebug) println(s"WAND $msg")

  /** Test/diagnostic hook: wand() is eager (returns a LocalRelation), so
    * plan assertions on its RESULT are vacuous — with this flag set, the
    * executed physical plan of the internal scoring DataFrame is recorded
    * here before collection.
    */
  var captureWandPlan: Boolean = false
  var lastWandPlan: String = ""

  private def wand(entries: Seq[DictRow], k: Int): DataFrame = {
    // The pruned path reads the strongest term's postings up to three
    // times (θ, tier-1 sums, final scoring) — cache the decode once and
    // release it before returning (wand is EAGER: the result is
    // materialized inside, so no caller action depends on the cache).
    val best = entries.maxBy(_.max_impact)
    val bestPostings = decodedPostings(Seq(best.term_id))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var essCached: Dataset[ScoredPosting] = null
    try {
      val out = wandImpl(entries, k, best, bestPostings,
        ess => { essCached = ess; ess })
      if (captureWandPlan)
        lastWandPlan = out.queryExecution.executedPlan.toString
      val rows = out.as[(Long, Double)].collect().toSeq
      spark.createDataFrame(rows).toDF("doc_id", "score")
    } finally {
      bestPostings.unpersist(false)
      if (essCached != null && (essCached ne bestPostings)) essCached.unpersist(false)
    }
  }

  private def wandImpl(entries: Seq[DictRow], k: Int, best: DictRow,
      bestPostings: Dataset[ScoredPosting],
      registerEss: Dataset[ScoredPosting] => Dataset[ScoredPosting]): DataFrame = {
    val avgdl = meta.avgdl
    // the INDEX's BM25 constants (meta.k1/b): chunk max_impacts were
    // built under them, so scoring with the defaults instead would (a)
    // return the wrong BM25 and (b) make the block-max bounds unsound
    // for any index built with non-default constants
    val k1 = meta.k1
    val b = meta.b

    // Pass 0: threshold from the strongest term's own postings.
    val bestIdf = best.idf
    val thetaRows = bestPostings
      .map(p => Bm25.impact(bestIdf, p.tf, p.dl, avgdl, k1, b))
      .orderBy($"value".desc).limit(k).collect()
    val theta = if (thetaRows.length < k) 0.0 else thetaRows.last
    wdbg(s"theta=$theta best=${best.term} df=${best.df}")
    if (theta <= 0.0) { lastWandPath = "exact"; return topK(exactScores(entries), k) }

    // Essential / non-essential split (driver-side arithmetic, shared
    // with MultiGenEngine so the takeWhile subtleties cannot drift).
    val nonEssential = QueryEngine.nonEssentialSplit(
      entries.sortBy(e => (e.max_impact, e.term_id))
        .map(e => e.term_id -> e.max_impact), theta)
    val essential = entries.filterNot(e => nonEssential(e.term_id))
    val nonEssEntries = entries.filter(e => nonEssential(e.term_id))
    wdbg(s"essential=${essential.map(e => s"${e.term}(df=${e.df})").mkString(",")} " +
      s"nonEss=${nonEssEntries.map(e => s"${e.term}(df=${e.df})").mkString(",")}")
    if (nonEssential.isEmpty) { lastWandPath = "exact"; return topK(exactScores(entries), k) }

    // Tier-1 candidates from essential postings, with per-doc essential
    // sums kept: a doc can only reach the top-k if its essential score
    // plus the sum of the non-essential terms' max_impacts reaches θ
    // (per-posting upper bound). Exactness: every true top-k doc has
    // total >= θ and essSum + cumNonEssMax >= total, so it survives; a
    // dropped doc's true total < θ <= the k-th best, so even its
    // (possibly partial) computed score can never displace a top-k doc.
    // The 1e-9 margin absorbs fp-reassociation noise in the unordered
    // essSum (scores are O(10); doubles carry ~1e-15 relative error).
    val Eps = 1e-9
    val cumNonEssMax = nonEssEntries.map(_.max_impact).sum
    // one idf broadcast for all three consumers (tier-1, refinement,
    // final scoring)
    val bcIdf = spark.sparkContext.broadcast(
      entries.map(e => e.term_id -> e.idf).toMap)
    val avgdlLoc = avgdl
    // Shared decode of the essential postings (cached; reused by the
    // final scoring union). The pass-0 bestPostings cache is ALWAYS
    // reused — the strongest (largest) essential list is never decoded
    // or cached twice; only the other essential terms decode here.
    val essPostings = registerEss(
      if (essential.map(_.term_id) == Seq(best.term_id)) bestPostings
      else bestPostings.union(
          decodedPostings(essential.map(_.term_id).filterNot(_ == best.term_id)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val candRel = essPostings
      .map(p => (p.doc_id, Bm25.impact(bcIdf.value(p.term_id), p.tf, p.dl, avgdlLoc,
        k1, b)))
      .toDF("doc_id", "impact")
      .groupBy($"doc_id").agg(sum($"impact").as("ess_sum"))
      .filter($"ess_sum" + cumNonEssMax >= theta - Eps)
      .as[(Long, Double)]
    // Cap guard and materialization fused (the liveDocs/claim-collect
    // pattern): collect at most cap+1 rows and branch on the length.
    // This replaces the old persist + distributed count() + cached
    // collect() with one CollectLimit — measured 9 -> 6 Spark jobs per
    // warm pruned query (JobCountProbe), and the adversarial case (an
    // essential mid-df term, df ~ 10^9 at 10^12 docs) now EARLY-EXITS
    // once cap+1 rows surface instead of counting the full candidate
    // set. Driver-memory bound: CollectLimit scans reduce partitions in
    // scale-up waves, each task shipping at most the REMAINING (<=
    // cap+1) rows; candidates are hash-partitioned by doc_id (uniform),
    // so the guard fires within a wave of the cap — worst-case transfer
    // a small multiple of the cap+1 rows the success path collects
    // anyway, never the unbounded full set. Downstream consumers
    // (refineTheta, the candIds filter) are order-insensitive, so the
    // limit's arbitrary row order cannot perturb results.
    val capI = math.min(wandCandidateCap, Int.MaxValue - 2L).toInt
    val candPairs = candRel.limit(capI + 1).collect()
    wdbg(s"cumNonEssMax=$cumNonEssMax tier1Candidates=${candPairs.length}" +
      (if (candPairs.length > capI) "+ (over cap)" else ""))
    if (candPairs.isEmpty) { lastWandPath = "empty"; return emptyScores() }
    if (candPairs.length > capI) { // pruning not worth the broadcast
      lastWandPath = "fallback-cap"
      return topK(exactScores(entries), k)
    }
    lastWandPath = "pruned"

    // approximate: salting and split seams add sub-size chunks beyond
    // ceil(df/ChunkSize); fine for the skip-vs-scan heuristics this feeds
    val totalNonEssChunks =
      nonEssEntries.map(e =>
        (e.df + ChunkCodec.ChunkSize - 1) / ChunkCodec.ChunkSize).sum.toDouble
    def nonEssForCandidates(cand: Array[Long]): Dataset[ScoredPosting] =
      candidatePrunedPostings(nonEssential.toSeq, cand, totalNonEssChunks)

    // θ REFINEMENT — shared arithmetic in QueryEngine.refineTheta; the
    // one distributed job (top-C candidates' non-essential sums) is
    // injected as the callback.
    val thetaEff = QueryEngine.refineTheta(candPairs, k, theta, Eps,
      refineMinCandidates, { topCIds =>
        nonEssForCandidates(topCIds)
          .map(p => (p.doc_id, Bm25.impact(bcIdf.value(p.term_id), p.tf, p.dl, avgdlLoc,
            k1, b)))
          .toDF("doc_id", "impact")
          .groupBy($"doc_id").agg(sum($"impact").as("ne_sum"))
          .as[(Long, Double)].collect().toMap
      })
    if (thetaEff != theta) wdbg(s"refined theta=$thetaEff (from $theta)")

    val candIds = candPairs.iterator
      .filter { case (_, es) => es + cumNonEssMax >= thetaEff - Eps }
      .map(_._1).toArray
    wdbg(s"tier2Candidates=${candIds.length}")
    if (candIds.isEmpty) return emptyScores()
    java.util.Arrays.sort(candIds)

    val nonEssPostings = nonEssForCandidates(candIds)

    val avg = avgdl
    val exact = essPostings.union(nonEssPostings)
      .map(p => (p.doc_id, p.term_id,
        Bm25.impact(bcIdf.value(p.term_id), p.tf, p.dl, avg, k1, b)))
      .toDF("doc_id", "term_id", "impact")
      .groupBy($"doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct($"term_id", $"impact"))),
        lit(0.0),
        (acc, x) => acc + x.getField("impact")).as("score"))
    topK(exact, k)
  }

  /** Candidate-pruned read of `termIds`' postings — the block-max skip
    * machinery shared by single-index WAND and the multi-generation
    * engine: a metadata-only pre-pass (term_id/chunk_seq/min/max columns,
    * no blob bytes) finds the chunks whose [min_doc_id, max_doc_id]
    * contains a candidate; the blob scan is pruned to those survivors
    * (literal chunk_seq IN when few → pushed into Parquet row-group
    * stats; broadcast left-semi when many; skipped entirely when nearly
    * all chunks survive); decoded postings are filtered to candidates.
    * `totalChunks` is the driver-known chunk-count bound (Σ ceil(df/128))
    * used for the dense-skip and collect-cap decisions. `cand` MUST be
    * sorted ascending.
    */
  private[graft] def candidatePrunedPostings(termIds: Seq[Long],
      cand: Array[Long], totalChunks: Double): Dataset[ScoredPosting] = {
    @inline def anyCandidateIn(minDoc: Long, maxDoc: Long, cd: Array[Long]): Boolean =
      QueryEngine.rangeHasCandidate(minDoc, maxDoc, cd)
    @inline def isCandidate(doc: Long, cd: Array[Long]): Boolean =
      java.util.Arrays.binarySearch(cd, doc) >= 0
    val base = postings.filter($"term_id".isin(termIds: _*))
    def pruneChunks(survivors: Array[(Long, Long)]) =
      if (survivors.length > chunkPruneDenseFraction * totalChunks) base
      else if (survivors.length <= chunkInMaxLiterals)
        base.filter($"chunk_seq".isin(survivors.map(_._2).distinct.toSeq: _*))
      else {
        val survDf = survivors.toSeq.toDF("term_id", "chunk_seq")
        base.join(broadcast(survDf), Seq("term_id", "chunk_seq"), "left_semi")
      }
    val bcCand = spark.sparkContext.broadcast(cand)
    // Driver-side bound on the survivor count, known BEFORE any job: a
    // candidate doc appears in at most one chunk per term (doc_ids are
    // disjoint across a term's chunks), so survivors <= min(total
    // chunks, candidates * terms). Only collect metadata when that
    // bound is driver-safe; otherwise apply the pruning as a
    // distributed left-semi join with zero driver materialization.
    val survBound = math.min(totalChunks, cand.length.toDouble * termIds.size)
    val pruned = if (survBound <= chunkMetaCollectCap) {
      val survivors = base
        .select($"term_id", $"chunk_seq", $"min_doc_id", $"max_doc_id")
        .as[(Long, Long, Long, Long)]
        .filter(c => anyCandidateIn(c._3, c._4, bcCand.value))
        .select($"term_id", $"chunk_seq").as[(Long, Long)].collect()
      wdbg(s"survivors=${survivors.length} totalChunks=$totalChunks " +
        s"candidates=${cand.length}")
      pruneChunks(survivors)
    } else {
      wdbg(s"survivor collect skipped: bound=$survBound > $chunkMetaCollectCap")
      val survDf = base
        .select($"term_id", $"chunk_seq", $"min_doc_id", $"max_doc_id")
        .as[(Long, Long, Long, Long)]
        .filter(c => anyCandidateIn(c._3, c._4, bcCand.value))
        .select($"term_id", $"chunk_seq")
      base.join(survDf, Seq("term_id", "chunk_seq"), "left_semi")
    }
    pruned
      .select($"term_id", $"min_doc_id", $"max_doc_id", $"n_postings",
        $"doc_gaps", $"tfs", $"dls")
      .as[(Long, Long, Long, Int, Array[Byte], Seq[Int], Seq[Int])]
      .filter(c => anyCandidateIn(c._2, c._3, bcCand.value))
      .flatMap { case (termId, _, _, n, gaps, tfs, dls) =>
        val ids = ChunkCodec.decodeDocGaps(gaps, n)
        val cd = bcCand.value
        Iterator.tabulate(n)(i => i).filter(i => isCandidate(ids(i), cd))
          .map(i => ScoredPosting(termId, ids(i), tfs(i), dls(i)))
      }
  }

  // ------------------------------------------------- boolean / positional

  /** Conjunctive (AND) doc_id intersection, rarest-term-first: a chain of
    * inner joins ordered by ascending df (the reference's min-df seeding,
    * src/query_processor/query_processor.rs:62-69); the rare side is
    * broadcast when small. Returns distinct doc_ids.
    */
  def conjunctive(terms: Seq[String]): DataFrame = {
    val entries = lookupTerms(terms)
    if (entries.size < terms.distinct.size) Seq.empty[Long].toDF("doc_id")
    else conjunctiveFromEntries(entries)
  }

  /** [[conjunctive]] over ALREADY looked-up dictionary entries — for
    * callers that have probed the dictionary themselves (handleQuery's
    * bigram tier re-uses one probe for the existence check, the scoring
    * AND this intersection).
    */
  private[graft] def conjunctiveFromEntries(entries: Seq[DictRow]): DataFrame = {
    val byDf = entries.sortBy(e => (e.df, e.term_id))
    val docSets = byDf.map { e =>
      decodedPostings(Seq(e.term_id)).select($"doc_id")
    }
    // Broadcast ONLY the first (rarest) relation, and only when its df
    // bound is broadcast-sized — an all-stopword query (df ~ N) must
    // shuffle-join instead. Later join steps are left to AQE: re-hinting
    // the ACCUMULATED result would plan a fresh BroadcastExchange of the
    // (shrinking, but un-sized at plan time) accumulator at every step
    // (one per join), where AQE broadcasts at runtime iff the measured
    // size is small — the same rationale phraseMatch documents for its
    // positional chain. PlanSpec pins one BroadcastExchange total.
    // no hint on a single-term "conjunction": there is no join to
    // consume it (Spark logs a dangling-hint warning per query)
    val first =
      if (docSets.size > 1 &&
          byDf.head.df <= QueryEngine.ConjBroadcastMaxDf) broadcast(docSets.head)
      else docSets.head
    docSets.tail.foldLeft(first) { (acc, next) =>
      acc.join(next, Seq("doc_id"), "inner")
    }.distinct()
  }

  /** J6 variant: shortest-list-driven semi-join probe (reference
    * find_documents_optimized, src/positional_intersect/mod.rs:38-105):
    * the min-df term's doc set drives a chain of LEFT SEMI joins against
    * the other terms' postings — Catalyst broadcasts the probe side when
    * small, which is the distributed analog of the reference's
    * binary-search probing.
    */
  def conjunctiveSemi(terms: Seq[String]): DataFrame = {
    val entries = lookupTerms(terms)
    if (entries.size < terms.distinct.size) return Seq.empty[Long].toDF("doc_id")
    val byDf = entries.sortBy(e => (e.df, e.term_id))
    var acc = decodedPostings(Seq(byDf.head.term_id)).select($"doc_id")
    byDf.tail.foreach { e =>
      acc = acc.join(decodedPostings(Seq(e.term_id)).select($"doc_id"),
        Seq("doc_id"), "left_semi")
    }
    acc.distinct()
  }

  /** Phrase match (strictly consecutive positions, reference
    * src/positional_intersect/mod.rs:11-35): conjunctive intersection with
    * positions carried, then an `exists` over the RAREST term's positions
    * with offset-adjusted `array_contains(pos_i, p + (i - anchor))` for
    * every other term.
    *
    * The positional join chain runs in ASCENDING-df order (not query
    * order), so a leading stopword ("the big join") never drags its full
    * positional lists through every join — the intermediate result is
    * bounded by the min df from the first join on, and the rare side is
    * broadcast when small (the distributed form of the reference's
    * min-df seeding, src/query_processor/query_processor.rs:62-69).
    */
  /** Max doc-intersection size for the candidate-pruned positional plan;
    * above it (an all-stopword phrase over most of the corpus) the plan
    * falls back to the shuffle-join form instead of a driver collect.
    */
  var phraseMaxCandidates: Long = 2000000L

  /** The candidate-pruned positional plan only pays when the doc
    * intersection is SPARSE relative to chunk doc-ranges — a candidate
    * set of c docs touches ~1 - (1 - c/N)^width of a dense term's chunks
    * (width ≈ N / (df/128)), so above ~N/density candidates nearly every
    * chunk survives and the pre-passes are pure overhead. Below the
    * ratio, positions of a stopword are read for a few % of its chunks.
    * `positionalPruneDensity` = 0 forces the pruned plan (tests).
    */
  var positionalPruneDensity: Long = 256L

  private def positionalPruningPays(minDf: Long): Boolean =
    minDf <= phraseMaxCandidates && minDf * positionalPruneDensity < meta.n_docs

  /** Docs where `terms` occur at consecutive positions (a one-term
    * phrase is that term's doc set). Under the [[localMaxPostings]]
    * gate: one collect and [[LocalServing.phraseDocs]]; above it the
    * distributed plans documented above.
    */
  def phraseMatch(terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    val entries = lookupTerms(terms)
    if (entries.size < terms.distinct.size) Seq.empty[Long].toDF("doc_id")
    else if (servesLocally(entries)) {
      val ids = entries.map(_.term_id)
      val ps = localPostings(ids, if (terms.size > 1) ids.toSet else Set.empty)
      LocalServing.phraseDocs(terms, entries, ps).toSeq.toDF("doc_id")
    }
    else if (terms.size == 1) conjunctiveFromEntries(entries)
    else phraseMatchFromEntries(terms, entries)
  }

  /** [[phraseMatch]] over ALREADY looked-up entries (handleQuery shares
    * one unigram probe between scoring and this chain). `terms` is the
    * full phrase sequence — duplicates allowed and position-significant.
    */
  private[graft] def phraseMatchFromEntries(terms: Seq[String],
      entries: Seq[DictRow]): DataFrame = {
    require(terms.size >= 2, "single-term phrase goes through phraseMatch")
    val byTerm = entries.map(e => e.term -> e).toMap
    if (terms.exists(t => !byTerm.contains(t))) return Seq.empty[Long].toDF("doc_id")
    val idxByDf = terms.indices.sortBy(i => (byTerm(terms(i)).df, i))
    val anchor = idxByDf.head

    def consecutiveFilter(joined: DataFrame): DataFrame = {
      val consecutive = exists(col(s"pos$anchor"), p =>
        terms.indices.filter(_ != anchor)
          .map(i => array_contains(col(s"pos$i"), p + (i - anchor)))
          .reduce(_ && _))
      joined.filter(consecutive).select($"doc_id").distinct()
    }

    if (positionalPruningPays(byTerm(terms(anchor)).df)) {
      // Candidate-pruned plan: the RAREST term's doc set is a superset
      // of every phrase match, so it alone drives the pruning — one tiny
      // doc_gaps-only job (no positional blobs), then every other term's
      // positions are fetched only for chunks containing those docs. A
      // stopword in the phrase never has its (huge) positional data read
      // outside the rare term's neighborhoods; the inner join below
      // performs the actual intersection.
      val cand = postingDocIds(byTerm(terms(anchor)).term_id)
        .distinct().as[Long].collect()
      if (cand.isEmpty) return Seq.empty[Long].toDF("doc_id")
      java.util.Arrays.sort(cand)
      // Broadcast ONLY the first (rarest-term) relation, and only when
      // its positional payload is broadcast-sized: cf = that term's
      // total position count, so cf bounds the array payload exactly.
      // Re-hinting the ACCUMULATED join result would re-broadcast every
      // previously joined term's full position arrays at each step —
      // for position-heavy docs that blows past broadcast scale and
      // pressures the driver; later steps are left to AQE, which
      // broadcasts at runtime iff the measured size is small.
      val anchorEntry = byTerm(terms(anchor))
      val hintFirst: DataFrame => DataFrame =
        if (cand.length <= QueryEngine.PhraseBroadcastMaxCand &&
            anchorEntry.cf <= QueryEngine.PhraseBroadcastMaxCf)
          df => broadcast(df)
        else identity _
      val bcCand = spark.sparkContext.broadcast(cand)
      val rels = idxByDf.map { i =>
        positionedForCandidates(byTerm(terms(i)).term_id, bcCand)
          .select($"doc_id", $"positions".as(s"pos$i")).toDF()
      }
      val joined = rels.tail.foldLeft(hintFirst(rels.head))(
        (a, b) => a.join(b, Seq("doc_id"), "inner"))
      consecutiveFilter(joined)
    } else {
      // Shuffle-join fallback (ascending-df order, so the intermediate
      // result is bounded by the min df from the first join on).
      val joined = idxByDf.map { i =>
        positionedPostings(Seq(byTerm(terms(i)).term_id))
          .select($"doc_id", $"positions".as(s"pos$i")).toDF()
      }.reduceLeft((a, b) => a.join(b, Seq("doc_id"), "inner"))
      consecutiveFilter(joined)
    }
  }

  /** Proximity match: pairs (pos1, pos2) with pos2 > pos1 and
    * pos2 - pos1 <= k — the reference's DIRECTIONAL rule
    * (src/positional_intersect/mod.rs:579-604; pp2 > pp1 only).
    */
  def proximity(term1: String, term2: String, k: Int): DataFrame = {
    val entries = lookupTerms(Seq(term1, term2))
    val byTerm = entries.map(e => e.term -> e).toMap
    if (!byTerm.contains(term1) || !byTerm.contains(term2))
      return Seq.empty[(Long, Int, Int)].toDF("doc_id", "pos1", "pos2")
    // same candidate-pruned positional plan as phraseMatch: intersect
    // doc ids on doc_gaps alone, then read positions only where both
    // terms occur
    val minDf = math.min(byTerm(term1).df, byTerm(term2).df)
    val (p1, p2) =
      if (positionalPruningPays(minDf)) {
        val rare = if (byTerm(term1).df <= byTerm(term2).df) term1 else term2
        val cand = postingDocIds(byTerm(rare).term_id)
          .distinct().as[Long].collect()
        if (cand.isEmpty)
          return Seq.empty[(Long, Int, Int)].toDF("doc_id", "pos1", "pos2")
        java.util.Arrays.sort(cand)
        val bcCand = spark.sparkContext.broadcast(cand)
        (positionedForCandidates(byTerm(term1).term_id, bcCand)
           .select($"doc_id", $"positions".as("ps1")),
         positionedForCandidates(byTerm(term2).term_id, bcCand)
           .select($"doc_id", $"positions".as("ps2")))
      } else
        (positionedPostings(Seq(byTerm(term1).term_id))
           .select($"doc_id", $"positions".as("ps1")),
         positionedPostings(Seq(byTerm(term2).term_id))
           .select($"doc_id", $"positions".as("ps2")))
    p1.join(p2, Seq("doc_id"), "inner")
      .select($"doc_id", explode($"ps1").as("pos1"), $"ps2")
      .select($"doc_id", $"pos1",
        explode(filter($"ps2", p => p > $"pos1" && p - $"pos1" <= lit(k))).as("pos2"))
  }

  /** Largest fuzzy_d{N} directory probed for when serving a distance
    * (a table built at D serves any d <= D: its variant set is a
    * superset of the d-deletion set, and the exact levenshtein verify
    * discards the extra candidates).
    */
  private val MaxFuzzyTableDistance = 3

  private val fuzzyIndexCache =
    scala.collection.concurrent.TrieMap.empty[Int, Option[DataFrame]]

  /** Deletion-neighborhood fuzzy index (SymSpell; Garbe 2012) serving
    * distance d — the Spark-native equivalent of the reference's BK-tree
    * (src/my_bk_tree/mod.rs:3-26): every dictionary term is expanded to
    * its <=D-deletion variants, range-partitioned and sorted by variant.
    * A fuzzy lookup is then a pushed-down `variant IN (...)` probe over
    * a sorted table (row-group pruned), not a full-dictionary
    * levenshtein scan — the difference between O(|q|^d) and O(|lexicon|)
    * per query at the 10^8-term lexicons a 100 TB corpus produces.
    *
    * Resolution order: the smallest VALID persisted fuzzy_dD with D >= d
    * (valid = its dict-token marker matches the CURRENT dictionary —
    * a rebuild over a changed corpus rewrites the dictionary but not
    * old lazily-backfilled tables, which must not keep serving);
    * otherwise a one-time lazy backfill AT d, serialized per (root, d)
    * so concurrent first lookups can't race two overwrites into one
    * directory. Backfill only runs for d <= MaxFuzzyTableDistance —
    * the variant count grows ~C(len, d), so larger distances go to the
    * length-pruned dictionary scan instead of writing an enormous table
    * nobody asked to persist. If the root is not writable (a read-only
    * served snapshot), fuzzyTerms falls back to the scan as well.
    */
  /** ONE validity gate for every derived-table dir (fuzzy_dD,
    * dict_by_len, vsm_norms): _SUCCESS present, the dict-token marker
    * matches the CURRENT dictionary's tableToken (the token hashes the
    * DICTIONARY's listing — it catches staleness after a rebuild but
    * NOT this dir's own truncation), and the dir's n_files/bytes
    * manifest agrees with one disk listing (catches truncation;
    * vacuously true for pre-manifest tables, the same contract as the
    * build-side resume gate). Shared so a hardening change cannot land
    * in one copy and miss another.
    */
  private def derivedTableValid(dir: String, dictToken: String): Boolean =
    graft.index.Fs.exists(s"$dir/_SUCCESS") && {
      val marker = s"$dir/${IndexBuilder.DictTokenFile}"
      graft.index.Fs.exists(marker) &&
        graft.index.Fs.readString(marker) == dictToken &&
        IndexBuilder.manifestIntact(dir)
    }

  private def fuzzyIndexFor(d: Int): Option[DataFrame] =
    fuzzyIndexCache.getOrElseUpdate(d, {
      val dictToken = IndexBuilder.tableToken(paths.dictionary)
      def valid(dd: Int): Boolean = derivedTableValid(paths.fuzzy(dd), dictToken)
      // probe EVERY persisted distance (a build may have written
      // fuzzy_d{fuzzyMaxDistance} above the backfill cap). Tables from
      // pre-token builds (_SUCCESS but no dict-token marker) read as
      // stale by design — on a writable root they are rebuilt once; on
      // a read-only snapshot the scan fallback serves (slower but never
      // wrong) until the snapshot is refreshed by a tokened build.
      val found = QueryEngine.fuzzyDistancesOnDisk(root)
        .filter(_ >= d).find(valid)
      if (found.isEmpty && d <= MaxFuzzyTableDistance &&
          !QueryEngine.fuzzyBackfillFailed.contains(s"$root#$d")) {
        // serialize per (root, d): two concurrent overwrite jobs into the
        // same directory would delete each other's in-flight files
        QueryEngine.fuzzyBuildLocks
          .getOrElseUpdate(s"$root#$d", new Object).synchronized {
            if (!valid(d) &&
                !QueryEngine.fuzzyBackfillFailed.contains(s"$root#$d")) {
              try {
                // same writer the index build uses (one pipeline, no drift)
                new IndexBuilder(spark, Map.empty,
                  graft.index.IndexConf(
                    numParts = math.max(1, spark.sparkContext.defaultParallelism)))
                  .writeFuzzyIndex(dictionary, root, d)
              } catch {
                case scala.util.control.NonFatal(e) =>
                  // remember per-JVM so each fresh engine over this root
                  // doesn't re-run the (large) dictionary-expansion job
                  // just to fail at write time again
                  QueryEngine.fuzzyBackfillFailed.add(s"$root#$d")
                  System.err.println(
                    s"[graft] fuzzy-index backfill failed for $root d=$d " +
                      s"(falling back to dictionary scan): ${e.getMessage}")
              }
            }
          }
      }
      // orElse re-probes only when nothing was found above — i.e. when
      // the backfill (which writes at exactly d) may have just run
      found.orElse(Option(d).filter(valid))
        .map(dd => spark.read.parquet(paths.fuzzy(dd)))
    })

  /** Fuzzy term lookup: all dictionary terms within Levenshtein distance d
    * (reference BK-tree, src/my_bk_tree/mod.rs:14-21) — the variant-table
    * probe (the SymSpell guarantee: lev(a,b) <= d implies a and b share a
    * string reachable by <= d deletions from each), then an exact
    * levenshtein verify on the candidates. Queries longer than
    * Fuzzy.MaxTermLen code points (outside the variant table's domain)
    * and unavailable variant tables fall back to a length-prefiltered
    * dictionary scan. Recall is complete either way: the table carries
    * variants for terms up to MaxTermLen + d code points, covering every
    * term reachable from an in-domain query.
    *
    * COST BOUND above the variant tables: d > MaxFuzzyTableDistance
    * (= 3) deliberately builds no deletion table — a d=4 table is
    * ~C(len,4) variants per term (10-100x the d=2 table nobody asked to
    * persist). Instead it probes the build-time `dict_by_len` layout
    * (the dictionary re-sorted by (cp_len, term)) with a PUSHED
    * `cp_len BETWEEN len-d AND len+d` range predicate: parquet
    * row-group stats skip every length band but the query's, so the
    * levenshtein verify runs over O(lexicon ∩ length band), not
    * O(lexicon) — and the same probe serves queries beyond
    * Fuzzy.MaxTermLen (outside the variant tables' domain) at ANY d.
    * PlanSpec asserts the pushdown; [[QueryEngine.fuzzyRangeProbes]]
    * counts these lookups.
    *
    * Only when even dict_by_len is unavailable (an index root from an
    * older build, never re-built since) does the O(|lexicon|)
    * length-prefiltered dictionary scan run — counted in
    * [[QueryEngine.fuzzyScanFallbacks]] (monitor it; a climbing counter
    * means a root that deserves one build() pass to lay dict_by_len
    * down, or large-d traffic that deserves a persisted fuzzy_dD via
    * IndexConf.fuzzyMaxDistance).
    */
  def fuzzyTerms(q: String, d: Int): DataFrame = {
    val qCp = q.codePointCount(0, q.length)
    val inDomain = qCp <= graft.core.Fuzzy.MaxTermLen
    val idx = if (inDomain) fuzzyIndexFor(d) else None
    // unigrams ONLY on every path: a bigram-indexed dictionary also
    // holds space-joined pseudo-terms ("table scan"), and without this
    // filter fuzzyTerms("tablescan", 1) would surface them — surprising
    // results and an engine/oracle divergence (the scalar oracle's
    // fuzzy searches unigram postings keys)
    val noBigrams = !$"term".contains(" ")
    idx match {
      case Some(fi) =>
        val qVars = graft.core.Fuzzy.deleteVariants(q, d).toSeq
        fi.filter($"variant".isin(qVars: _*))
          .select($"term", $"term_id", $"df").distinct()
          .filter(noBigrams)
          .filter(levenshtein($"term", lit(q)) <= d)
      case None =>
        dictByLen match {
          case Some(dbl) =>
            QueryEngine.fuzzyRangeProbes.incrementAndGet()
            dbl.filter($"cp_len" >= lit(qCp - d) && $"cp_len" <= lit(qCp + d))
              .filter(noBigrams)
              .filter(levenshtein($"term", lit(q)) <= d)
              .select($"term", $"term_id", $"df")
          case None =>
            QueryEngine.fuzzyScanFallbacks.incrementAndGet()
            // +-d bound on CODE POINTS (Spark's length() counts code
            // points; the JVM String.length counts UTF-16 units and would
            // under-bound for supplementary-plane queries, dropping true
            // matches from the prefilter)
            dictionary
              .filter(length($"term") >= lit(qCp - d) &&
                length($"term") <= lit(qCp + d))
              .filter(noBigrams)
              .filter(levenshtein($"term", lit(q)) <= d)
              .select($"term", $"term_id", $"df")
        }
    }
  }

  /** The `dict_by_len` layout (build-time (cp_len, term)-sorted
    * dictionary projection), validated against the CURRENT dictionary
    * via the same dict-token staleness guard the fuzzy variant tables
    * use; None for roots from builds that predate the layout (the
    * counted scan fallback serves those).
    */
  private lazy val dictByLen: Option[DataFrame] = {
    val dir = paths.dictByLen
    if (derivedTableValid(dir, IndexBuilder.tableToken(paths.dictionary)))
      Some(spark.read.parquet(dir))
    else None
  }

  /** Attach document metadata to a result with a `doc_id` column — the
    * reference's DocumentMetadata retrieval (doc_name/doc_url per result,
    * src/indexer/indexer.rs:46-50): here (conv_id, turn_idx, role). The
    * result set is top-k-sized, so the docs side is joined via its
    * doc_id-sorted parquet (row-group pruned by the small side's range).
    */
  def withDocMeta(results: DataFrame): DataFrame =
    results.join(
      docs.select($"doc_id", $"conv_id", $"turn_idx", $"role"), Seq("doc_id"))

  /** Reference-parity tf-idf scorer (src/scoring/mod.rs:34-48):
    * score(doc) = Σ_t log10(N/df_t) * tf_{t,doc}.
    */
  def tfIdfScores(terms: Seq[String]): DataFrame =
    tfIdfFold(terms).getOrElse(emptyScores())

  /** Shared per-doc tf-idf fold (doc_id, score) — the numerator of BOTH
    * reference-parity scorers. ONE home: the sort_array fold order is
    * determinism-critical, and two copies would silently drift.
    * None when no query term is in the dictionary.
    */
  private def tfIdfFold(terms: Seq[String]): Option[DataFrame] = {
    val entries = lookupTerms(terms)
    if (entries.isEmpty) return None
    val n = meta.n_docs
    val dfById = entries.map(e => e.term_id -> e.df).toMap
    val bcDf = spark.sparkContext.broadcast(dfById)
    Some(decodedPostings(entries.map(_.term_id))
      .map(p => (p.doc_id, p.term_id, Bm25.tfIdf(n, bcDf.value(p.term_id), p.tf)))
      .toDF("doc_id", "term_id", "w")
      .groupBy($"doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct($"term_id", $"w"))),
        lit(0.0),
        (acc, x) => acc + x.getField("w")).as("score")))
  }

  // ------------------------------------------- A9: vector-space scoring

  /** The vsm_norms table (see IndexBuilder.writeVsmNorms): loaded from
    * the index root when a VALID persisted copy exists (dict-token
    * marker matches the current dictionary — the fuzzy tables' staleness
    * guard), else backfilled once (serialized per root); on a read-only
    * root whose backfill fails, the norms are computed per-engine
    * in memory (slower — a full postings pass per engine instance —
    * but never wrong).
    */
  private lazy val vsmNormsTable: DataFrame = {
    val dir = paths.vsmNorms
    def valid: Boolean = derivedTableValid(dir,
      IndexBuilder.tableToken(paths.dictionary) +
        IndexBuilder.VsmNormsFormatTag)
    if (!valid && !QueryEngine.vsmBackfillFailed.contains(root)) {
      QueryEngine.fuzzyBuildLocks
        .getOrElseUpdate(s"$root#vsm", new Object).synchronized {
          if (!valid && !QueryEngine.vsmBackfillFailed.contains(root)) {
            try {
              new IndexBuilder(spark, Map.empty,
                graft.index.IndexConf(
                  numParts = math.max(1, spark.sparkContext.defaultParallelism)))
                .writeVsmNorms(postings, dictionary, root)
            } catch {
              case scala.util.control.NonFatal(e) =>
                QueryEngine.vsmBackfillFailed.add(root)
                System.err.println(
                  s"[graft] vsm-norms backfill failed for $root " +
                    s"(computing in memory): ${e.getMessage}")
            }
          }
        }
    }
    if (valid) spark.read.parquet(dir)
    else
      // read-only root: the WRITER's computation (one shared home, no
      // drift), PERSISTED — this lazy val is per-engine, and without
      // the cache every vsmScores action would re-run the full
      // postings-pass norm job (the "once per engine" the scaladoc
      // promises). (doc_id, double) rows: ~16 B/doc, spills to disk
      // beyond memory.
      new IndexBuilder(spark, Map.empty,
        graft.index.IndexConf(
          numParts = math.max(1, spark.sparkContext.defaultParallelism)))
        .vsmNormsDf(postings, dictionary)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** A9 — vector-space (cosine-normalized) scoring, completing the
    * reference's abandoned doc-norm design (the norm table is the
    * commented-out src/helpers/mod.rs:191-218; a query-time consumer
    * was never written, so the completion is the standard VSM shape):
    * `score(d) = (Σ_{t∈q} log10(N/df_t) · tf_{t,d}) / norm_d` — the
    * reference-parity tf-idf numerator (src/scoring/mod.rs:34-48, the
    * same weight tfIdfScores serves) divided by the reference's norm.
    * The numerator folds in fixed term_id order (A8 determinism); the
    * norm join touches only candidate docs' rows of the doc_id-sorted
    * norms table. Returns ALL candidate docs (callers top-k like q07) —
    * every candidate has a norm row (it contains >= 1 query term, so
    * its norm sum is positive), making the inner join total.
    *
    * SINGLE-INDEX scope: a multi-generation root should compact before
    * serving VSM — the norm depends on each term's CORPUS df, so
    * per-generation norm tables (per-gen df) cannot be combined into
    * the global-statistics answer the way BM25 impacts can (the
    * reference's abandoned design was likewise single-index).
    */
  def vsmScores(terms: Seq[String]): DataFrame =
    tfIdfFold(terms) match {
      case None => emptyScores()
      case Some(num) =>
        num.withColumnRenamed("score", "num")
          .join(vsmNormsTable, Seq("doc_id"))
          .select($"doc_id", ($"num" / $"vsm_norm").as("score"))
    }
}

object QueryEngine {

  /** Broadcast-hint bounds shared by the single-index join chains and
    * the fused multi-generation forms — ONE home so a retuning cannot
    * leave the two plans routing differently (paired A/B must compare
    * identical shapes). A conjunctive chain hints its first (rarest)
    * relation when that term's df is at most [[ConjBroadcastMaxDf]];
    * a positional chain hints its anchor relation when the candidate
    * count and the anchor's collection frequency stay within
    * [[PhraseBroadcastMaxCand]] / [[PhraseBroadcastMaxCf]] (positions
    * make rows wide — cf, not df, bounds the broadcast bytes).
    */
  val ConjBroadcastMaxDf: Long = 1000000L
  val PhraseBroadcastMaxCand: Int = 200000
  val PhraseBroadcastMaxCf: Long = 2000000L

  /** The result-page schema [[searchPage]]'s left join produces. */
  val SearchPageSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("first_pos", IntegerType), StructField("snippet", StringType)))
  }

  /** Dictionary-probe counter (each probe = one pushed driver-side
    * dictionary scan) — test hook for probe budgets: handleQuery must
    * probe each term set once (BigramSpec pins the budget).
    */
  private[graft] val dictProbes = new java.util.concurrent.atomic.AtomicInteger

  /** Count of fuzzy lookups served by the O(|lexicon|) dictionary-scan
    * fallback — taken only when NEITHER a variant table NOR the
    * dict_by_len range layout is available (an index root from a build
    * predating the layout). An operational metric: a climbing value
    * means a root that deserves one build() pass to lay dict_by_len
    * down, or large-d traffic that deserves a persisted fuzzy_dD table
    * (IndexConf.fuzzyMaxDistance).
    */
  val fuzzyScanFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** Count of fuzzy lookups served by the dict_by_len pushed cp_len
    * range probe (d above the variant-table cap, or queries beyond
    * Fuzzy.MaxTermLen): O(length band), not O(lexicon) — the expected
    * path for occasional large-d traffic.
    */
  val fuzzyRangeProbes = new java.util.concurrent.atomic.AtomicLong

  /** Roots whose lazy fuzzy-index backfill failed (e.g. read-only
    * mounts): retried at most once per JVM.
    */
  private val fuzzyBackfillFailed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Roots whose lazy vsm-norms backfill failed: retried at most once
    * per JVM (same contract as [[fuzzyBackfillFailed]]).
    */
  private val vsmBackfillFailed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** MaxScore essential/non-essential split (driver-side): the longest
    * ASCENDING-max_impact prefix whose cumulative max_impact stays under
    * θ — those terms together cannot lift any document to the top-k, so
    * their postings are only read for surviving candidates. Input must
    * be ascending by max impact (with a deterministic tie-break); returns
    * the non-essential keys. One implementation shared by the
    * single-index WAND and the multi-generation engine — the takeWhile
    * accumulation is exactly the kind of subtle arithmetic that would
    * drift between two copies.
    */
  def nonEssentialSplit[K](ascByMax: Seq[(K, Double)], theta: Double): Set[K] = {
    var cum = 0.0
    ascByMax.takeWhile { case (_, m) =>
      val keep = cum + m < theta
      if (keep) cum += m
      keep
    }.map(_._1).toSet
  }

  /** MaxScore θ refinement (driver-side, shared by the single-index
    * wandImpl and MultiGenEngine — like [[nonEssentialSplit]], subtle
    * arithmetic that must not drift between copies): when tier-1 leaves
    * a dense candidate set, exactly score the top-C candidates by
    * essential sum — their true totals are real achievable scores, so
    * the k-th best of them is a (much tighter) valid lower bound on the
    * global k-th best, collapsing the tier-2 cut from O(df) to
    * O(k)-ish. Refinement only pays when tier-1 is LARGE in absolute
    * terms (the mid-df pathology); `gateMin` <= 0 forces it (tests).
    * `neSumsFor` runs the ONE distributed job: the candidates'
    * non-essential (chunk-pruned) score sums. Returns θ' >= θ.
    */
  def refineTheta(candPairs: Array[(Long, Double)], k: Int, theta: Double,
      eps: Double, gateMin: Long,
      neSumsFor: Array[Long] => Map[Long, Double]): Double = {
    val gate = if (gateMin <= 0L) 0L else math.max(50L * k, gateMin)
    if (candPairs.length <= gate) return theta
    val c = math.max(k, 200)
    val topC = candPairs.sortBy { case (d0, s) => (-s, d0) }.take(c)
    val ids = topC.map(_._1)
    java.util.Arrays.sort(ids)
    val ne = neSumsFor(ids)
    val totals = topC.map { case (d0, es) => es + ne.getOrElse(d0, 0.0) }
      .sorted(Ordering[Double].reverse)
    if (totals.length >= k) math.max(theta, totals(k - 1) - eps) else theta
  }

  /** Per-(root, d) locks serializing the lazy fuzzy-table backfill. */
  private val fuzzyBuildLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Distances D with a fuzzy_dD directory under `root` (any validity). */
  private def fuzzyDistancesOnDisk(root: String): Seq[Int] =
    graft.index.Fs.listNames(root)
      .collect { case n if n.startsWith("fuzzy_d") =>
        n.stripPrefix("fuzzy_d").toIntOption }
      .flatten.sorted

  /** Forwarder kept for source compatibility; see graft.core.Fuzzy. */
  def deleteVariants(s: String, d: Int): Set[String] =
    graft.core.Fuzzy.deleteVariants(s, d)

  /** Result-page assembly shared by the single-index and multi-
    * generation engines (one home, like [[assembleSnippets]]): ONE
    * top-k job whose k collected rows become a LocalRelation for the
    * snippet join — re-referencing the lazy top-k plan would recompute
    * the whole scoring pass at the final collect (measured ~2x the
    * latency) — and a LEFT join so a result doc is never dropped by
    * the snippet stage.
    */
  def searchPage(spark: org.apache.spark.sql.SparkSession,
      topK: DataFrame, snippets: Array[Long] => DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val topRows = topK.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ids = topRows.map(_._1).toArray
    topRows.toDF("doc_id", "score")
      .join(snippets(ids), Seq("doc_id"), "left")
      .orderBy(col("score").desc, col("doc_id").asc)
  }

  /** Snippet assembly shared by the single-index and multi-generation
    * engines (no drift in the slice arithmetic): join the per-doc
    * `first_pos` relation with the pruned text side and cut the ±window
    * token slice. 0-based first_pos p -> 1-based slice
    * [max(p-w,0)+1, p+w+1]; both ends clamp at the doc boundary.
    * Alignment contract documented on QueryEngine.snippetsFor.
    */
  def assembleSnippets(firstPos: DataFrame, textSide: DataFrame,
      window: Int): DataFrame = {
    val w = window // `window` would be ambiguous under functions._
    import org.apache.spark.sql.functions._
    val from = greatest(col("first_pos") - w, lit(0))
    firstPos
      .join(textSide.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("first_pos"),
        array_join(slice(split(col("text"), " "), from + lit(1),
          col("first_pos") + lit(w + 1) - from), " ").as("snippet"))
  }

  /** Does the sorted candidate array contain a value in [minDoc, maxDoc]?
    * The chunk-skip predicate (reference skip pointer, src/indexer/
    * block.rs:73-86, driven by a candidate set). Static so executor
    * closures don't capture an engine.
    */
  def rangeHasCandidate(minDoc: Long, maxDoc: Long, cand: Array[Long]): Boolean = {
    var lo = 0
    var hi = cand.length
    while (lo < hi) { // first candidate >= minDoc
      val mid = (lo + hi) >>> 1
      if (cand(mid) < minDoc) lo = mid + 1 else hi = mid
    }
    lo < cand.length && cand(lo) <= maxDoc
  }

}

/** The reference's tiered handle_query algebra (src/search_engine/
  * mod.rs:118-206) — the ONE home for the tier composition shared by
  * the single-index [[QueryEngine.handleQuery]] and the
  * multi-generation `MultiGenEngine.handleQuery`: tier 0 = exact-phrase
  * docs (unigram-scored), tier 1 = all-query-bigrams docs
  * (bigram-scored, phrase docs excluded), tier 2 = disjunctive unigram
  * matches; a doc keeps its HIGHEST tier, ordered (tier asc, score
  * desc, doc_id asc), top-k. The engines differ ONLY in how they score
  * (generation-local entries vs global statistics), injected via
  * [[TieredQuery.Scorers]] — so a tier-algebra fix lands in both
  * engines by construction (the claim-cap clamp below once had to be
  * written twice).
  *
  * PRUNED form: the claimed (phrase/bigram) doc sets are collected
  * under `claimCap` — limit(cap+1)-bounded BEFORE the collect — each
  * claimed tier is scored only for ITS members, and the unigram tier
  * serves from the top-(k + |claimed|) with a broadcast anti-join,
  * exact by a counting argument: at most |claimed| of those rows are
  * claimed, so >= k unclaimed survive. Over-cap sets (or no matching
  * unigrams) take the EXACT form: full scoring with DataFrame-side
  * claims, no driver collection.
  */
private[graft] object TieredQuery {

  /** First-guess width floor for the adaptive unclaimed-top-k below
    * (the `min(|claimed|, max(floor, 4k))` slack added to k). Test
    * knob: 0 forces tiny guesses so the escalation path is coverable
    * on small corpora. This object-level var is the JVM-wide DEFAULT
    * only — engines carry a per-instance override
    * (`handleQueryGuessFloor`, round-5 verdict finding #4) so two
    * concurrently-served roots with different settings cannot race.
    */
  private[graft] var guessFloor: Int = 50

  /** Count of adaptive rounds that found < k unclaimed docs and had to
    * re-run at the worst-case top-(k + |claimed|) width. An operational
    * metric: a climbing value means queries whose claimed (phrase/
    * bigram) docs dominate the unigram ranking more deeply than the
    * first guess — expected occasionally, pathological if constant.
    */
  private[graft] val adaptiveEscalations =
    new java.util.concurrent.atomic.AtomicLong

  /** Count of queries answered by the phrase tier alone: when the
    * phrase tier already holds >= k docs, `finish`'s tier-ascending
    * order guarantees the whole answer is tier 0, so the bigram-
    * conjunctive probe and tiers 1-2 (including the unigram top-k
    * machinery) are skipped outright (round-5 verdict finding #2).
    */
  private[graft] val phraseFillExits =
    new java.util.concurrent.atomic.AtomicLong

  /** The engine-specific scoring surface the shared algebra drives.
    * `topK(n)`/`candScores`/`exactScores` score UNIGRAMS;
    * `bigramCandScores`/`bigramExactScores` score the query bigrams
    * (only invoked when `bigramActive`).
    */
  final case class Scorers(
      unigramsPresent: Boolean,
      bigramActive: Boolean,
      phraseDocs: DataFrame,
      conjDocs: Option[DataFrame],
      topK: Int => DataFrame,
      candScores: Array[Long] => DataFrame,
      bigramCandScores: Array[Long] => DataFrame,
      exactScores: () => DataFrame,
      bigramExactScores: () => DataFrame,
      empty: () => DataFrame)

  /** Final tier ordering + projection (also the single-term wrapper's
    * finisher): highest tier wins via the (tier, score desc, doc_id)
    * sort — a doc appears in at most one tier by construction.
    */
  private def finish(tiers: DataFrame, k: Int): DataFrame =
    tiers.orderBy(col("tier").asc, col("score").desc, col("doc_id").asc)
      .limit(k).select("doc_id", "score", "tier")

  /** Single-term queries have no phrase/bigram tiers: the unigram top-k
    * IS the answer, labeled tier 2.
    */
  def singleTerm(topK: Int => DataFrame, k: Int): DataFrame =
    finish(topK(k).withColumn("tier", lit(2)), k)

  def run(spark: SparkSession, s: Scorers, k: Int, claimCap: Int,
      setPath: String => Unit, guessFloorOverride: Int = -1): DataFrame = {
    import spark.implicits._
    // per-engine floor when the caller set one (>= 0); the object var
    // stays the process default and the test hook
    val floor = if (guessFloorOverride >= 0) guessFloorOverride else guessFloor
    // Clamped: limit(cap + 1) with cap = Int.MaxValue (a natural way to
    // "disable" the cap) would overflow to a negative limit and throw.
    val cap = math.min(claimCap, Int.MaxValue - 1)
    // The bigram-conjunctive probe overlaps the phrase probe (guide
    // §2.6; the reference itself runs its strategies on separate
    // threads, search_engine/mod.rs:147-206): both are independent
    // cap-bounded collects, and running them sequentially paid two
    // driver round-trips back to back. Launched BEFORE the phrase
    // collect; on the phrase-fill early exit below the in-flight probe
    // completes unused — a bounded (cap+1-row) collect on executors the
    // exit leaves idle, never a correctness input. Engines without an
    // active bigram tier (conjDocs = None) launch nothing.
    val conjF = s.conjDocs.map { c =>
      scala.concurrent.Future(c.select(col("doc_id"))
        .limit(cap + 1).as[Long].collect())(
        scala.concurrent.ExecutionContext.global)
    }
    val phraseIds = s.phraseDocs.select(col("doc_id"))
      .limit(cap + 1).as[Long].collect()
    // Early exit when the phrase tier alone fills k: finish() orders
    // tier-ascending, so with >= k phrase docs the answer is entirely
    // tier 0 — the bigram-conjunctive probe, the bigram tier and the
    // unigram top-k (the expensive block-max pass) can contribute
    // nothing and are skipped. Exactness: tier 0 here is the SAME
    // candScores relation the full construction builds; finish takes
    // its top-k under the same (score desc, doc_id asc) order.
    if (s.unigramsPresent && k > 0 && phraseIds.length >= k &&
        phraseIds.length <= cap) {
      setPath("pruned")
      phraseFillExits.incrementAndGet()
      java.util.Arrays.sort(phraseIds)
      return finish(s.candScores(phraseIds).withColumn("tier", lit(0)), k)
    }
    val conjIds = conjF.map(f => scala.concurrent.Await.result(f,
      scala.concurrent.duration.Duration.Inf)).getOrElse(Array.empty[Long])
    if (s.unigramsPresent && phraseIds.length <= cap && conjIds.length <= cap) {
      setPath("pruned")
      java.util.Arrays.sort(phraseIds)
      val tier0 = s.candScores(phraseIds).withColumn("tier", lit(0))
      val phraseSet = phraseIds.toSet
      val tier1 =
        if (s.bigramActive) {
          val t1Ids = conjIds.filterNot(phraseSet)
          java.util.Arrays.sort(t1Ids)
          s.bigramCandScores(t1Ids).withColumn("tier", lit(1))
        } else s.empty().withColumn("tier", lit(1))
      val claimedIds = (phraseIds ++ conjIds).distinct
      // Unigram tier: exact top-k of the UNCLAIMED docs. The worst-case
      // guarantee is top-(k + |claimed|) (at most |claimed| of those
      // rows are claimed, so >= k unclaimed survive) — but for a
      // stopword-led phrase |claimed| can be 100k+, and a top-(k+100k)
      // request collapses block-max pruning (theta becomes the
      // ~100k-th score: near-exhaustive decode). ADAPTIVE escalation
      // keeps the exact answer with the pruning intact: ask for
      // top-(k + min(|claimed|, 5k)) first — claimed docs crowd the
      // top slots only so far — and re-run at the worst-case width
      // only when fewer than k unclaimed survive AND the first round
      // came back full (a short return = match universe exhausted).
      // Each round collects its (<= width) rows once, so the common
      // case is ONE sharply-pruned pass; the pathological case costs
      // one extra pass, bounded by the old construction's cost.
      val guess = k + math.min(claimedIds.length, math.max(floor, 4 * k))
      val tier2 =
        if (guess >= k + claimedIds.length) {
          // small claimed set: the guess already IS the worst-case
          // width — keep tier 2 LAZY so it fuses into the single final
          // job (an eager collect here serializes one extra multi-
          // second job at the 10^6-doc scale for no width savings).
          // claimedDf built only HERE: the adaptive branch filters
          // driver-side, and eagerly encoding up to 2x claimCap longs
          // into a LocalRelation would be wasted work on that path.
          val claimedDf = claimedIds.toSeq.toDF("doc_id")
          s.topK(k + claimedIds.length)
            .join(broadcast(claimedDf), Seq("doc_id"), "left_anti")
            .withColumn("tier", lit(2))
        } else {
          // large claimed set: adaptive rounds — each collects its
          // <= width top rows ONCE and filters claims DRIVER-side: the
          // claimed set already lives on the driver, so shipping it
          // back as a broadcast anti-join would add an exchange plus a
          // multi-MB broadcast to every executor for nothing. Common
          // case stays ONE sharply-pruned pass; escalation to the
          // worst-case top-(k + |claimed|) width runs only when the
          // first round proves BOTH that < k unclaimed survive AND
          // that deeper rows exist — a short topK return means the
          // match universe is exhausted, so the full-width
          // (theta-collapsing) re-run could not surface anything new.
          val claimedSet = claimedIds.toSet
          def round(m: Int): (Int, Array[(Long, Double)]) = {
            val top = s.topK(m).select(col("doc_id"), col("score"))
              .as[(Long, Double)].collect()
            (top.length, top.filterNot(r => claimedSet.contains(r._1)))
          }
          val (got, first) = round(guess)
          var rows = first
          if (rows.length < k && got == guess) {
            adaptiveEscalations.incrementAndGet()
            rows = round(k + claimedIds.length)._2
          }
          rows.toSeq.toDF("doc_id", "score").withColumn("tier", lit(2))
        }
      finish(tier0.unionByName(tier1).unionByName(tier2), k)
    } else {
      setPath("exact")
      // KNOWN COST: s.phraseDocs was evaluated once by the cap probe
      // above and its subtree appears twice more in this plan (the
      // tier-0 left_semi and the bigram tier's left_anti) — Spark's
      // exchange/AQE stage reuse usually dedups the identical
      // subtrees, but is not guaranteed. This is the rare over-cap
      // fallback whose budget is already "full distributed scoring"
      // (SCALE.md); persisting phraseDocs here would trade a
      // per-query cache leak on the serving path for that occasional
      // recompute, a worse deal.
      val scored = if (s.unigramsPresent) s.exactScores() else s.empty()
      val inPhrase = scored.join(s.phraseDocs, Seq("doc_id"), "left_semi")
        .withColumn("tier", lit(0))
      val bigramTier =
        if (s.bigramActive) {
          s.bigramExactScores()
            .join(s.conjDocs.get, Seq("doc_id"), "left_semi")
            .join(s.phraseDocs, Seq("doc_id"), "left_anti")
            .withColumn("tier", lit(1))
        } else s.empty().withColumn("tier", lit(1))
      val claimed = inPhrase.select(col("doc_id"))
        .unionByName(bigramTier.select(col("doc_id")))
      val rest = scored.join(claimed, Seq("doc_id"), "left_anti")
        .withColumn("tier", lit(2))
      finish(inPhrase.unionByName(bigramTier).unionByName(rest), k)
    }
  }
}
