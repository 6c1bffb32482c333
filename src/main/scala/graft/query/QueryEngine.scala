package graft.query

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.LocalFrame
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{ChunkCodec, Tokenizer}
import graft.index.{Bm25, DictRow, Generations, IndexBuilder, IndexMeta, IndexPaths,
  MaxInLiterals}

/** One built index directory as the engine reads it — a single-index
  * root or one generation of an incremental root: its meta, the
  * dictionary / postings / docs tables, the dictionary probe (optionally
  * served from a driver hash map) and the per-directory derived tables
  * (fuzzy variants, dict_by_len, vsm_norms). Term ids and df here are
  * LOCAL to the directory; [[QueryEngine]] combines readers under global
  * statistics.
  */
final class IndexReader(spark: SparkSession, val root: String) {
  import spark.implicits._

  private val paths = IndexPaths(root)
  val meta: IndexMeta = IndexBuilder.readMeta(root)
  // every table opens with the schema its writer produced: no Spark job
  val dictionary: DataFrame =
    IndexBuilder.reopen(spark, Seq(paths.dictionary), IndexBuilder.DictionarySchema)
  // recursive: postings live in per-term-range subdirs (stage-2 resume
  // granularity); ranges are disjoint in term_id, so pushed term_id
  // predicates prune whole range dirs' row groups exactly as before
  val postings: DataFrame = IndexBuilder.reopen(spark, Seq(paths.postings),
    IndexBuilder.PostingsSchema, recursive = true)
  val docs: DataFrame = IndexBuilder.readDocs(spark, paths.docs)

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

  /** Cache the dictionary — always safe: the lexicon is orders of
    * magnitude smaller than the corpus (~10^8 rows at 100 TB) and every
    * query path probes it.
    */
  def warmDictionary(): Unit = dictionary.cache().count()

  private var dictLocalMap: Option[java.util.HashMap[String, DictRow]] = None

  /** Whether [[warmDictionaryLocal]] installed the driver hash map. */
  def dictLocalInstalled: Boolean = dictLocalMap.isDefined

  /** The installed driver lexicon (term -> row). */
  private[query] def localDictionary: java.util.HashMap[String, DictRow] = dictLocalMap.get

  /** Materialize the dictionary as a driver hash map when `meta.n_terms`
    * fits under `cap` (see [[EngineConfig.dictLocalCap]]), else fall back
    * to [[warmDictionary]]. Returns whether the map was installed.
    */
  def warmDictionaryLocal(cap: Long): Boolean = {
    if (dictLocalMap.isDefined) return true
    if (meta.n_terms > cap) { warmDictionary(); return false }
    val m = new java.util.HashMap[String, DictRow](
      math.max(16, (meta.n_terms * 2).toInt))
    dictionary.as[DictRow].collect().foreach(r => m.put(r.term, r))
    dictLocalMap = Some(m)
    true
  }

  // -------------------------------------------------- derived tables

  /** Largest fuzzy_d{N} directory probed for when serving a distance
    * (a table built at D serves any d <= D: its variant set is a
    * superset of the d-deletion set, and the exact levenshtein verify
    * discards the extra candidates).
    */
  private val MaxFuzzyTableDistance = 3

  private val fuzzyIndexCache =
    scala.collection.concurrent.TrieMap.empty[Int, Option[DataFrame]]

  /** The writer of every backfilled derived table (one pipeline with
    * the index build, no drift).
    */
  private lazy val builder = new IndexBuilder(spark, Map.empty,
    graft.index.IndexConf(numParts = math.max(1, spark.sparkContext.defaultParallelism)))

  /** Whether the derived table at `dir` is current under `fp` (the
    * dictionary's token, see [[IndexBuilder.manifestComplete]]), after
    * one backfill through `write` when it is not. The write is
    * serialized per dir (two overwrite jobs into one dir would delete
    * each other's in-flight files), and the builder's stage runner
    * re-checks under the lock, so a table another engine just wrote is
    * not written again. A dir whose backfill failed (e.g. a read-only
    * mount) is remembered per JVM and not retried, so each fresh
    * engine over it does not re-run the write just to fail again.
    */
  private def backfilled(dir: String, fp: String)(write: IndexBuilder => Unit): Boolean = {
    def current = IndexBuilder.manifestComplete(dir, fp)
    current || !QueryEngine.backfillFailed.contains(dir) && {
      QueryEngine.backfillLocks.getOrElseUpdate(dir, new Object).synchronized {
        if (!QueryEngine.backfillFailed.contains(dir))
          try write(builder)
          catch {
            case scala.util.control.NonFatal(e) =>
              QueryEngine.backfillFailed.add(dir)
              System.err.println(s"[graft] backfill of $dir failed " +
                s"(serving without it): ${e.getMessage}")
          }
      }
      current
    }
  }

  /** Deletion-neighborhood fuzzy index (SymSpell; Garbe 2012) serving
    * distance d — the Spark-native equivalent of the reference's BK-tree
    * (src/my_bk_tree/mod.rs:3-26): every dictionary term is expanded to
    * its <=D-deletion variants, range-partitioned and sorted by variant.
    * A fuzzy lookup is then a pushed-down `variant IN (...)` probe over
    * a sorted table (row-group pruned), not a full-dictionary
    * levenshtein scan — the difference between O(|q|^d) and O(|lexicon|)
    * per query at the 10^8-term lexicons a 100 TB corpus produces.
    *
    * Resolution order: the smallest CURRENT persisted fuzzy_dD with
    * D >= d (current = built from the CURRENT dictionary — a rebuild
    * over a changed corpus rewrites the dictionary but not old
    * backfilled tables, which must not keep serving); otherwise a
    * one-time [[backfilled]] table AT d. Backfill only runs for
    * d <= MaxFuzzyTableDistance — the variant count grows ~C(len, d), so
    * larger distances go to the length-pruned dictionary probe instead
    * of writing an enormous table nobody asked to persist. If the root
    * is not writable (a read-only served snapshot), fuzzyTerms falls
    * back to that probe as well.
    */
  private def fuzzyIndexFor(d: Int): Option[DataFrame] =
    fuzzyIndexCache.getOrElseUpdate(d, {
      val dictToken = IndexBuilder.tableToken(paths.dictionary)
      // probe EVERY persisted distance (an older build may have written
      // a fuzzy_dD above the backfill cap). A table from
      // an older dictionary reads as stale: on a writable root it is
      // rebuilt once; on a read-only snapshot the dict_by_len probe or
      // the scan serves (slower but never wrong).
      QueryEngine.fuzzyDistancesOnDisk(root).filter(_ >= d)
        .find(dd => IndexBuilder.manifestComplete(paths.fuzzy(dd), dictToken))
        .orElse(Option(d).filter(_ <= MaxFuzzyTableDistance).filter(_ =>
          backfilled(paths.fuzzy(d), dictToken)(_.writeFuzzyIndex(dictionary, root, d))))
        .map(dd => IndexBuilder.reopen(spark, Seq(paths.fuzzy(dd)), IndexBuilder.FuzzySchema))
    })

  /** Fuzzy term lookup: all dictionary terms within Levenshtein distance d
    * (reference BK-tree, src/my_bk_tree/mod.rs:14-21), as (term, term_id,
    * df) rows.
    *
    * With [[warmDictionaryLocal]] installed the driver lexicon answers,
    * with no Spark job: its unigrams, bucketed by code-point length on
    * the first fuzzy call ([[FuzzyLexicon]]), are scanned over the
    * query's length band ± d with a Levenshtein bounded by d. It
    * returns the Spark paths' term set and moves none of their counters.
    *
    * Otherwise Spark answers: the variant-table
    * probe (the SymSpell guarantee: lev(a,b) <= d implies a and b share a
    * string reachable by <= d deletions from each), then an exact
    * levenshtein verify on the candidates. Queries longer than
    * Fuzzy.MaxTermLen code points (outside the variant table's domain)
    * and unavailable variant tables fall back to a length-prefiltered
    * dictionary scan. Recall is complete either way: the table carries
    * variants for terms up to MaxTermLen + d code points, covering every
    * term reachable from an in-domain query.
    *
    * COST. No index writer commits a derived table: the first Spark
    * lookup at d <= 3 writes fuzzy_d{d}, and the first above the
    * variant tables writes `dict_by_len`, each once per dictionary (a
    * job sized by the lexicon, inside that lookup's latency); later
    * lookups probe them. d > MaxFuzzyTableDistance (= 3) deliberately
    * builds no deletion table — a d=4 table is ~C(len,4) variants per
    * term (10-100x the d=2 table). Instead it probes `dict_by_len` (the
    * dictionary's unigrams sorted by (cp_len, term)) with a PUSHED
    * `cp_len BETWEEN len-d AND len+d` range predicate: parquet
    * row-group stats skip every length band but the query's, so the
    * levenshtein verify runs over O(lexicon ∩ length band), not
    * O(lexicon) — and the same probe serves queries beyond
    * Fuzzy.MaxTermLen (outside the variant tables' domain) at ANY d.
    * PlanSpec asserts the pushdown; [[QueryEngine.fuzzyRangeProbes]]
    * counts these lookups.
    *
    * Only when dict_by_len is not current and cannot be written (a
    * read-only root) does the O(|lexicon|) length-prefiltered
    * dictionary scan run — counted in [[QueryEngine.fuzzyScanFallbacks]].
    * A read-only snapshot of a fresh build holds neither table, so
    * every Spark lookup on it scans: warm the root before it is made
    * read-only, with one Spark lookup at d = 1 and one at d = 4 (the
    * two writes; BENCH.md times both paths).
    */
  def fuzzyTerms(q: String, d: Int): DataFrame =
    if (dictLocalInstalled)
      LocalFrame(spark, QueryEngine.FuzzySchema, fuzzyLexicon.within(q, d).map(r =>
        InternalRow(UTF8String.fromString(r.term), r.term_id, r.df)))
    else sparkFuzzyTerms(q, d)

  /** The installed lexicon's unigrams by code-point length. */
  private lazy val fuzzyLexicon: FuzzyLexicon = {
    import scala.jdk.CollectionConverters._
    FuzzyLexicon(localDictionary.values.asScala)
  }

  private def sparkFuzzyTerms(q: String, d: Int): DataFrame = {
    val qCp = q.codePointCount(0, q.length)
    val idx = if (qCp <= graft.core.Fuzzy.MaxTermLen) fuzzyIndexFor(d) else None
    val candidates = idx match {
      case Some(fi) =>
        fi.filter($"variant".isin(graft.core.Fuzzy.deleteVariants(q, d).toSeq: _*))
          .select($"term", $"term_id", $"df").distinct()
      case None if dictByLen.isDefined =>
        QueryEngine.fuzzyRangeProbes.incrementAndGet()
        dictByLen.get.filter($"cp_len" >= lit(qCp - d) && $"cp_len" <= lit(qCp + d))
      case None =>
        QueryEngine.fuzzyScanFallbacks.incrementAndGet()
        // +-d bound on CODE POINTS (Spark's length() counts code
        // points; the JVM String.length counts UTF-16 units and would
        // under-bound for supplementary-plane queries, dropping true
        // matches from the prefilter)
        dictionary.filter(length($"term") >= lit(qCp - d) && length($"term") <= lit(qCp + d))
    }
    // unigrams ONLY on every path: a bigram-indexed dictionary also
    // holds space-joined pseudo-terms ("table scan"), and without this
    // filter fuzzyTerms("tablescan", 1) would surface them — surprising
    // results and an engine/oracle divergence (the scalar oracle's
    // fuzzy searches unigram postings keys)
    candidates.filter(!$"term".contains(" "))
      .filter(levenshtein($"term", lit(q)) <= d)
      .select($"term", $"term_id", $"df")
  }

  /** The `dict_by_len` layout (the dictionary's unigrams sorted by
    * (cp_len, term), see IndexBuilder.writeDictByLen): current under
    * the dictionary's token, or [[backfilled]] once. None when it is
    * neither (a read-only root whose table is absent, truncated or from
    * another dictionary): the counted scan fallback serves those.
    */
  private lazy val dictByLen: Option[DataFrame] =
    Some(paths.dictByLen)
      .filter(backfilled(_, IndexBuilder.tableToken(paths.dictionary) +
        IndexBuilder.DictByLenFormatTag)(_.writeDictByLen(dictionary, root)))
      .map(dir => IndexBuilder.reopen(spark, Seq(dir), IndexBuilder.DictByLenSchema))

  /** The vsm_norms table (see IndexBuilder.writeVsmNorms): loaded from
    * the index root when a current persisted copy exists, else
    * [[backfilled]] once; on a read-only root whose backfill fails, the
    * norms are computed per-reader in memory (slower — a full postings
    * pass per reader instance — but never wrong).
    */
  lazy val vsmNorms: DataFrame =
    if (backfilled(paths.vsmNorms,
        IndexBuilder.tableToken(paths.dictionary) + IndexBuilder.VsmNormsFormatTag)(
        _.writeVsmNorms(postings, dictionary, root)))
      IndexBuilder.reopen(spark, Seq(paths.vsmNorms), IndexBuilder.VsmNormsSchema)
    else
      // read-only root: the WRITER's computation (one shared home, no
      // drift), PERSISTED — without the cache every vsmScores action
      // would re-run the full postings-pass norm job. (doc_id, double)
      // rows: ~16 B/doc, spills to disk beyond memory.
      builder.vsmNormsDf(postings, dictionary)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
}

/** The query engine (SURVEY.md §3.2/§3.3) over a set of [[IndexReader]]s:
  * `root` itself when it is one built index, else its live generations
  * (`Generations.genDirs`) — a single index is a one-generation set, so
  * every serving path, the driver-local gate and the tombstone filter
  * are one code path for both kinds of root.
  *
  * GLOBAL statistics: BM25 idf and avgdl are recomputed over the set
  * (per-generation df summed; avgdl doc-weighted), so scores equal a
  * from-scratch build over the concatenated corpus bit-for-bit — see
  * [[TermStats]]. Generation doc_id ranges are disjoint, so doc-level
  * results union losslessly; term_ids are generation-LOCAL and never
  * leave the engine.
  *
  * Spark-first shapes:
  *  - term lookup: dictionary probe per reader (a driver hash map when
  *    warmed) — the reference's in-memory dict probe
  *    (src/in_memory_dict/map_in_memory_dict.rs);
  *  - postings fetch: ONE multi-path Parquet scan over every reader's
  *    `postings` table, pruned by `term_id IN (...)` (the union of the
  *    readers' local ids — rows whose local id collides across readers
  *    are dropped before any byte is decoded); the table is range-
  *    partitioned and sorted by (term_id, chunk_seq), so row-group
  *    min/max stats skip everything else (the reference's block_id
  *    seeks, src/indexer/block.rs:143-169). The owning reader of a row
  *    is recovered from its file path (the dir segment before
  *    `postings`) — robust for MERGED generations, whose doc ranges are
  *    non-contiguous and cannot be interval-mapped;
  *  - chunk skipping: explicit `min_doc_id`/`max_doc_id`/`max_impact`
  *    column predicates (the reference's per-chunk skip pointer,
  *    src/indexer/chunk.rs:9, plus the north rule's block-max WAND);
  *  - top-k: orderBy(score desc, doc_id asc).limit(k) which Spark plans as
  *    TakeOrderedAndProject — a distributed bounded heap (the reference's
  *    BinaryHeap, src/scoring/mod.rs:6-31, with a deterministic tie-break).
  */
class QueryEngine private (spark: SparkSession, lemmas: Map[String, String],
    shared: QueryEngine.Shared, val conf: EngineConfig, residentBudget: Long) {
  import spark.implicits._

  /** An engine over `root` (a built index or a generations root) with
    * the tuning values `conf`.
    */
  def this(spark: SparkSession, root: String, lemmas: Map[String, String] = Map.empty,
      conf: EngineConfig = EngineConfig()) =
    this(spark, lemmas, new QueryEngine.Shared(spark, root), conf,
      QueryEngine.residentBudget(Runtime.getRuntime.maxMemory))

  /** An engine over the same root with the config `f(conf)`; this engine
    * is unchanged. No Spark job runs: the new engine shares this one's
    * readers (their warmed dictionaries and driver maps included), the
    * tombstone relation, the multi-reader relations and the tombstone
    * array collected when the batches' recorded sizes fit a
    * [[EngineConfig.liveDocsCap]]. The new engine applies its own cap:
    * above the recorded sizes it decides from the distinct count again.
    */
  def withConfig(f: EngineConfig => EngineConfig): QueryEngine =
    new QueryEngine(spark, lemmas, shared, f(conf), residentBudget)

  /** This engine with the resident budget `bytes` in place of the one
    * derived from the driver heap (0 shuts it: no postings and no docs
    * held), sharing its state as [[withConfig]] does.
    */
  private[graft] def withResidentBudget(bytes: Long): QueryEngine =
    new QueryEngine(spark, lemmas, shared, conf, bytes)

  /** The index directories served, in generation order. */
  val gens: Seq[String] = shared.gens
  val readers: Seq[IndexReader] = shared.readers

  /** The per-generation readers (each answers `lookupTerms` with its
    * own local rows).
    */
  def engines: Seq[IndexReader] = readers

  /** Global statistics: a single index's own meta; over generations,
    * summed n_docs (and n_terms/n_postings, upper bounds), avgdl from
    * the summed corpus length — the same Long-sum / count expression a
    * single build computes, so it round-trips exactly.
    */
  val meta: IndexMeta = shared.meta
  def nDocs: Long = meta.n_docs
  def avgdl: Double = meta.avgdl

  /** The one reader of a single-index (or one-generation) root: the
    * raw dictionary and the reference-archaeology scorers are not served
    * across generations (compact first).
    */
  private def single: IndexReader = {
    require(readers.size == 1,
      s"${shared.root} holds ${readers.size} generations; this call needs one index (compact first)")
    readers.head
  }

  def dictionary: DataFrame = single.dictionary

  /** Every reader's postings as one relation (a multi-path scan). */
  def postings: DataFrame = shared.postings

  /** Every reader's docs table as one relation; doc_ids are globally
    * disjoint, so each doc appears exactly once.
    */
  def docs: DataFrame = shared.docs

  // ------------------------------------------------------------ deletes

  /** Tombstoned doc_ids (union of the root's committed `del-*` batches),
    * None when the root has no deletes. Lucene liveDocs semantics:
    * deleted docs are excluded from every doc-level result and from the
    * scoring FOLD itself (they never emit fold rows, so theta, the
    * candidate set and the top-k limit all operate on survivors only —
    * exact top-k over the live corpus), while global statistics
    * (N, df, avgdl) and chunk block-max bounds stay PRE-DELETE until
    * compaction purges the postings. Stale bounds remain valid UPPER
    * bounds for survivor scores, so pruning stays sound, just slightly
    * less tight. Term-level surfaces (suggest, fuzzyTerms, dictionary
    * df) are likewise unaffected until compaction — exactly Lucene's
    * docFreq-includes-deletes behavior, documented here so nobody
    * "fixes" it into a per-query df recount (which would need a
    * per-term deleted-df table rebuilt on every delete).
    */
  val deletedIds: Option[DataFrame] = shared.deletedIds

  /** The collected liveDocs complement (sorted tombstoned ids), resolved
    * by [[warmDictionaryLocal]] or else on the first delete-filtered
    * query: None when the root has no deletes OR the tombstone set
    * outgrew [[EngineConfig.liveDocsCap]].
    */
  private[query] lazy val deletedLocal: Option[Broadcast[Array[Long]]] =
    deletedIds.flatMap { d =>
      val cap = math.min(conf.liveDocsCap, Int.MaxValue - 2L).toInt
      // the batches' recorded sizes fit: every id, one scan job, shared
      // by every engine over the root
      if (shared.tombstoneBound <= cap) Some(shared.tombstones)
      else {
        // batches overlap or the set is too large: collect cap+1
        // distinct rows and decide from the length
        val ids = d.limit(cap + 1).as[Long].collect()
        if (ids.length > cap) None
        else {
          java.util.Arrays.sort(ids)
          Some(spark.sparkContext.broadcast(ids))
        }
      }
    }

  /** Drop tombstoned doc_ids from `df`; no-op (nothing added to the plan
    * at all) on roots without deletes. Under [[EngineConfig.liveDocsCap]]
    * this is a binary-search filter against the broadcast sorted array —
    * it fuses into the surrounding stage with no exchange; above the cap
    * it is a distributed anti-join against the del-* parquet.
    */
  private def dropDeleted(df: DataFrame): DataFrame =
    deletedIds.fold(df) { d =>
      deletedLocal match {
        case Some(bc) =>
          val live = udf((id: Long) =>
            java.util.Arrays.binarySearch(bc.value, id) < 0)
          df.filter(live($"doc_id"))
        case None => df.join(d, Seq("doc_id"), "left_anti")
      }
    }

  /** Driver-side liveness test for the local gate: everything on a root
    * without deletes, the collected tombstone array under
    * [[EngineConfig.liveDocsCap]], None (the gate stays shut) above it.
    */
  private def liveLocally: Option[Long => Boolean] =
    if (deletedIds.isEmpty) Some(_ => true)
    else deletedLocal.map { bc =>
      val dead = bc.value
      (id: Long) => java.util.Arrays.binarySearch(dead, id) < 0
    }

  // --------------------------------------------------------- term stats

  /** A term set's dictionary view: each reader's local rows (ONE probe
    * per reader per set, shared by every consumer of a call) and the
    * GLOBAL entries the scorers use. On one reader the entries are its
    * own rows. Over generations an entry has the summed df and cf, idf
    * over the global n_docs, max_impact = that idf × the largest local
    * max_impact / local idf (the tf/dl part of a bound is
    * statistics-free, so the rescaled value is a valid global upper
    * bound and block-max pruning works without compacting first), and
    * term_id = `keyBase` + the term's rank in UTF-8 byte order — the
    * order a compacted root's dense ids encode, so folds in ascending
    * term_id are bit-identical to the compacted index (and the oracle).
    * `keyBase` keeps a second set's ids (handleQuery's bigrams) apart
    * from the first's when both feed one driver-local decode.
    */
  private final class TermStats(terms: Seq[String], keyBase: Long = 0L) {
    val local: Seq[Map[String, DictRow]] =
      readers.map(_.lookupTerms(terms).map(t => t.term -> t).toMap)
    val entries: Seq[DictRow] =
      if (readers.size == 1) local.head.values.toSeq.sortBy(_.term_id)
      else terms.distinct.filter(t => local.exists(_.contains(t)))
        .sorted(Tokenizer.utf8Ordering).zipWithIndex.map { case (t, i) =>
          val rows = local.flatMap(_.get(t))
          val df = rows.map(_.df).sum
          val idf = Bm25.idf(meta.n_docs, df)
          DictRow(t, keyBase + i, df, rows.map(_.cf).sum, idf,
            idf * rows.map(r => r.max_impact / r.idf).foldLeft(0.0)(math.max))
        }
    val byTerm: Map[String, DictRow] = entries.map(e => e.term -> e).toMap
    def allPresent(ts: Seq[String]): Boolean = ts.forall(byTerm.contains)

    /** (reader, local row, global entry) for each reader holding one of `es`. */
    def pairs(es: Seq[DictRow]): Seq[(Int, DictRow, DictRow)] =
      local.zipWithIndex.flatMap { case (m, gi) =>
        es.flatMap(e => m.get(e.term).map(l => (gi, l, e)))
      }

    /** (reader, local row) of `ts` in every reader holding them. */
    def locals(ts: Seq[String]): Seq[(Int, DictRow)] =
      pairs(ts.flatMap(byTerm.get)).map { case (gi, l, _) => (gi, l) }
  }

  /** The global dictionary entries of `terms` (see [[TermStats]]): a
    * single index's own rows; over generations, global rows whose
    * term_id is the term's UTF-8 rank among `terms`.
    */
  def lookupTerms(terms: Seq[String]): Seq[DictRow] = new TermStats(terms).entries

  def queryTerms(query: String): Seq[String] =
    Tokenizer.tokenizeQuery(query, lemmas).unigrams.map(_.term).distinct

  // ---------------------------------------------------------- warming

  /** Cache every reader's dictionary (always safe: lexicon-sized). */
  def warmDictionary(): this.type = {
    readers.foreach(_.warmDictionary())
    this
  }

  /** Opt-in serving upgrade: each reader whose lexicon fits under
    * [[EngineConfig.dictLocalCap]] materializes its dictionary as a
    * driver-side hash map, so every [[lookupTerms]] becomes hash probes
    * instead of Spark jobs — per-query probe jobs (one PER GENERATION
    * per term set) are the dominant fixed cost of multi-generation
    * serving (BENCH.md round 5 fan-out anatomy). A reader above the cap
    * falls back to a cached distributed probe. Returns whether every
    * reader installed the map.
    *
    * The tombstoned ids are collected here too, so the first query
    * after a (re)open runs only its own jobs.
    */
  def warmDictionaryLocal(): Boolean = {
    val installed = readers.map(_.warmDictionaryLocal(conf.dictLocalCap)).forall(identity)
    deletedLocal
    installed
  }

  /** [[warmDictionaryLocal]], returning the engine. */
  def warmDictionariesLocal(): this.type = {
    warmDictionaryLocal()
    this
  }

  /** Whether every reader serves lookups from its driver hash map. */
  def dictLocalInstalled: Boolean = readers.forall(_.dictLocalInstalled)

  /** OPT-IN postings cache, for bench/small-corpus serving ONLY: at full
    * scale the postings table does not fit in cluster memory — serving
    * relies on the (term_id, chunk_seq) range layout + Parquet row-group
    * pruning instead, which [[warmDictionary]] leaves untouched.
    */
  def cachePostings(): this.type = {
    postings.cache().count()
    this
  }

  // ------------------------------------------------------ plan choice

  private def servesLocally(entries: Seq[DictRow]): Boolean =
    conf.localMaxPostings > 0 &&
      entries.iterator.map(_.df).sum <= conf.localMaxPostings &&
      liveLocally.isDefined

  private def positionalPruningPays(minDf: Long): Boolean =
    minDf <= conf.phraseMaxCandidates &&
      minDf * QueryEngine.PositionalPruneDensity < meta.n_docs

  /** Diagnostic: which path the last top-k took — "local" (driver-local
    * gate), "pruned", "fallback-cap" (tier-1 over wandCandidateCap),
    * "empty" (no candidate survived tier 1) or "exact".
    */
  var lastWandPath: String = ""

  /** Diagnostic: "local" | "pruned" | "exact" form taken by the last
    * handleQuery.
    */
  var lastHandlePath: String = ""

  // ------------------------------------------------------ postings reads

  /** `postings` rows of the (local) `termIds` with `_file` captured in
    * the scan stage, BELOW any join: input_file_name() is only defined
    * while the task reads the file and returns "" once rows cross an
    * exchange, so evaluating it above one would zero out reader recovery.
    * Catalyst still prunes unused columns through this projection. One
    * reader needs no path and projects a constant.
    */
  private def postingsWithFile(termIds: Seq[Long]): DataFrame = {
    val base = postings.filter($"term_id".isin(termIds.distinct: _*))
    val file = if (readers.size == 1) lit("") else input_file_name()
    base.select((file.as("_file") +: base.columns.toSeq.map(col)): _*)
  }

  /** (doc_id, fold_key, impact) rows for the global entries `es` across
    * every reader in one scan — fold_key is the entry's term_id, impacts
    * use its global idf (with `tfIdf`, the reference-parity weight
    * `Bm25.tfIdf` of its global df instead). `cand` (sorted) engages the
    * candidate-pruned read: chunks without a candidate are never
    * decoded, decoded postings are filtered to candidates. Tombstoned
    * docs are dropped at the fold-row level, so theta, candidate
    * selection and the final limit all see survivors only. None when no
    * reader holds any of `es`.
    */
  private def foldRows(st: TermStats, es: Seq[DictRow],
      cand: Option[Array[Long]] = None, tfIdf: Boolean = false): Option[DataFrame] = {
    val pairs = st.pairs(es)
    if (pairs.isEmpty) return None
    val info: Map[(Int, Long), (Long, Double, Long)] =
      pairs.map { case (gi, l, e) => (gi, l.term_id) -> (e.term_id, e.idf, e.df) }.toMap
    val bcCand = cand.map(spark.sparkContext.broadcast(_))
    // local copies: the closure must not capture the engine
    val gi = shared.genOf
    val (nd, avg, k1, b) = (meta.n_docs, meta.avgdl, meta.k1, meta.b)
    Some(dropDeleted(postingsWithFile(pairs.map(_._2.term_id))
      .select($"_file", $"term_id", $"min_doc_id", $"max_doc_id",
        $"n_postings", $"doc_gaps", $"tfs", $"dls")
      .as[(String, Long, Long, Long, Int, Array[Byte], Seq[Int], Seq[Int])]
      .flatMap { case (file, termId, minD, maxD, n, gaps, tfs, dls) =>
        // chunk skip before touching the blobs: a chunk whose doc range
        // holds no candidate is never decoded
        val rangeOk = bcCand.forall(bc => QueryEngine.rangeHasCandidate(minD, maxD, bc.value))
        (if (rangeOk) info.get((gi(file), termId)) else None) match {
          case None => Iterator.empty
          case Some((key, idf, df)) =>
            val ids = ChunkCodec.decodeDocGaps(gaps, n)
            val it = Iterator.tabulate(n)(i => (ids(i), key,
              if (tfIdf) Bm25.tfIdf(nd, df, tfs(i))
              else Bm25.impact(idf, tfs(i), dls(i), avg, k1, b)))
            bcCand.fold(it)(bc =>
              it.filter(r => java.util.Arrays.binarySearch(bc.value, r._1) >= 0))
        }
      }.toDF("doc_id", "fold_key", "impact")))
  }

  /** Doc_ids of ONE term across every reader (`pairs` = its (reader,
    * local term_id) pairs): doc_gaps-only decode, column pruning keeps
    * tfs/dls/pos_blob unread.
    */
  private def docIdsOf(pairs: Seq[(Int, DictRow)]): DataFrame = {
    if (pairs.isEmpty) return Seq.empty[Long].toDF("doc_id")
    val valid = pairs.map { case (g, l) => (g, l.term_id) }.toSet
    val gi = shared.genOf
    postingsWithFile(pairs.map(_._2.term_id))
      .select($"_file", $"term_id", $"n_postings", $"doc_gaps")
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (file, termId, n, gaps) =>
        if (!valid((gi(file), termId))) Iterator.empty
        else ChunkCodec.decodeDocGaps(gaps, n).iterator
      }.toDF("doc_id")
  }

  /** (doc_id, positions) of the (reader, local term_id) `pairs`,
    * optionally restricted to a sorted candidate array: a chunk whose doc
    * range holds no candidate is skipped undecoded.
    */
  private def positioned(pairs: Seq[(Int, DictRow)],
      bcCand: Option[Broadcast[Array[Long]]]): DataFrame = {
    if (pairs.isEmpty) return Seq.empty[(Long, Seq[Int])].toDF("doc_id", "positions")
    val valid = pairs.map { case (g, l) => (g, l.term_id) }.toSet
    val gi = shared.genOf
    postingsWithFile(pairs.map(_._2.term_id))
      .select($"_file", $"term_id", $"min_doc_id", $"max_doc_id",
        $"n_postings", $"doc_gaps", $"pos_blob")
      .as[(String, Long, Long, Long, Int, Array[Byte], Array[Byte])]
      .flatMap { case (file, termId, minD, maxD, n, gaps, posBlob) =>
        // metadata-only range skip before decoding (the reference's skip
        // pointer, src/indexer/block.rs:73-86, driven by a candidate set)
        if (!valid((gi(file), termId)) ||
            !bcCand.forall(bc => QueryEngine.rangeHasCandidate(minD, maxD, bc.value)))
          Iterator.empty
        else {
          val ids = ChunkCodec.decodeDocGaps(gaps, n)
          lazy val poss = ChunkCodec.decodePositions(posBlob, n)
          Iterator.tabulate(n)(i => i)
            .filter(i => bcCand.forall(bc =>
              java.util.Arrays.binarySearch(bc.value, ids(i)) >= 0))
            .map(i => (ids(i), poss(i).toSeq))
        }
      }.toDF("doc_id", "positions")
  }

  /** Whether this engine reads driver-local calls' chunk rows from the
    * shared [[ResidentPostings]]: the postings bytes the readers'
    * manifests record, summed, fit its resident budget (by default
    * [[QueryEngine.residentBudget]] of the driver's max heap).
    */
  private lazy val holdsResident: Boolean =
    residentBudget > 0 && shared.postingsBytes <= residentBudget

  /** Whether this engine reads text from the shared [[ResidentDocs]]:
    * the docs bytes the readers' manifests record fit its resident
    * budget together with the postings bytes.
    */
  private lazy val holdsDocs: Boolean =
    holdsResident && shared.docsBytes <= residentBudget - shared.postingsBytes

  /** Heap bytes of the postings this engine's root holds on the driver
    * (shared with every engine over it); 0 until loaded.
    */
  private[query] def residentBytes: Long = shared.residentBytes

  /** The chunk rows of `pairs` from every reader, decoded on the driver
    * under their global entries' term_ids, tombstoned docs dropped.
    * `pos_blob` is kept only for the entries in `posIds`. With
    * [[holdsResident]] the rows come from the driver arrays, which the
    * first such call loads in one job; otherwise, or while another call
    * is loading them, ONE job collects them.
    * Callers have checked [[servesLocally]].
    */
  private def localPostings(pairs: Seq[(Int, DictRow, DictRow)],
      posIds: Set[Long] = Set.empty): Map[Long, TermPostings] =
    if (pairs.isEmpty) Map.empty
    else (if (holdsResident) shared.resident else None) match {
      case Some(held) =>
        LocalServing.decode(pairs.flatMap { case (g, l, e) =>
          held(g).rows(l.term_id, e.term_id, posIds(e.term_id))
        }, liveLocally.get)
      case None => collectPostings(pairs, posIds)
    }

  /** [[localPostings]] without resident postings: ONE job collects the
    * chunk rows of `pairs` from every reader.
    */
  private def collectPostings(pairs: Seq[(Int, DictRow, DictRow)],
      posIds: Set[Long]): Map[Long, TermPostings] = {
    val termIds = pairs.map(_._2.term_id).distinct
    // the entry's term_id of each row, -1 for a row of a term another
    // reader asked for. One reader's entries carry its own term_ids, so
    // it skips the path lookup (measured ~10 ms a call on a small index)
    val (rows, k) =
      if (readers.size == 1) (postings.filter($"term_id".isin(termIds: _*)), $"term_id")
      else {
        val key = pairs.map { case (g, l, e) => (g, l.term_id) -> e.term_id }.toMap
        val gi = shared.genOf
        (postingsWithFile(termIds),
          udf((file: String, termId: Long) => key.getOrElse((gi(file), termId), -1L))
            .apply($"_file", $"term_id"))
      }
    val pos =
      if (posIds.isEmpty) lit(null).cast("binary")
      else when(k.isin(posIds.toSeq: _*), $"pos_blob")
    LocalServing.decode(rows
      .select(k.as("term_id"), $"n_postings", $"doc_gaps", $"tfs", $"dls", pos.as("pos_blob"))
      .filter($"term_id" >= 0)
      .as[LocalChunk].collect().toSeq, liveLocally.get)
  }

  // -------------------------------------------------------------- scoring

  /** Per-doc fixed-order fold of (fold_key, impact) rows: impacts summed
    * in ascending fold_key order from 0.0 (sort_array over collected
    * structs), so scores are bit-identical at any parallelism and to
    * the compacted build (SURVEY.md §7.3(2)).
    */
  private def aggScores(rows: DataFrame): DataFrame =
    rows.groupBy($"doc_id")
      .agg(aggregate(
        sort_array(collect_list(struct($"fold_key", $"impact"))),
        lit(0.0),
        (acc, x) => acc + x.getField("impact")).as("score"))

  /** Exact BM25 scores of every (live) doc holding any of `es`. */
  private def exactScores(st: TermStats, es: Seq[DictRow]): DataFrame =
    foldRows(st, es).fold(emptyScores())(aggScores)

  /** Exact BM25 scores RESTRICTED to `cand` (a SORTED doc_id array),
    * through the candidate-pruned chunk read: a candidate's complete
    * postings are included, so its score equals the all-docs fold
    * bit-for-bit.
    */
  private def scoresForCandidates(st: TermStats, es: Seq[DictRow],
      cand: Array[Long]): DataFrame =
    if (es.isEmpty || cand.isEmpty) emptyScores()
    else foldRows(st, es, Some(cand)).fold(emptyScores())(aggScores)

  private def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy($"score".desc, $"doc_id".asc).limit(k)

  /** A driver-local answer: `rows` of `schema` as a [[LocalFrame]]. */
  private def local(schema: StructType, rows: Seq[InternalRow]): DataFrame =
    LocalFrame(spark, schema, rows)

  /** (doc_id, score) rows computed on the driver. */
  private def localScores(scored: Seq[(Long, Double)]): DataFrame =
    local(QueryEngine.ScoresSchema, scored.map { case (d, s) => InternalRow(d, s) })

  private def emptyScores(): DataFrame = localScores(Nil)

  /** Disjunctive (free-text) BM25 top-k. Block-max pruning applies
    * when the posting volume reaches [[EngineConfig.wandMinPostings]];
    * every path returns identical results (proof sketch on
    * [[maxScoreTopK]]; asserted in tests).
    */
  def bm25TopK(query: String, k: Int): DataFrame =
    bm25TopKForTerms(queryTerms(query), k)

  def bm25TopKForTerms(terms: Seq[String], k: Int): DataFrame = {
    val st = new TermStats(terms)
    topKFromEntries(st, st.entries, k)
  }

  /** The top-k dispatch: driver-local under the gate, block-max pruned
    * above [[EngineConfig.wandMinPostings]], else direct — identical results.
    */
  private def topKFromEntries(st: TermStats, es: Seq[DictRow], k: Int): DataFrame =
    if (es.isEmpty) emptyScores()
    else if (servesLocally(es)) {
      lastWandPath = "local"
      val ps = localPostings(st.pairs(es))
      localScores(LocalServing.topK(LocalServing.scores(es, ps, meta), k))
    } else if (es.map(_.df).sum >= conf.wandMinPostings) maxScoreTopK(st, es, k)
    else {
      lastWandPath = "exact"
      topK(exactScores(st, es), k)
    }

  /** Exact block-max top-k pruning — the batch MaxScore strategy (Turtle
    * & Flood '95; block-max refinement after Ding & Suel '11), on top of
    * the chunk metadata columns:
    *
    *  1. θ = k-th largest single-posting impact of the term with the
    *     highest max_impact — a valid lower bound on the true k-th
    *     best total score (those k docs score at least that one impact).
    *  2. NON-ESSENTIAL terms: order terms by ascending max_impact and
    *     take the longest prefix whose cumulative max_impact < θ. A doc
    *     containing only non-essential terms scores < θ, so every true
    *     top-k doc appears in some ESSENTIAL term's postings.
    *  3. Candidates = essential terms' doc_ids whose essential sum plus
    *     the non-essential max_impacts reaches θ. Non-essential
    *     (stopword-scale) postings are then read with TWO levels of
    *     skipping: chunks whose [min_doc_id, max_doc_id] contains no
    *     candidate are never decoded (the reference's skip pointer,
    *     src/indexer/block.rs:73-86, driven by the candidate set), and
    *     decoded postings are filtered to candidates before scoring.
    *  4. Exact fixed-order fold + top-k with the deterministic tie-break.
    *
    * Over generations the max_impacts are the rescaled global bounds of
    * [[TermStats]]; their fp rounding can sit ~1 ulp below a true
    * impact, which the θ - Eps margin of every comparison absorbs.
    */
  private def maxScoreTopK(st: TermStats, es: Seq[DictRow], k: Int): DataFrame = {
    def exactPath(): DataFrame = {
      lastWandPath = "exact"
      topK(exactScores(st, es), k)
    }
    // Exactness of the tier-1 cut: every true top-k doc has total >= θ
    // and essSum + cumNonEssMax >= total, so it survives; a dropped
    // doc's true total < θ <= the k-th best, so even its (possibly
    // partial) computed score can never displace a top-k doc. The 1e-9
    // margin absorbs fp-reassociation noise in the unordered essSum
    // (scores are O(10); doubles carry ~1e-15 relative error).
    val Eps = 1e-9
    val best = es.maxBy(e => (e.max_impact, e.term_id))
    // the best term's (largest) postings decode ONCE: the persisted fold
    // rows serve both the θ pass and the essential union below
    val bestRows = foldRows(st, Seq(best)).get
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val thetaRows = bestRows.select($"impact".as("value"))
        .orderBy($"value".desc).limit(k).as[Double].collect()
      val theta = if (thetaRows.length < k) 0.0 else thetaRows.last
      if (theta <= 0.0) return exactPath()
      // shared driver-side split (QueryEngine.nonEssentialSplit)
      val nonEss = QueryEngine.nonEssentialSplit(
        es.sortBy(e => (e.max_impact, e.term_id)).map(e => e.term_id -> e.max_impact),
        theta - Eps)
      if (nonEss.isEmpty) return exactPath()
      val cumNonEssMax = es.filter(e => nonEss(e.term_id)).map(_.max_impact).sum
      val essOther = es.filter(e => !nonEss(e.term_id) && e != best)
      val essRows = (Seq(bestRows) ++ foldRows(st, essOther))
        .reduce(_ unionByName _)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // Cap guard and materialization fused: collect at most cap+1
        // rows and branch on the length — the over-cap case early-exits
        // once cap+1 rows surface instead of counting the full candidate
        // set. Driver-memory bound: CollectLimit scans reduce partitions
        // in scale-up waves, each task shipping at most the REMAINING
        // (<= cap+1) rows; candidates are hash-partitioned by doc_id
        // (uniform), so the guard fires within a wave of the cap.
        // Downstream consumers (refineTheta, the candIds filter) are
        // order-insensitive, so the limit's row order cannot perturb
        // results.
        val capI = math.min(conf.wandCandidateCap, Int.MaxValue - 2L).toInt
        val candPairs = essRows.groupBy($"doc_id")
          .agg(sum($"impact").as("ess_sum"))
          .filter($"ess_sum" + cumNonEssMax >= theta - Eps)
          .as[(Long, Double)]
          .limit(capI + 1).collect()
        if (candPairs.isEmpty) {
          lastWandPath = "empty"
          return emptyScores()
        }
        if (candPairs.length > capI) { // pruning not worth the broadcast
          val r = exactPath()
          lastWandPath = "fallback-cap"
          return r
        }
        lastWandPath = "pruned"
        val nonEssEs = es.filter(e => nonEss(e.term_id))
        // θ REFINEMENT — shared arithmetic in QueryEngine.refineTheta;
        // the one distributed job (top-C candidates' non-essential sums)
        // is injected as the callback
        val thetaEff = QueryEngine.refineTheta(candPairs, k, theta, Eps,
          conf.refineMinCandidates, { topCIds =>
            foldRows(st, nonEssEs, Some(topCIds)).fold(Map.empty[Long, Double])(
              _.groupBy($"doc_id").agg(sum($"impact").as("ne_sum"))
                .as[(Long, Double)].collect().toMap)
          })
        val candIds = candPairs.iterator
          .filter { case (_, s) => s + cumNonEssMax >= thetaEff - Eps }
          .map(_._1).toArray
        if (candIds.isEmpty) return emptyScores()
        java.util.Arrays.sort(candIds)
        val out = topK(aggScores((Seq(essRows) ++ foldRows(st, nonEssEs, Some(candIds)))
          .reduce(_ unionByName _)), k)
        // eager: the persisted rows must stay alive until collection
        spark.createDataFrame(out.as[(Long, Double)].collect().toSeq)
          .toDF("doc_id", "score")
      } finally essRows.unpersist(false)
    } finally bestRows.unpersist(false)
  }

  /** Exact BM25 scores for every doc matching any of `terms` (no limit) —
    * for oracle comparisons and re-ranking under rounded scores.
    */
  def bm25Scores(terms: Seq[String]): DataFrame = {
    val st = new TermStats(terms)
    exactScores(st, st.entries)
  }

  // --------------------------------------------------- tiered handleQuery

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
    * One dictionary probe per reader serves each term set (unigrams,
    * bigrams) for scoring, the phrase chain and the conjunctive
    * intersection. Under the [[EngineConfig.localMaxPostings]] gate (unigram plus
    * active bigram df) the tiers are computed on the driver by
    * [[LocalServing.tiered]] from the terms' chunk rows
    * ([[localPostings]]); above it by [[tieredTopK]].
    * Over generations every tier scores under global statistics, so
    * results are tier-, rank- and BIT-identical to the same corpus
    * compacted into one index (IncrementalSpec).
    */
  def handleQuery(query: String, k: Int): DataFrame = {
    // phrase tier matches the FULL lemma sequence (duplicates kept:
    // "to be or not to be" must not phrase-match "to be or not");
    // scoring and the probe dedup
    val parsed = Tokenizer.tokenizeQuery(query, lemmas)
    val phraseSeq = parsed.unigrams.map(_.term)
    val terms = phraseSeq.distinct
    // keep the 3-column (doc_id, score, tier) contract even for a
    // tokenless query — a 2-column return breaks callers that select
    // the tier column
    if (terms.isEmpty) return emptyScores().withColumn("tier", lit(2))
    val st = new TermStats(terms)
    val entries = st.entries
    if (phraseSeq.size == 1 && !servesLocally(entries)) {
      // no phrase or bigram tier: the unigram top-k, labeled tier 2
      lastHandlePath = "pruned"
      return TieredQuery.finish(topKFromEntries(st, entries, k).withColumn("tier", lit(2)), k)
    }
    val bigramTerms = parsed.bigrams.map(_.term).distinct
    val bst = new TermStats(bigramTerms, keyBase = entries.size)
    // the bigram tier engages only when EVERY query bigram exists as an
    // indexed term (global presence == compacted-dictionary presence)
    val bigramActive = bigramTerms.nonEmpty && bst.allPresent(bigramTerms)
    val bigramEntries = if (bigramActive) bst.entries else Nil
    if (servesLocally(entries ++ bigramEntries)) {
      lastHandlePath = "local"
      // positions only when a phrase can match: 2+ tokens, all present
      val posIds =
        if (phraseSeq.size > 1 && entries.size == terms.size) entries.map(_.term_id).toSet
        else Set.empty[Long]
      val ps = localPostings(st.pairs(entries) ++ bst.pairs(bigramEntries), posIds)
      return local(QueryEngine.TieredSchema,
        LocalServing.tiered(phraseSeq, entries, bigramActive, bigramEntries, ps, meta, k)
          .map { case (d, s, t) => InternalRow(d, s, t) })
    }
    tieredTopK(phraseSeq, st, bigramTerms, bst, bigramActive, k)
  }

  /** The distributed tier composition of [[handleQuery]], under the
    * claim cap ([[EngineConfig.handleQueryClaimCap]]).
    *
    * PRUNED form: the claimed (phrase/bigram) doc sets are collected
    * under the cap — limit(cap+1)-bounded BEFORE the collect — each
    * claimed tier is scored only for ITS members, and the unigram tier
    * serves from the top-(k + |claimed|) with a broadcast anti-join,
    * exact by a counting argument: at most |claimed| of those rows are
    * claimed, so >= k unclaimed survive. Over-cap sets (or no matching
    * unigrams) take the EXACT form: full scoring with DataFrame-side
    * claims, no driver collection.
    */
  private def tieredTopK(phraseSeq: Seq[String], st: TermStats,
      bigramTerms: Seq[String], bst: TermStats, bigramActive: Boolean,
      k: Int): DataFrame = {
    import TieredQuery.{finish, TaggedCollect}
    val entries = st.entries
    val unigramsPresent = entries.nonEmpty
    // tier claims are delete-filtered too: a tombstoned phrase doc must
    // neither appear in tier 0 nor count against the unigram tier's
    // claimed set
    val phrase = dropDeleted(phraseDocs(phraseSeq, st))
    val conj = if (bigramActive) Some(dropDeleted(conjunctiveDocs(bigramTerms, bst))) else None
    // Clamped: limit(cap + 1) with cap = Int.MaxValue (a natural way to
    // "disable" the cap) would overflow to a negative limit and throw.
    val cap = math.min(conf.handleQueryClaimCap, Int.MaxValue - 1)
    // The bigram-conjunctive probe overlaps the phrase probe (guide
    // §2.6; the reference itself runs its strategies on separate
    // threads, search_engine/mod.rs:147-206): both are independent
    // cap-bounded collects, and running them sequentially paid two
    // driver round-trips back to back. Launched BEFORE the phrase
    // collect; the phrase-fill early exit below cancels it. Without an
    // active bigram tier (conj = None) nothing is launched.
    val conjProbe = conj.map(c => new TaggedCollect(spark.sparkContext,
      () => c.select($"doc_id").limit(cap + 1).as[Long].collect()))
    val phraseIds = phrase.select($"doc_id").limit(cap + 1).as[Long].collect()
    // Early exit when the phrase tier alone fills k: finish() orders
    // tier-ascending, so with >= k phrase docs the answer is entirely
    // tier 0 — the bigram-conjunctive probe, the bigram tier and the
    // unigram top-k (the expensive block-max pass) can contribute
    // nothing and are skipped. Exactness: tier 0 here is the SAME
    // candidate-scored relation the full construction builds; finish
    // takes its top-k under the same (score desc, doc_id asc) order.
    if (unigramsPresent && k > 0 && phraseIds.length >= k && phraseIds.length <= cap) {
      lastHandlePath = "pruned"
      TieredQuery.phraseFillExits.incrementAndGet()
      conjProbe.foreach(_.cancel())
      java.util.Arrays.sort(phraseIds)
      return finish(scoresForCandidates(st, entries, phraseIds).withColumn("tier", lit(0)), k)
    }
    val conjIds = conjProbe.map(_.result()).getOrElse(Array.empty[Long])
    if (unigramsPresent && phraseIds.length <= cap && conjIds.length <= cap) {
      lastHandlePath = "pruned"
      java.util.Arrays.sort(phraseIds)
      val tier0 = scoresForCandidates(st, entries, phraseIds).withColumn("tier", lit(0))
      val phraseSet = phraseIds.toSet
      val tier1 =
        if (bigramActive) {
          val t1Ids = conjIds.filterNot(phraseSet)
          java.util.Arrays.sort(t1Ids)
          scoresForCandidates(bst, bst.entries, t1Ids).withColumn("tier", lit(1))
        } else emptyScores().withColumn("tier", lit(1))
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
      val guess = k + math.min(claimedIds.length, math.max(TieredQuery.GuessFloor, 4 * k))
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
          topKFromEntries(st, entries, k + claimedIds.length)
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
            val top = topKFromEntries(st, entries, m).select($"doc_id", $"score")
              .as[(Long, Double)].collect()
            (top.length, top.filterNot(r => claimedSet.contains(r._1)))
          }
          val (got, first) = round(guess)
          var rows = first
          if (rows.length < k && got == guess) {
            TieredQuery.adaptiveEscalations.incrementAndGet()
            rows = round(k + claimedIds.length)._2
          }
          rows.toSeq.toDF("doc_id", "score").withColumn("tier", lit(2))
        }
      finish(tier0.unionByName(tier1).unionByName(tier2), k)
    } else {
      lastHandlePath = "exact"
      // KNOWN COST: `phrase` was evaluated once by the cap probe above
      // and its subtree appears twice more in this plan (the tier-0
      // left_semi and the bigram tier's left_anti) — Spark's
      // exchange/AQE stage reuse usually dedups the identical
      // subtrees, but is not guaranteed. This is the rare over-cap
      // fallback whose budget is already "full distributed scoring"
      // (SCALE.md); persisting `phrase` here would trade a per-query
      // cache leak on the serving path for that occasional recompute,
      // a worse deal.
      val scored = if (unigramsPresent) exactScores(st, entries) else emptyScores()
      val inPhrase = scored.join(phrase, Seq("doc_id"), "left_semi")
        .withColumn("tier", lit(0))
      val bigramTier =
        if (bigramActive) {
          // thread 2's bigram_scores
          exactScores(bst, bst.entries)
            .join(conj.get, Seq("doc_id"), "left_semi")
            .join(phrase, Seq("doc_id"), "left_anti")
            .withColumn("tier", lit(1))
        } else emptyScores().withColumn("tier", lit(1))
      val claimed = inPhrase.select($"doc_id").unionByName(bigramTier.select($"doc_id"))
      val rest = scored.join(claimed, Seq("doc_id"), "left_anti")
        .withColumn("tier", lit(2))
      finish(inPhrase.unionByName(bigramTier).unionByName(rest), k)
    }
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
    *  - selective (≤ `candidateCap` matching live docs, established by
    *    ONE cap-limited collect before any postings IO — driver memory
    *    is bounded by the cap, the MaxScore tier-1 guard pattern): score
    *    the collected doc_ids through the candidate-pruned chunk read —
    *    chunks whose [min_doc_id, max_doc_id] range contains no
    *    candidate are never decoded;
    *  - broad: left-semi join the fold rows against the allowed doc_ids
    *    BEFORE the per-doc fold (the join shares the fold's doc_id
    *    exchange). A broad filter touches most postings anyway, so
    *    candidate chunk-pruning would save nothing while shipping a huge
    *    broadcast.
    * The predicate scan reads every reader's docs table as one
    * multi-path relation (column-pruned to doc_id + the predicate
    * columns) and ships at most cap+1 ids to the driver. Under the
    * [[EngineConfig.localMaxPostings]] gate neither plan runs: see `filteredScores`.
    */
  def bm25ScoresFiltered(terms: Seq[String], pred: Column,
      candidateCap: Int = 20000): DataFrame =
    filteredScores(new TermStats(terms), pred, candidateCap, None)

  /** BM25 top-k under a metadata predicate. Post-filtering an
    * UNfiltered top-k is NOT equivalent (it returns < k rows whenever
    * any of the global top-k fail the predicate); this scores the
    * filtered candidate set and heaps over it.
    */
  def bm25TopKFiltered(query: String, k: Int, pred: Column): DataFrame =
    filteredScores(new TermStats(queryTerms(query)), pred, 20000, Some(k))

  /** [[bm25ScoresFiltered]], top-k'd when `k` is given. Under the
    * driver-local gate the decoded postings bound the candidates: the
    * terms' chunk rows ([[localPostings]]), then the predicate runs only
    * over the docs those postings hold (at most `conf.localMaxPostings`
    * rows from [[textFor]]: with resident docs a local relation Catalyst
    * filters on the driver, no Spark job; otherwise one job on the docs
    * parquet), and the allowed docs are scored and ranked on the driver.
    * The cap-limited candidate probe below is skipped there: a
    * CollectLimit scans the docs table in incremental jobs until it sees
    * cap+1 rows or the table ends.
    */
  private def filteredScores(st: TermStats, pred: Column,
      candidateCap: Int, k: Option[Int]): DataFrame = {
    def ranked(scored: DataFrame): DataFrame = k.fold(scored)(topK(scored, _))
    val es = st.entries
    if (es.isEmpty) return ranked(emptyScores())
    if (servesLocally(es)) {
      val ps = localPostings(st.pairs(es))
      val held = ps.valuesIterator.flatMap(_.docIds.iterator).toArray.distinct
      val allowedIds =
        if (held.isEmpty) held
        else textFor(held).filter(pred).select($"doc_id").as[Long].collect()
      java.util.Arrays.sort(allowedIds)
      val scored = LocalServing.scores(es, ps, meta,
        d => java.util.Arrays.binarySearch(allowedIds, d) >= 0)
      return localScores(LocalServing.topK(scored, k.getOrElse(Int.MaxValue)))
    }
    // tombstones narrow the allowed set up front, so the routing and the
    // collected candidate array count survivors only. Routing +
    // materialization in one job: length > cap routes to the broad plan,
    // which re-reads `allowed` distributed
    val allowed = dropDeleted(docs.filter(pred).select($"doc_id"))
    val cap = math.min(candidateCap, Int.MaxValue - 2)
    val cand = allowed.limit(cap + 1).as[Long].collect()
    if (cand.isEmpty) ranked(emptyScores())
    else if (cand.length <= cap) ranked(scoresForCandidates(st, es, cand.sorted))
    else ranked(foldRows(st, es).fold(emptyScores())(rows =>
      aggScores(rows.join(allowed, Seq("doc_id"), "left_semi"))))
  }

  // -------------------------------------------------------- snippets (q52)

  /** Keyword-in-context snippets for a k-bounded result set:
    * `first_pos` = the earliest position of ANY of `terms` in the doc
    * (positions come from the POSITIONAL INDEX — the text is never
    * re-tokenized), `snippet` = the ±window tokens around it from the
    * stored document text. ONE positional relation spans every
    * (reader, term) pair: one read of the terms' chunks, decoding only
    * those whose doc range contains a result doc, feeds the per-doc
    * first_pos agg; the text side is k rows of the doc_id-sorted
    * docs parquet (row-group pruned), the withDocMeta shape.
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
      window: Int = 3): DataFrame =
    snippets(new TermStats(terms), docIds, window)

  private def snippets(st: TermStats, docIds: Array[Long], window: Int): DataFrame = {
    val pairs = st.locals(st.entries.map(_.term))
    if (pairs.isEmpty || docIds.isEmpty)
      return Seq.empty[(Long, Int, String)].toDF("doc_id", "first_pos", "snippet")
    val bc = spark.sparkContext.broadcast(docIds.sorted)
    val firstPos = positioned(pairs, Some(bc))
      // per-posting positions ascend, so element 1 is that posting's min
      .select($"doc_id", element_at($"positions", 1).as("pos"))
      .groupBy($"doc_id").agg(min($"pos").as("first_pos"))
    QueryEngine.assembleSnippets(firstPos, textFor(docIds), window)
  }

  /** The docs rows of `docIds`. With [[holdsDocs]], the held rows as a
    * local relation (the first such call loads them in one job): a
    * filter or projection over it runs on the driver with Spark's own
    * semantics and no job. Otherwise the docs parquet, PRUNED, not just
    * broadcast-joined (with the k-row side broadcast the probe would
    * still SCAN every text row) — a pushed doc_id IN for up to
    * [[graft.index.MaxInLiterals]] ids prunes the doc_id-sorted docs
    * parquet to O(k) row groups; above that a broadcast semi-join.
    */
  private def textFor(docIds: Array[Long]): DataFrame =
    residentDocs match {
      case Some(held) => local(docs.schema, held.rowsOf(docIds))
      case None =>
        if (docIds.length <= MaxInLiterals)
          docs.filter($"doc_id".isin(docIds.toSeq: _*))
        else
          docs.join(broadcast(docIds.toSeq.toDF("doc_id")),
            Seq("doc_id"), "left_semi")
    }

  /** The shared [[ResidentDocs]] under [[holdsDocs]]; None otherwise, or
    * while another call is loading them.
    */
  private def residentDocs: Option[ResidentDocs] =
    if (holdsDocs) shared.residentDocs else None

  /** Serving wrapper: BM25 top-k with snippets in one call — the
    * result-page shape (doc_id, score, first_pos, snippet). ONE top-k
    * job collects the k rows, which become a LocalRelation for the
    * snippet join and drive the chunk-skipping snippet pass —
    * re-referencing the lazy top-k plan would recompute the whole
    * scoring pass at the final collect (measured ~2x the latency) — and
    * a LEFT join keeps a result doc the snippet stage drops. Under the
    * driver-local gate: the terms' chunk rows (positions included) rank
    * and anchor on the driver, and the k texts come from the resident
    * docs (no Spark job once loaded) or else one pushed `doc_id IN` job.
    */
  def searchWithSnippets(query: String, k: Int, window: Int = 3): DataFrame = {
    val st = new TermStats(queryTerms(query))
    if (window >= 0 && servesLocally(st.entries)) return localResultPage(st, k, window)
    val top = topKFromEntries(st, st.entries, k).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    top.toSeq.toDF("doc_id", "score")
      .join(snippets(st, top.map(_._1), window), Seq("doc_id"), "left")
      .orderBy($"score".desc, $"doc_id".asc)
  }

  private def localResultPage(st: TermStats, k: Int, window: Int): DataFrame = {
    val es = st.entries
    val ps = localPostings(st.pairs(es), es.map(_.term_id).toSet)
    val top = LocalServing.topK(LocalServing.scores(es, ps, meta), k)
    val first = LocalServing.firstPositions(ps, top.map(_._1).toSet)
    // a doc's text: None without a docs row; Some(null) for a row
    // without text, as the parquet lookup gives
    val text: Long => Option[String] =
      if (top.isEmpty) _ => None
      else residentDocs match {
        case Some(held) => d => held.row(d).map(held.text)
        case None =>
          textFor(top.map(_._1).toArray).select($"doc_id", $"text")
            .as[(Long, String)].collect().toMap.get
      }
    local(QueryEngine.SearchPageSchema, top.map { case (d, s) =>
      (first.get(d), text(d)) match {
        case (Some(p), Some(t)) =>
          InternalRow(d, s, p, UTF8String.fromString(LocalServing.snippet(t, p, window)))
        case _ => InternalRow(d, s, null, null)
      }
    })
  }

  // -------------------------------------------- prefix suggest (q53)

  /** Prefix suggestion (typeahead): the `n` highest-df dictionary terms
    * with the given prefix, (df desc, term asc)-ordered — term is
    * unique, so the order is total and the result deterministic; over
    * generations a term's df is summed (= the compacted global df).
    * The scan pushes a StringStartsWith filter into each dictionary
    * Parquet (whose term-sorted, range-partitioned layout makes the
    * prefix a contiguous row-group range); no postings IO at all, and
    * the plan is a TakeOrderedAndProject over the pruned scan. With
    * [[warmDictionaryLocal]] installed on every reader the same answer
    * comes from the driver lexicon instead, with no Spark job.
    */
  def suggest(prefix: String, n: Int): DataFrame =
    if (dictLocalInstalled)
      local(QueryEngine.SuggestSchema, LocalServing.suggest(shared.suggestTerms, prefix, n)
        .map { case (t, df) => InternalRow(UTF8String.fromString(t), df) })
    else {
      val hits = readers.map(_.dictionary.filter($"term".startsWith(prefix))
        .select($"term", $"df")).reduce(_ unionByName _)
      (if (readers.size == 1) hits else hits.groupBy($"term").agg(sum($"df").as("df")))
        .orderBy($"df".desc, $"term".asc)
        .limit(n)
    }

  // ------------------------------------------------- boolean / positional

  /** Conjunctive (AND) doc_id intersection, rarest-term-first: a chain of
    * inner joins ordered by ascending df (the reference's min-df seeding,
    * src/query_processor/query_processor.rs:62-69); the rare side is
    * broadcast when small. Returns distinct doc_ids. A doc lives in
    * exactly one generation, so the global doc_id chain intersects
    * within generations only.
    */
  def conjunctive(terms: Seq[String]): DataFrame =
    dropDeleted(conjunctiveDocs(terms, new TermStats(terms)))

  private def conjunctiveDocs(terms: Seq[String], st: TermStats): DataFrame = {
    val distinctTerms = terms.distinct
    if (!st.allPresent(distinctTerms)) return Seq.empty[Long].toDF("doc_id")
    val byDf = distinctTerms.sortBy(t => (st.byTerm(t).df, t))
    val docSets = byDf.map(t => docIdsOf(st.locals(Seq(t))))
    // Broadcast ONLY the first (rarest) relation, and only when its df
    // bound is broadcast-sized — an all-stopword query (df ~ N) must
    // shuffle-join instead. Later join steps are left to AQE: re-hinting
    // the ACCUMULATED result would plan a fresh BroadcastExchange of the
    // (shrinking, but un-sized at plan time) accumulator at every step,
    // where AQE broadcasts at runtime iff the measured size is small.
    // PlanSpec pins one BroadcastExchange total. No hint on a
    // single-term "conjunction": there is no join to consume it.
    val first =
      if (docSets.size > 1 && st.byTerm(byDf.head).df <= QueryEngine.ConjBroadcastMaxDf)
        broadcast(docSets.head)
      else docSets.head
    docSets.tail.foldLeft(first)((acc, next) =>
      acc.join(next, Seq("doc_id"), "inner")).distinct()
  }

  /** J6 variant: shortest-list-driven semi-join probe (reference
    * find_documents_optimized, src/positional_intersect/mod.rs:38-105):
    * the min-df term's doc set drives a chain of LEFT SEMI joins against
    * the other terms' postings — Catalyst broadcasts the probe side when
    * small, which is the distributed analog of the reference's
    * binary-search probing. The chain runs in ascending (df, term_id)
    * order over [[docIdsOf]] reads. Single index only.
    */
  def conjunctiveSemi(terms: Seq[String]): DataFrame = {
    single
    val st = new TermStats(terms)
    if (!st.allPresent(terms)) return Seq.empty[Long].toDF("doc_id")
    dropDeleted(st.entries.sortBy(e => (e.df, e.term_id))
      .map(e => docIdsOf(st.locals(Seq(e.term))))
      .reduceLeft((acc, next) => acc.join(next, Seq("doc_id"), "left_semi"))
      .distinct())
  }

  /** Docs where `terms` occur at consecutive positions (reference
    * src/positional_intersect/mod.rs:11-35; a one-term phrase is that
    * term's doc set). Under the [[EngineConfig.localMaxPostings]] gate: the
    * terms' chunk rows and [[LocalServing.phraseDocs]]; above it [[phraseDocs]].
    */
  def phraseMatch(terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty)
    val st = new TermStats(terms)
    val es = st.entries
    if (!st.allPresent(terms)) Seq.empty[Long].toDF("doc_id")
    else if (servesLocally(es)) {
      val ps = localPostings(st.pairs(es),
        if (terms.size > 1) es.map(_.term_id).toSet else Set.empty)
      local(QueryEngine.DocIdsSchema, LocalServing.phraseDocs(terms, es, ps).toSeq.map(InternalRow(_)))
    } else dropDeleted(phraseDocs(terms, st))
  }

  /** Distributed phrase match: conjunctive intersection with positions
    * carried, then an `exists` over the RAREST term's positions with
    * offset-adjusted `array_contains(pos_i, p + (i - anchor))` for every
    * other term. `phraseSeq` is the full sequence — duplicates allowed
    * and position-significant.
    *
    * ONE positional relation per phrase SLOT spans every reader; the
    * join chain runs in ASCENDING global-df order (not query order), so
    * a leading stopword ("the big join") never drags its full
    * positional lists through every join — the intermediate result is
    * bounded by the min df from the first join on (the distributed form
    * of the reference's min-df seeding,
    * src/query_processor/query_processor.rs:62-69). Two plans:
    * candidate-pruned when the anchor is sparse (see
    * [[QueryEngine.PositionalPruneDensity]]), shuffle-join chain otherwise.
    */
  private def phraseDocs(phraseSeq: Seq[String], st: TermStats): DataFrame = {
    val empty = Seq.empty[Long].toDF("doc_id")
    if (!st.allPresent(phraseSeq)) return empty
    if (phraseSeq.size == 1) return docIdsOf(st.locals(phraseSeq)).distinct()
    val idxByDf = phraseSeq.indices.sortBy(i => (st.byTerm(phraseSeq(i)).df, i))
    val anchor = idxByDf.head
    val anchorEntry = st.byTerm(phraseSeq(anchor))

    def consecutiveFilter(joined: DataFrame): DataFrame = {
      val consecutive = exists(col(s"pos$anchor"), p =>
        phraseSeq.indices.filter(_ != anchor)
          .map(i => array_contains(col(s"pos$i"), p + (i - anchor)))
          .reduce(_ && _))
      joined.filter(consecutive).select($"doc_id").distinct()
    }
    def slot(i: Int, bcCand: Option[Broadcast[Array[Long]]]): DataFrame =
      positioned(st.locals(Seq(phraseSeq(i))), bcCand)
        .select($"doc_id", $"positions".as(s"pos$i"))

    if (positionalPruningPays(anchorEntry.df)) {
      // Candidate-pruned plan: the RAREST term's doc set is a superset
      // of every phrase match, so it alone drives the pruning — one tiny
      // doc_gaps-only job (no positional blobs), then every other term's
      // positions are decoded only for chunks containing those docs. A
      // stopword in the phrase never has its (huge) positional data
      // decoded outside the rare term's neighborhoods; the inner join below
      // performs the actual intersection.
      val cand = docIdsOf(st.locals(Seq(anchorEntry.term))).distinct().as[Long].collect()
      if (cand.isEmpty) return empty
      java.util.Arrays.sort(cand)
      // Broadcast ONLY the first (rarest-term) relation, and only when
      // its positional payload is broadcast-sized: cf = that term's
      // total position count, so cf bounds the array payload exactly.
      // Re-hinting the ACCUMULATED join result would re-broadcast every
      // previously joined term's full position arrays at each step;
      // later steps are left to AQE.
      val hintFirst: DataFrame => DataFrame =
        if (cand.length <= QueryEngine.PhraseBroadcastMaxCand &&
            anchorEntry.cf <= QueryEngine.PhraseBroadcastMaxCf)
          df => broadcast(df)
        else identity _
      val bcCand = Some(spark.sparkContext.broadcast(cand))
      val rels = idxByDf.map(slot(_, bcCand))
      consecutiveFilter(rels.tail.foldLeft(hintFirst(rels.head))(
        (a, b) => a.join(b, Seq("doc_id"), "inner")))
    } else
      consecutiveFilter(idxByDf.map(slot(_, None))
        .reduceLeft((a, b) => a.join(b, Seq("doc_id"), "inner")))
  }

  /** Proximity match: pairs (pos1, pos2) with pos2 > pos1 and
    * pos2 - pos1 <= k — the reference's DIRECTIONAL rule
    * (src/positional_intersect/mod.rs:579-604; pp2 > pp1 only). Same
    * candidate-pruned positional plan as [[phraseDocs]]: intersect doc
    * ids on doc_gaps alone, then read positions only where both terms
    * occur.
    */
  def proximity(term1: String, term2: String, k: Int): DataFrame = {
    val st = new TermStats(Seq(term1, term2))
    val empty = Seq.empty[(Long, Int, Int)].toDF("doc_id", "pos1", "pos2")
    if (!st.allPresent(Seq(term1, term2))) return empty
    val (df1, df2) = (st.byTerm(term1).df, st.byTerm(term2).df)
    val bcCand =
      if (positionalPruningPays(math.min(df1, df2))) {
        val cand = docIdsOf(st.locals(Seq(if (df1 <= df2) term1 else term2)))
          .distinct().as[Long].collect()
        if (cand.isEmpty) return empty
        java.util.Arrays.sort(cand)
        Some(spark.sparkContext.broadcast(cand))
      } else None
    val p1 = positioned(st.locals(Seq(term1)), bcCand).select($"doc_id", $"positions".as("ps1"))
    val p2 = positioned(st.locals(Seq(term2)), bcCand).select($"doc_id", $"positions".as("ps2"))
    dropDeleted(p1.join(p2, Seq("doc_id"), "inner")
      .select($"doc_id", explode($"ps1").as("pos1"), $"ps2")
      .select($"doc_id", $"pos1",
        explode(filter($"ps2", p => p > $"pos1" && p - $"pos1" <= lit(k))).as("pos2")))
  }

  /** Fuzzy term lookup (see [[IndexReader.fuzzyTerms]]): one reader's
    * answer directly; over generations (term, df) rows, df summed over
    * the readers and local term_ids dropped, as they have no global
    * meaning. With every reader's dictionary installed on the driver,
    * the readers' merged lexicon answers with no Spark job (bucketed on
    * the first fuzzy call, [[FuzzyLexicon]]); otherwise the per-reader
    * Spark answers are re-aggregated by term.
    */
  def fuzzyTerms(q: String, d: Int): DataFrame =
    if (readers.size == 1) readers.head.fuzzyTerms(q, d)
    else if (dictLocalInstalled)
      local(QueryEngine.FuzzyMultiSchema, shared.fuzzyLexicon.within(q, d)
        .map(r => InternalRow(UTF8String.fromString(r.term), r.df)))
    else readers.map(_.fuzzyTerms(q, d).select($"term", $"df"))
      .reduce(_ unionByName _)
      .groupBy($"term").agg(sum($"df").as("df"))

  /** Attach document metadata to a result with a `doc_id` column — the
    * reference's DocumentMetadata retrieval (doc_name/doc_url per result,
    * src/indexer/indexer.rs:46-50): here (conv_id, turn_idx, role). The
    * result set is top-k-sized, so the docs side is joined via its
    * doc_id-sorted parquet (row-group pruned by the small side's range).
    */
  def withDocMeta(results: DataFrame): DataFrame =
    results.join(
      docs.select($"doc_id", $"conv_id", $"turn_idx", $"role"), Seq("doc_id"))

  // ------------------------------- reference-parity scorers (single index)
  //
  // DELIBERATELY NOT SERVED across generations: tfIdfScores reproduces
  // the scorer the reference REPLACED with BM25 (src/scoring/mod.rs:
  // 34-48), and vsmScores the cosine norm it ABANDONED entirely
  // (helpers/mod.rs:191-218, commented out). A compaction-identical
  // multi-generation vsm would need norms under GLOBAL df: norm_d =
  // sqrt(Σ(tf·df)²) bakes df into every addend, so per-generation
  // vsm_norms tables cannot be rescaled post-hoc. Compact first.

  /** Reference-parity tf-idf scorer (src/scoring/mod.rs:34-48):
    * score(doc) = Σ_t log10(N/df_t) * tf_{t,doc}, over live docs.
    */
  def tfIdfScores(terms: Seq[String]): DataFrame = {
    single
    val st = new TermStats(terms)
    foldRows(st, st.entries, tfIdf = true).fold(emptyScores())(aggScores)
  }

  /** A9 — vector-space (cosine-normalized) scoring, completing the
    * reference's abandoned doc-norm design (the norm table is the
    * commented-out src/helpers/mod.rs:191-218; a query-time consumer
    * was never written, so the completion is the standard VSM shape):
    * `score(d) = (Σ_{t∈q} log10(N/df_t) · tf_{t,d}) / norm_d` — the
    * reference-parity tf-idf numerator (src/scoring/mod.rs:34-48, the
    * same fold rows and weight tfIdfScores serves) divided by the
    * reference's norm. The numerator folds in fixed term_id order
    * through [[aggScores]] (A8 determinism). The norm join reads the
    * WHOLE norms table: the plan scans `vsm_norms` with no pushed
    * doc_id filter and broadcasts it (or, above the broadcast
    * threshold, shuffles every norms row) to meet the candidates. Returns ALL candidate docs (callers top-k like q07) —
    * every candidate has a norm row (it contains >= 1 query term, so
    * its norm sum is positive), making the inner join total.
    */
  def vsmScores(terms: Seq[String]): DataFrame = {
    val r = single
    val st = new TermStats(terms)
    foldRows(st, st.entries, tfIdf = true).fold(emptyScores())(rows =>
      aggScores(rows).withColumnRenamed("score", "num")
        .join(r.vsmNorms, Seq("doc_id"))
        .select($"doc_id", ($"num" / $"vsm_norm").as("score")))
  }
}

object QueryEngine {

  /** Live driver heap a resident load may take above where it starts,
    * per byte the manifests record. On a 1,300-conversation
    * `Transcripts` index in zstd pages (15,718,436 recorded postings
    * bytes, 43,325,522 bytes of arrays held after; 3,616,770 recorded
    * docs bytes) the postings load completed in a 500 MiB heap that
    * held 138 MB before it, so within 24 bytes a recorded byte; a full
    * collection every 20 ms during three loads read 11.6–15.1 per
    * postings byte and 13.4–18.0 per docs byte. Spark's collect holds
    * its own copies of the rows, so this is several times what stays
    * held (2.8).
    */
  private[query] val ResidentLoadBytesPerRecordedByte = 24L

  /** The recorded postings and docs bytes an engine holds on the driver
    * when its max heap is `maxHeap`: a load then takes at most an
    * eighth of the heap and leaves about 1.4% of it held (16.8 MB
    * recorded on a 3 GiB heap).
    */
  private[query] def residentBudget(maxHeap: Long): Long =
    maxHeap / 8 / ResidentLoadBytesPerRecordedByte

  /** The descriptions of the jobs that load the resident postings and
    * the resident docs.
    */
  private[query] val ResidentLoadDescription = "graft: load resident postings"
  private[query] val ResidentDocsLoadDescription = "graft: load resident docs"

  /** The state every engine over `root` shares, whatever its config:
    * the readers (with their warmed dictionaries and driver maps), the
    * global statistics, the tombstone relation and the multi-reader
    * relations.
    */
  private final class Shared(spark: SparkSession, val root: String) {
    val gens: Seq[String] = Generations.servingDirs(root)
    require(gens.nonEmpty,
      s"$root holds neither index_meta.json nor complete gen-* directories")
    val readers: Seq[IndexReader] = gens.map(new IndexReader(spark, _))

    // one set of BM25 constants across generations (chunk max_impacts are
    // baked under them, and a global fold cannot mix two k1/b regimes)
    require(readers.map(r => (r.meta.k1, r.meta.b)).distinct.size == 1,
      s"generations disagree on BM25 constants: " +
        readers.map(r => (r.meta.k1, r.meta.b)).distinct.mkString(","))

    val meta: IndexMeta =
      if (readers.size == 1) readers.head.meta
      else {
        val ms = readers.map(_.meta)
        val n = ms.map(_.n_docs).sum
        IndexMeta(n, ms.map(m => math.round(m.avgdl * m.n_docs)).sum.toDouble / n,
          ms.map(_.n_terms).sum, ms.map(_.n_postings).sum, ms.head.k1, ms.head.b)
      }

    lazy val postings: DataFrame =
      if (readers.size == 1) readers.head.postings
      else IndexBuilder.reopen(spark, gens.map(g => IndexPaths(g).postings),
        IndexBuilder.PostingsSchema, recursive = true)

    lazy val docs: DataFrame =
      if (readers.size == 1) readers.head.docs
      else IndexBuilder.readDocs(spark, gens.map(g => IndexPaths(g).docs): _*)

    /** Reader index of a postings file path; a closure, so executor code
      * captures no engine.
      */
    lazy val genOf: String => Int =
      if (readers.size == 1) _ => 0
      else {
        val idx = gens.zipWithIndex.map { case (g, i) => g.split('/').last -> i }.toMap
        f => idx.getOrElse(Generations.genSegOf(f), -1)
      }

    /** The bytes the readers' manifests record for `table`, summed (no
      * job); Long.MaxValue when a reader's manifest records none.
      */
    private def recordedBytes(table: IndexPaths => String): Long = {
      val recorded = gens.map(g => IndexBuilder.manifestLong(table(IndexPaths(g)), "bytes"))
      if (recorded.forall(_.isDefined)) recorded.flatten.sum else Long.MaxValue
    }

    lazy val postingsBytes: Long = recordedBytes(_.postings)
    lazy val docsBytes: Long = recordedBytes(_.docs)

    /** Every reader's chunk rows on the driver, indexed like `readers`:
      * loaded by the first caller in ONE scan job over every reader's
      * postings (each row's reader recovered from its file path, as
      * `genOf` does for the per-call reads), described
      * [[ResidentLoadDescription]].
      */
    private val heldPostings = new HeldOnce(() => {
      val gi = genOf
      val reader = if (readers.size == 1) lit(0) else udf(gi).apply(input_file_name())
      ResidentPostings.packAll(collectDescribed(ResidentLoadDescription, postings
        .select(reader, col("term_id"), col("chunk_seq"), col("n_postings"), col("doc_gaps"),
          col("tfs"), col("dls"), col("pos_blob"), length(col("doc_gaps")),
          length(col("pos_blob")))
        .toDF(ResidentPostings.Columns: _*)), readers.size)
    })

    def resident: Option[Seq[ResidentPostings]] = heldPostings.get

    /** Heap bytes of the resident arrays; 0 until they are loaded. */
    def residentBytes: Long = heldPostings.loaded.fold(0L)(_.map(_.bytes).sum)

    /** Every reader's docs rows on the driver: loaded by the first call
      * that needs text, in ONE scan job over every reader's docs table,
      * described [[ResidentDocsLoadDescription]].
      */
    private val heldDocs = new HeldOnce(() =>
      ResidentDocs(collectDescribed(ResidentDocsLoadDescription, docs)))

    def residentDocs: Option[ResidentDocs] = heldDocs.get

    /** `df`'s rows in ONE job described `description`, as Spark's binary
      * rows, so no per-row object is deserialized on the driver.
      */
    private def collectDescribed(description: String, df: DataFrame): Array[InternalRow] = {
      val qe = df.queryExecution
      val sc = spark.sparkContext
      val previous = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(description)
      try SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
      finally sc.setJobDescription(previous)
    }

    private val delDirs: Seq[String] = Generations.delDirs(root)

    val deletedIds: Option[DataFrame] = Generations.deletedDocs(spark, delDirs)

    /** The batches' recorded id counts summed: an upper bound on the
      * distinct tombstoned ids, read from their markers (no job).
      */
    val tombstoneBound: Long = delDirs.map(Generations.batchSize).sum

    /** Every batch's ids collected in ONE plain scan job (no shuffle),
      * de-duplicated and sorted on the driver. Taken only when
      * [[tombstoneBound]] fits an engine's liveDocsCap.
      */
    lazy val tombstones: Broadcast[Array[Long]] = {
      import spark.implicits._
      val ids = Generations.batchIds(spark, delDirs).as[Long].collect()
      java.util.Arrays.sort(ids)
      // keep one copy of an id several batches tombstoned, in place
      var n = 0
      ids.foreach { id => if (n == 0 || ids(n - 1) != id) { ids(n) = id; n += 1 } }
      spark.sparkContext.broadcast(java.util.Arrays.copyOf(ids, n))
    }

    /** The readers' driver lexicons merged: df summed per term, the
      * other fields those of the first reader holding it (so a
      * one-reader root keeps its term_ids).
      */
    private lazy val mergedLexicon: Array[DictRow] = {
      val merged = new java.util.HashMap[String, DictRow]()
      readers.foreach(_.localDictionary.values.forEach(r =>
        merged.merge(r.term, r, (a, b) => a.copy(df = a.df + b.df))))
      merged.values.toArray(new Array[DictRow](0))
    }

    /** The merged lexicon in UTF-8 term order — the dictionary Parquet's
      * own order — so a prefix is one binary-searched range: `suggest`
      * then runs no Spark job. Built on the first suggest call, not at
      * warm-up.
      */
    lazy val suggestTerms: Array[DictRow] = mergedLexicon.sortBy(_.term)(Tokenizer.utf8Ordering)

    /** The merged lexicon's unigrams by code-point length, built on the
      * first multi-reader fuzzy call.
      */
    lazy val fuzzyLexicon: FuzzyLexicon = FuzzyLexicon(mergedLexicon)
  }

  /** A value every engine over a root shares, loaded by the first caller
    * that asks for it. None while another caller is loading it: a
    * concurrent call takes its per-call path rather than wait. A failed
    * load leaves nothing held, so the next call loads again.
    */
  private final class HeldOnce[T <: AnyRef](load: () => T) {
    private val lock = new java.util.concurrent.locks.ReentrantLock
    @volatile private var held: T = _

    def get: Option[T] =
      Option(held).orElse {
        if (!lock.tryLock()) None
        else try {
          if (held == null) held = load()
          Some(held)
        } finally lock.unlock()
      }

    /** The value if it is loaded; never loads it. */
    def loaded: Option[T] = Option(held)
  }

  /** Broadcast-hint bounds of the join chains. A conjunctive chain hints its first (rarest)
    * relation when that term's df is at most [[ConjBroadcastMaxDf]];
    * a positional chain hints its anchor relation when the candidate
    * count and the anchor's collection frequency stay within
    * [[PhraseBroadcastMaxCand]] / [[PhraseBroadcastMaxCf]] (positions
    * make rows wide — cf, not df, bounds the broadcast bytes).
    */
  val ConjBroadcastMaxDf: Long = 1000000L
  val PhraseBroadcastMaxCand: Int = 200000
  val PhraseBroadcastMaxCf: Long = 2000000L

  /** The candidate-pruned positional plan only pays when the doc
    * intersection is SPARSE relative to chunk doc-ranges — a candidate
    * set of c docs touches ~1 - (1 - c/N)^width of a dense term's chunks
    * (width ≈ N / (df/128)), so above ~N/density candidates nearly every
    * chunk survives and the candidate job is pure overhead. Below the
    * ratio, positions of a stopword are decoded for a few % of its chunks.
    * A phrase anchor of df d takes the pruned plan when d × density <
    * n_docs (and d <= [[EngineConfig.phraseMaxCandidates]]).
    */
  val PositionalPruneDensity: Long = 256L

  /** The result-page schema the left join of
    * [[QueryEngine.searchWithSnippets]] produces.
    */
  val SearchPageSchema: StructType =
    StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("first_pos", IntegerType), StructField("snippet", StringType)))

  /** The schemas of the driver-local answers, each the one the kind's
    * Spark plan produces: ranked (doc_id, score), tiered (doc_id, score,
    * tier), phrase doc_ids, suggest (term, df), and fuzzy (term, term_id,
    * df) for one reader and (term, df) for several.
    */
  private[query] val ScoresSchema: StructType =
    StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false)))
  private[query] val TieredSchema: StructType =
    ScoresSchema.add(StructField("tier", IntegerType, nullable = false))
  private[query] val DocIdsSchema: StructType = StructType(ScoresSchema.take(1))
  private[query] val SuggestSchema: StructType =
    StructType(Seq(StructField("term", StringType), StructField("df", LongType, nullable = false)))
  private[query] val FuzzySchema: StructType = StructType(IndexBuilder.FuzzySchema.drop(1))
  private[query] val FuzzyMultiSchema: StructType =
    StructType(Seq(StructField("term", StringType), StructField("df", LongType)))

  /** Dictionary-probe counter (each probe = one pushed driver-side
    * dictionary scan) — test hook for probe budgets: handleQuery must
    * probe each term set once (BigramSpec pins the budget).
    */
  private[graft] val dictProbes = new java.util.concurrent.atomic.AtomicInteger

  /** Count of fuzzy lookups served by the O(|lexicon|) dictionary-scan
    * fallback — taken only when NEITHER a variant table NOR a current
    * dict_by_len range layout is available and the reader could not
    * write one (a read-only root). An operational metric: a climbing
    * value means a read-only root that deserves one writable pass to
    * lay dict_by_len down.
    */
  val fuzzyScanFallbacks = new java.util.concurrent.atomic.AtomicLong

  /** Count of fuzzy lookups served by the dict_by_len pushed cp_len
    * range probe (d above the variant-table cap, or queries beyond
    * Fuzzy.MaxTermLen): O(length band), not O(lexicon) — the expected
    * path for occasional large-d traffic.
    */
  val fuzzyRangeProbes = new java.util.concurrent.atomic.AtomicLong

  /** Derived-table dirs whose backfill failed (e.g. read-only mounts):
    * not retried in this JVM (see IndexReader.backfilled).
    */
  private[graft] val backfillFailed =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** MaxScore essential/non-essential split (driver-side): the longest
    * ASCENDING-max_impact prefix whose cumulative max_impact stays under
    * θ — those terms together cannot lift any document to the top-k, so
    * their postings are only read for surviving candidates. Input must
    * be ascending by max impact (with a deterministic tie-break); returns
    * the non-essential keys.
    */
  def nonEssentialSplit[K](ascByMax: Seq[(K, Double)], theta: Double): Set[K] = {
    var cum = 0.0
    ascByMax.takeWhile { case (_, m) =>
      val keep = cum + m < theta
      if (keep) cum += m
      keep
    }.map(_._1).toSet
  }

  /** MaxScore θ refinement (driver-side): when tier-1 leaves
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

  /** Per-dir locks serializing the derived-table backfills. */
  private[query] val backfillLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Distances D with a fuzzy_dD directory under `root` (any validity). */
  private[graft] def fuzzyDistancesOnDisk(root: String): Seq[Int] =
    graft.index.Fs.listNames(root)
      .collect { case n if n.startsWith("fuzzy_d") =>
        n.stripPrefix("fuzzy_d").toIntOption }
      .flatten.sorted

  /** Snippet assembly: join the per-doc
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
  * mod.rs:118-206) behind the distributed [[QueryEngine.handleQuery]]:
  * tier 0 = exact-phrase docs (unigram-scored), tier 1 =
  * all-query-bigrams docs (bigram-scored, phrase docs excluded), tier 2
  * = disjunctive unigram matches; a doc keeps its HIGHEST tier, ordered
  * (tier asc, score desc, doc_id asc), top-k. The engine composes the
  * tiers from its own scorers (`QueryEngine.tieredTopK`); this object
  * holds the final ordering, the overlapped probe, the first-guess width
  * and the counters the specs read.
  */
private[graft] object TieredQuery {

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

  /** Final tier ordering + projection (also the single-term
    * finisher): highest tier wins via the (tier, score desc, doc_id)
    * sort — a doc appears in at most one tier by construction.
    */
  private[query] def finish(tiers: DataFrame, k: Int): DataFrame =
    tiers.orderBy(col("tier").asc, col("score").desc, col("doc_id").asc)
      .limit(k).select("doc_id", "score", "tier")

  /** Prefix of the Spark job tag each overlapped probe runs under. */
  private[graft] val ProbeTagPrefix = "graft-probe-"

  /** A driver collect run on its own thread under its own Spark job tag,
    * so an early exit can cancel its jobs instead of leaving them to run
    * to completion on the executors. Job tags are thread-local
    * properties that threads created by the tagged thread copy. The
    * thread is therefore a plain one that ends with the collect, not a
    * pooled one: a fork-join pool worker that blocks inside Spark (a
    * broadcast wait) makes the pool start compensating workers, which
    * would keep the tag for every later job they run (ProbeCancelSpec).
    */
  private[query] final class TaggedCollect(sc: org.apache.spark.SparkContext,
      body: () => Array[Long]) {
    private val tag = ProbeTagPrefix + java.util.UUID.randomUUID()
    private val done = scala.concurrent.Promise[Array[Long]]()
    locally {
      val t = new Thread(() => {
        sc.addJobTag(tag)
        try done.success(body())
        catch { case e: Throwable => done.failure(e) }
        finally sc.removeJobTag(tag)
        ()
      }, "graft-bigram-probe")
      t.setDaemon(true)
      t.start()
    }

    def result(): Array[Long] =
      scala.concurrent.Await.result(done.future, scala.concurrent.duration.Duration.Inf)

    /** Cancels the tagged jobs and returns once the collect has ended.
      * The cancel is re-sent until then: a job the probe thread submits
      * after one cancel is caught by the next.
      */
    def cancel(): Unit =
      while (!done.isCompleted) {
        sc.cancelJobsWithTag(tag)
        scala.util.Try(scala.concurrent.Await.ready(done.future,
          scala.concurrent.duration.Duration(20, "ms")))
      }
  }

  /** First-guess width floor for the adaptive unclaimed-top-k: the
    * `min(|claimed|, max(GuessFloor, 4k))` slack added to k in
    * `QueryEngine.tieredTopK`.
    */
  val GuessFloor: Int = 50

}
