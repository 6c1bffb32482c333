package graft.index


import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{ChunkCodec, Tokenizer}
import graft.corpus.Turn

/** Index build configuration.
  *
  * @param numParts       shuffle/range parallelism for the build
  * @param skewDfThreshold terms with df above this get salted (split by
  *                        doc_id range) in the SPIMI stage — the explicit
  *                        stopword-skew handling of the north rule
  * @param nSalts         number of doc-range salt buckets for skewed terms
  */
final case class IndexConf(
    numParts: Int = 32,
    skewDfThreshold: Long = 50000L,
    nSalts: Int = 16,
    k1: Double = Bm25.K1,
    b: Double = Bm25.B,
    /** doc_ids start at docIdOffset + 1 — generation appends keep the
      * global doc_id space disjoint (Generations.append).
      */
    docIdOffset: Long = 0L,
    /** Also index consecutive-lemma bigrams as terms ("a b", position of
      * the first word) — the reference's commented-out design
      * (tokenizer.rs:211-217): phrase queries for indexed bigrams become
      * a single dictionary probe instead of a positional intersect.
      */
    indexBigrams: Boolean = false,
    /** Max edit distance the index-time SymSpell variant table serves as
      * a pushed probe (fuzzy_d{N} table). Larger distances are served by
      * a lazy per-distance backfill on first use (QueryEngine
      * .fuzzyIndexFor); the default keeps build cost at the d=1 table
      * (~L variants/term vs ~L^2/2 at d=2).
      */
    fuzzyMaxDistance: Int = 1,
    /** SPIMI segment stage resume granularity: the doc_id space is cut
      * into this many slices, each tokenized/shuffled/written + manifested
      * INDEPENDENTLY — a kill mid-stage re-runs only the incomplete
      * slices (BASELINE "per-partition segment manifests"). 0 = auto
      * (~1 slice per 500k docs, capped at 64: small builds keep the
      * single-job fast path, big builds get bounded redo-loss). 1 =
      * single slice (stage-granular resume).
      */
    resumeSlices: Int = 0,
    /** Stage-2 (merge/chunk/postings) resume granularity: the term space
      * is cut into this many ranges (boundaries read from the completed
      * dictionary, so they are deterministic across resumes), each
      * chunked + written + manifested independently — a kill mid-stage-2
      * re-runs only incomplete ranges, the same pattern stage 1 has with
      * doc slices. 0 = auto (~1 range per 2M dictionary terms, capped at
      * 32: small builds keep the single-job fast path). 1 = single range
      * (stage-granular resume).
      */
    stage2Ranges: Int = 0)

final case class IndexPaths(root: String) {
  def docs = s"$root/docs"
  def segments = s"$root/segments"
  def dictionary = s"$root/dictionary"
  def dictByLen = s"$root/dict_by_len"
  def postings = s"$root/postings"
  def fuzzy(d: Int) = s"$root/fuzzy_d$d"
  def vsmNorms = s"$root/vsm_norms"
  def meta = s"$root/index_meta.json"
}

/** Distributed SPIMI -> shuffle-merge -> compressed-postings index build
  * (SURVEY.md §3.1 / §7.1; reference pipeline: src/indexer/indexer.rs:193-210
  * -> src/spimi.rs:28-121 -> src/indexer/index_merge_writer.rs:86-209).
  *
  * Spark-first shape — each reference control boundary becomes a shuffle:
  *
  *   transcripts --flatMap tokenize + salt--> SegmentRow rows  (producer)
  *     --repartition(term, salt) + sortWithinPartitions-->
  *   segments checkpoint (sorted runs + manifest = SPIMI spills)
  *     --re-sort + streaming per-term chunker (mapPartitions)-->
  *   postings chunks  --join dictionary--> final postings table
  *
  * Every stage writes a `_manifest.json` with input fingerprint, row/byte
  * counts and wall time; a re-run with the same fingerprint skips the
  * stage (resumability + lineage, BASELINE.json north_rule). Row counts
  * and the meta statistics are observed by the writes themselves
  * ([[IndexBuilder.writeCounted]]): no stage re-reads what it just wrote.
  */
class IndexBuilder(spark: SparkSession, lemmas: Map[String, String],
    conf: IndexConf = IndexConf()) {
  import spark.implicits._

  private val bcLemmas = spark.sparkContext.broadcast(lemmas)

  /** Order-independent fingerprint of the lemma map for the stage-resume
    * manifest: the lemmatization rewrites every indexed term, so two
    * builds at the same root with different lemma files must not share
    * stage manifests. Sorted entries → md5, so HashMap iteration order
    * (which varies across Scala/JVM versions) cannot flip the value.
    */
  private val lemmaFingerprint: String = {
    val joined = lemmas.toSeq.sorted.map { case (k, v) => s"$k\u0000$v" }
      .mkString("\u0001")
    graft.core.StableHash.md5Hex(joined).substring(0, 12)
  }

  // ---------------------------------------------------------------- docs

  /** Assign dense 1-based doc_ids in stable (conv_id, turn_idx) order and
    * compute doc lengths. Ranking runs FIRST, over the raw input, so
    * RangeRank's counting/sampling passes are column-pruned key scans;
    * tokenization (for doc_len) happens exactly once, in the final pass.
    */
  def buildDocs(turns: Dataset[Turn]): DataFrame = {
    import org.apache.spark.sql.Row
    val lem = bcLemmas
    // ts rides along into the docs table: filtered search and
    // deleteWhere promise predicates over it (time-window takedowns),
    // and dropping it here would make those unexpressable without a
    // rebuild. Storage cost is one int64 column next to `text`.
    val ranked = RangeRank.withRank(
      turns.toDF().select("conv_id", "turn_idx", "role", "text", "ts"),
      Seq("conv_id", "turn_idx"), "doc_id", conf.numParts).df
    val offset = conf.docIdOffset
    ranked.as[(String, Int, String, String, java.sql.Timestamp, Long)]
      .map { case (conv, turn, role, text, ts, docId) =>
        val dl = Tokenizer.tokenize(text, lem.value).length
        (docId + offset, conv, turn, role, dl, text, ts)
      }.toDF(IndexBuilder.DocsSchema.fieldNames.toSeq: _*)
  }

  // ------------------------------------------------------------- stage 1

  /** SPIMI stage: salt high-df terms by doc_id RANGE (so per-salt chunks
    * concatenate in global doc order), shuffle on (term, salt), sort runs,
    * checkpoint as the `segments` table. The reference's 10 MB in-memory
    * spill (src/dictionary/mod.rs:31-33) is Catalyst's partial-agg spill;
    * the explicit checkpoint is what makes the build resumable.
    * Tokenize + salt happen in ONE typed flatMap (no extra ser/deser
    * boundary over the posting stream).
    */
  def buildSegments(docsWithText: DataFrame, nDocs: Long,
      highDfTerms: Set[String]): Dataset[SegmentRow] = {
    val bcHigh = spark.sparkContext.broadcast(highDfTerms)
    val saltWidth = math.max(1L, (nDocs + conf.nSalts - 1) / conf.nSalts)
    val lem = bcLemmas
    val bigramsOn = conf.indexBigrams
    val salted = docsWithText.select($"doc_id", $"doc_len", $"text")
      .as[(Long, Int, String)]
      .flatMap { case (docId, dl, text) =>
        val toks =
          if (bigramsOn) Tokenizer.tokenizeWithBigrams(text, lem.value)
          else Tokenizer.tokenize(text, lem.value)
        val byTerm = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
        toks.foreach(t => byTerm.getOrElseUpdate(t.term, scala.collection.mutable.ArrayBuffer.empty) += t.position)
        val high = bcHigh.value
        byTerm.iterator.map { case (term, ps) =>
          val salt = if (high.contains(term)) (docId / saltWidth).toInt else 0
          val sorted = ps.toArray
          java.util.Arrays.sort(sorted) // bigram positions may interleave
          SegmentRow(term, salt, docId, dl, sorted.length,
            ChunkCodec.encodePostingUnit(sorted))
        }
      }
    // (Measured negative result, BENCH.md: prefixing the sort key with
    // xxhash64(term) to avoid string comparisons made the c8 build ~15%
    // SLOWER — Tungsten's radix sorter already compares via an 8-byte
    // UTF8 prefix, so the extra column is pure shuffle weight.)
    salted
      .repartition(conf.numParts, $"term", $"salt")
      .sortWithinPartitions($"term", $"salt", $"doc_id")
  }

  /** High-df (skew) terms to salt, detected on a DOC SAMPLE — a full df
    * pre-pass would tokenize the corpus twice; sampling errs toward
    * salting slightly more terms, which is harmless (a few extra sub-128
    * chunks), while missing a true heavy hitter only costs balance, never
    * correctness. ~20k sampled docs suffice: a term at the skew threshold
    * (df rate thr/N) is expected ~20000*thr/N times in the sample; the
    * 0.5 cutoff factor absorbs sampling variance.
    *
    * A term's sample count is at most the number of sampled docs, itself
    * at most `nDocs`: below the cutoff no term can qualify, so the
    * sample job is skipped and the (provably empty) set returned.
    */
  private[index] def highDfTerms(docsWithText: DataFrame, nDocs: Long): Set[String] = {
    val fraction = math.min(1.0, math.max(1e-6, 20000.0 / math.max(1L, nDocs)))
    val cutoff = math.max(1L, (conf.skewDfThreshold * fraction * 0.5).toLong)
    if (nDocs < cutoff) Set.empty
    else {
      val lem = bcLemmas
      docsWithText.sample(withReplacement = false, fraction, 42L)
        .select($"text").as[String]
        .flatMap(t => Tokenizer.tokenize(t, lem.value).map(_.term).distinct)
        .groupBy($"value").count()
        .filter($"count" >= cutoff)
        .select($"value").as[String].collect().toSet
    }
  }

  // ------------------------------------------------------------- stage 2

  /** Chunker over an ALREADY (term, salt)-partitioned, (term, salt,
    * doc_id)-sorted dataset (the persisted segments, read directly; a
    * merge or compaction re-shuffles its sources' union into this shape
    * and persists it first — the k-way merge, Compactor.mergeInto). Streams each group through a
    * 128-posting cut (reference k-way merge src/spimi.rs:50-121 + chunk
    * cut index_merge_writer.rs:148); memory is bounded by one chunk, not
    * one term (stopword-safe). chunk_seq = the chunk's min_doc_id (see
    * emit()): unique within a term because chunk doc ranges are
    * disjoint, globally ascending in doc order (salts partition the
    * doc_id space into ranges), and robust to partition/split seams —
    * no per-group counter needed.
    */
  def chunkSorted(sorted: Dataset[SegmentRow], avgdl: Double): Dataset[RawChunk] = {
    val k1 = conf.k1; val b = conf.b
    sorted
      .mapPartitions { it =>
        new Iterator[RawChunk] {
          private var curTerm: String = null
          private var curSalt: Int = -1
          private val ids = new scala.collection.mutable.ArrayBuffer[Long](ChunkCodec.ChunkSize)
          private val tfs = new scala.collection.mutable.ArrayBuffer[Int](ChunkCodec.ChunkSize)
          private val dls = new scala.collection.mutable.ArrayBuffer[Int](ChunkCodec.ChunkSize)
          private val poss = new scala.collection.mutable.ArrayBuffer[Array[Byte]](ChunkCodec.ChunkSize)
          private var pending: RawChunk = null

          private def emit(): RawChunk = {
            val docIds = ids.toArray
            val positions = poss.toArray
            var maxNorm = 0.0
            var i = 0
            while (i < tfs.length) {
              val v = Bm25.norm(tfs(i), dls(i), avgdl, k1, b)
              if (v > maxNorm) maxNorm = v
              i += 1
            }
            // chunk_seq = min_doc_id: unique within a term (doc ranges of
            // chunks are disjoint) and globally ascending in doc order —
            // robust to any partition seam, no per-group counter needed.
            val chunk = RawChunk(
              term = curTerm,
              chunk_seq = docIds(0),
              min_doc_id = docIds(0),
              max_doc_id = docIds(docIds.length - 1),
              n_postings = docIds.length,
              doc_gaps = ChunkCodec.encodeDocGaps(docIds),
              tfs = tfs.toArray,
              dls = dls.toArray,
              pos_blob = ChunkCodec.concatUnits(positions),
              max_tf = tfs.max,
              max_norm = maxNorm)
            ids.clear(); tfs.clear(); dls.clear(); poss.clear()
            chunk
          }

          private def advance(): Unit = {
            while (pending == null && it.hasNext) {
              val r = it.next()
              if (r.term != curTerm || r.salt != curSalt) {
                if (ids.nonEmpty) pending = emit()
                curTerm = r.term; curSalt = r.salt
              }
              ids += r.doc_id; tfs += r.tf; dls += r.dl
              poss += r.pos_enc
              if (ids.length == ChunkCodec.ChunkSize) pending = emit()
            }
            if (pending == null && !it.hasNext && ids.nonEmpty) pending = emit()
          }

          def hasNext: Boolean = { if (pending == null) advance(); pending != null }
          def next(): RawChunk = {
            if (pending == null) advance()
            val out = pending; pending = null; out
          }
        }
      }
  }

  /** Deletion-neighborhood (SymSpell) fuzzy table: every dictionary term
    * expanded to its <=d-deletion variants, range-partitioned and sorted
    * by variant so a fuzzy lookup is a pushed `variant IN` probe. The
    * build writes it at d = `fuzzyMaxDistance`; a reader backfills it on
    * any root at the first lookup of a larger d up to 3
    * (QueryEngine.fuzzyIndexFor). Skipped while current: derived from
    * the dictionary under `root` (see [[writeFuzzy]]).
    */
  def writeFuzzyIndex(dictDf: DataFrame, root: String, d: Int = 1): Unit =
    writeFuzzy(dictDf, root, d, IndexBuilder.tableToken(IndexPaths(root).dictionary))

  /** [[writeFuzzyIndex]] as a stage under `dictToken`, the
    * [[IndexBuilder.tableToken]] of the dictionary it derives from: a
    * rebuild over a changed corpus rewrites the dictionary but not a
    * backfilled fuzzy_dD, which must then read as stale (wrong df,
    * dangling term_ids), never serve.
    */
  private def writeFuzzy(dictDf: DataFrame, root: String, d: Int,
      dictToken: String): Unit = stage(IndexPaths(root).fuzzy(d), dictToken) {
    // maxLen slack of +d: a term of MaxTermLen+d code points is still
    // within distance d of a MaxTermLen-cp query, so its variants must be
    // in the table (the boundary miss ADVICE flagged); only terms beyond
    // that are exact-match-only.
    val maxLen = graft.core.Fuzzy.MaxTermLen + d
    val variants = dictDf.select($"term", $"term_id", $"df")
      // unigrams only: on a bigram-indexed root the dictionary also
      // holds space-joined pseudo-terms, which fuzzyTerms never serves
      // (filtered query-side too) — expanding their deletion
      // neighborhoods would only bloat the table
      .filter(!$"term".contains(" "))
      .as[(String, Long, Long)]
      .flatMap { case (t, id, df) =>
        graft.core.Fuzzy.deleteVariants(t, d, maxLen).iterator
          .map(v => (v, t, id, df)) }
      .toDF(IndexBuilder.FuzzySchema.fieldNames.toSeq: _*)
      .repartitionByRange(conf.numParts, $"variant")
      .sortWithinPartitions($"variant")
    (IndexBuilder.writeCounted(variants, IndexPaths(root).fuzzy(d)).rows, Map.empty)
  }

  /** A9 — vector-space document norms, the reference's abandoned cosine
    * normalization (src/helpers/mod.rs:191-218 and src/indexer/
    * spimi.rs:110-118, both commented out):
    * `norm_d = sqrt(Σ_t (tf_{t,d} · df_t)²)` — note the reference pushes
    * `tf * df` (mod.rs:197), NOT tf·idf, despite naming the vector
    * `tf_idfs`; this table reproduces that semantic faithfully and
    * QueryEngine.vsmScores documents the completion of the design.
    *
    * Shape at scale: postings ⋈ dictionary(term_id, df) — the dictionary
    * side is lexicon-sized ((long, long) rows: broadcastable to ~10^8
    * terms, a plain shuffled join beyond — the POSTINGS side is already
    * keyed by term_id either way) — then one decode pass and one
    * map-side-combined sum by doc_id: the same single full-postings
    * pass the reference's merge-time loop paid. Like the fuzzy variant
    * tables this is backfilled lazily on first use, NOT during build():
    * the reference abandoned the feature, so fresh builds don't pay for
    * it. Determinism: each addend (tf·df)² is an exact integer in a
    * Double, so the sum is order-independent (bit-identical across
    * partitionings) while Σ(tf·df)² < 2^53 — beyond that, low bits may
    * vary per REBUILD, but serving reads the persisted table, so scores
    * stay stable across queries regardless.
    */
  def vsmNormsDf(postingsDf: DataFrame, dictDf: DataFrame): DataFrame = {
    // unigrams only — the reference's doc vector has no bigram
    // dimension (bigram pseudo-terms are this engine's own indexing
    // extension), and Oracle.vsmNorms sums over Tokenizer.tokenize
    // output; without this filter a bigram-indexed root inflated every
    // norm with (tf·df)² over "a b" postings. Same exclusion as
    // writeFuzzyIndex. The join drops the bigram postings rows.
    val dfs = dictDf.filter(!$"term".contains(" ")).select($"term_id", $"df")
    postingsDf
      .select($"term_id", $"n_postings", $"doc_gaps", $"tfs")
      .join(dfs, Seq("term_id"))
      .select($"df", $"n_postings", $"doc_gaps", $"tfs")
      .as[(Long, Int, Array[Byte], Seq[Int])]
      .flatMap { case (df, n, gaps, tfs) =>
        val ids = graft.core.ChunkCodec.decodeDocGaps(gaps, n)
        Iterator.tabulate(n) { i =>
          val w = tfs(i).toDouble * df
          (ids(i), w * w)
        }
      }
      .toDF("doc_id", "w2")
      .groupBy($"doc_id")
      .agg(sqrt(sum($"w2")).as("vsm_norm"))
  }

  /** Persist [[vsmNormsDf]] under the root, doc_id-sorted for row-group
    * pruning by candidate joins. Partition count scales with the CORPUS
    * (one ~2M-doc (long, double) file per partition), not conf.numParts
    * — the dict_by_len lesson: range partitioning a small table into
    * many near-empty files pays a sampling pass + writes for nothing.
    * A stage under the dictionary's [[IndexBuilder.tableToken]] plus
    * [[IndexBuilder.VsmNormsFormatTag]] (the dictionary and the postings
    * rewrite together), skipped while current.
    */
  def writeVsmNorms(postingsDf: DataFrame, dictDf: DataFrame, root: String): Unit = {
    val paths = IndexPaths(root)
    stage(paths.vsmNorms,
        IndexBuilder.tableToken(paths.dictionary) + IndexBuilder.VsmNormsFormatTag) {
      val nDocs = IndexBuilder.readMeta(root).n_docs
      val parts = math.max(1L,
        math.min(conf.numParts.toLong, nDocs / 2000000L + 1L)).toInt
      (IndexBuilder.writeCounted(vsmNormsDf(postingsDf, dictDf)
        .repartitionByRange(parts, $"doc_id")
        .sortWithinPartitions($"doc_id"), paths.vsmNorms).rows, Map.empty)
    }
  }

  /** Per-term (df, cf, max_norm) from chunk rows — a cheap aggregation
    * over ~n_postings/128 pre-reduced rows (df sums chunk sizes, cf sums
    * chunk tf totals, max_norm maxes per-chunk maxes of the same
    * per-posting Bm25.norm; sums and maxes are order-free, so values
    * are bit-identical to a per-posting rollup).
    */
  def dictStats(rawChunks: Dataset[RawChunk]): DataFrame =
    rawChunks
      .map(c => (c.term, c.n_postings.toLong, c.tfs.map(_.toLong).sum, c.max_norm))
      .toDF("term", "df_part", "cf_part", "norm_part")
      .groupBy($"term")
      .agg(sum($"df_part").as("df"), sum($"cf_part").as("cf"),
        max($"norm_part").as("max_norm"))

  /** Dense term_id in byte-order term sort via RangeRank + idf /
    * per-term global max_impact, over (term, df, cf, max_norm) stats.
    * The result's `df` holds [[DictRow]]s; at or below RangeRank's small
    * threshold it is ONE term-sorted partition (`single`).
    */
  def finishDictionary(stats: DataFrame, nDocs: Long): RangeRank.Ranked = {
    val ranked = RangeRank.withRank(stats, Seq("term"), "term_id",
      conf.numParts, smallThreshold = 2000000L)
    val n = nDocs
    ranked.copy(df = ranked.df.select($"term", $"term_id", $"df", $"cf", $"max_norm")
      .as[(String, Long, Long, Long, Double)]
      .map { case (term, termId, df, cf, maxNorm) =>
        val idf = Bm25.idf(n, df)
        DictRow(term, termId, df, cf, idf, idf * maxNorm)
      }.toDF())
  }

  /** The dictionary table at `dir`, opened with the schema the builder
    * writes.
    */
  private def readDictionary(dir: String): DataFrame =
    IndexBuilder.reopen(spark, Seq(dir), IndexBuilder.DictionarySchema)

  /** The segments table at `dir` (a single dir or slice dirs), opened
    * with the schema the builder writes.
    */
  private[index] def readSegments(dir: String): Dataset[SegmentRow] =
    IndexBuilder.reopen(spark, Seq(dir), IndexBuilder.SegmentsSchema, recursive = true)
      .as[SegmentRow]

  /** Term boundaries for `nRanges` stage-2 postings ranges, read from
    * the COMPLETED dictionary (terms at term_id r*width+1): range r =
    * [bounds(r-1), bounds(r)) in UTF-8 byte order, which IS term_id
    * order — so ranges are disjoint in term_id too and the per-range
    * postings dirs concatenate into the same global (term_id, chunk_seq)
    * range layout a single-dir write produces. Deterministic given the
    * dictionary, so a resume recomputes identical ranges (nothing extra
    * to persist). A pushed `term >= lo AND term < hi` probe prunes the
    * segments scan to ~1/nRanges of its row groups (stage-1 files are
    * term-sorted within partitions, so row-group min/max terms are
    * tight).
    */
  def rangeBounds(dictDf: DataFrame, nTerms: Long, nRanges: Int): Array[String] =
    if (nRanges <= 1 || nTerms <= 1) Array.empty
    else {
      val width = (nTerms + nRanges - 1) / nRanges
      val ids = (1 until nRanges).map(r => r * width + 1L).filter(_ <= nTerms)
      dictDf.filter($"term_id".isin(ids: _*)).select($"term_id", $"term")
        .collect().sortBy(_.getLong(0)).map(_.getString(1))
    }

  /** One postings range: join chunk rows with their dictionary slice,
    * range-partition/sort by (term_id, chunk_seq), write to `dir`.
    * Returns the rows written.
    */
  private def writePostingsRange(chunks: Dataset[RawChunk], dictDf: DataFrame,
      dir: String, parts: Int): Long = {
    val postings = chunks.toDF()
      .join(dictDf.select($"term", $"term_id", $"idf"), Seq("term"))
      .withColumn("max_impact", col("idf") * col("max_norm"))
      .select($"term_id", $"chunk_seq", $"min_doc_id", $"max_doc_id",
        $"n_postings", $"doc_gaps", $"tfs", $"dls", $"pos_blob", $"max_tf",
        $"max_impact")
    IndexBuilder.writeCounted(postings
      .repartitionByRange(parts, $"term_id", $"chunk_seq")
      .sortWithinPartitions($"term_id", $"chunk_seq"), dir).rows
  }

  /** Stage 2 of every index writer (build, merge and compaction share
    * it through [[finish]], so the layout guarantees cannot drift):
    * dictionary (term-sorted, range-partitioned — the layout PlanSpec
    * asserts), postings (term-range dirs, each range-partitioned/sorted
    * by (term_id, chunk_seq); readers use recursiveFileLookup), and the
    * two dictionary-derived tables, dict_by_len and the SymSpell fuzzy
    * variant table. Every piece carries its own manifest:
    *
    *  - dictionary: one manifest under `fp` (stats agg + RangeRank are
    *    global — a dense term_id cannot be assigned per-range — but this
    *    pass is the CHEAP one: column-pruned, no chunk encoding);
    *  - postings: one manifest per term-range + a parent manifest, so a
    *    kill mid-stage-2 redoes only incomplete ranges (the bulk of
    *    stage-2 wall time is here: chunk encode + blob write);
    *  - dict_by_len and fuzzy_d{fuzzyMaxDistance}: one manifest each
    *    under the dictionary's [[IndexBuilder.tableToken]], so each is
    *    skipped while derived from this dictionary and intact, and
    *    rewritten otherwise.
    *
    * Reads the persisted segments under `root`, which every writer
    * leaves (term, salt)-grouped and (term, salt, doc_id)-sorted within
    * files (the stage-1 layout; a merge or compaction re-shuffles its
    * sources' union into it). The Parquet reader preserves row order
    * within each file/split, so the chunker runs DIRECTLY on the read,
    * with no second shuffle; a group straddling a split seam just
    * yields an extra sub-128 seam chunk (chunk_seq = min_doc_id keeps
    * identities unique and ordered). Returns the written dictionary's
    * (n_terms, n_postings): its manifest's `rows` and `df_sum`
    * (observed when the dictionary was written), or one aggregate over
    * it when an older manifest lacks `df_sum`.
    */
  private[index] def writeStage2(nDocs: Long, avgdl: Double, root: String,
      fp: String): (Long, Long) = {
    val paths = IndexPaths(root)
    val segments = readSegments(paths.segments)

    def restrict[T](ds: Dataset[T], lo: Option[String], hi: Option[String]): Dataset[T] =
      (lo.map(col("term") >= _) ++ hi.map(col("term") < _))
        .foldLeft(ds)((d, c) => d.filter(c))

    // 2a: the dictionary. A fresh write runs ONE chunking pass that
    // serves the dictionary stats AND every range write (persisted — a
    // second chunking pass for the postings measured ~15% of build wall;
    // at scale the cache spills to executor-local disk, still cheaper
    // than re-reading + re-decoding the segments)
    var fresh: Option[Dataset[RawChunk]] = None
    stage(paths.dictionary, fp) {
      val rawChunks = chunkSorted(segments, avgdl)
      rawChunks.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      fresh = Some(rawChunks)
      val dict = finishDictionary(dictStats(rawChunks), nDocs)
      (if (dict.single)
        // one term-sorted partition already: written as numParts
        // term-contiguous files, with no range sample or re-shuffle
        IndexBuilder.writeCounted(dict.df, paths.dictionary, Seq("df"),
          maxRecordsPerFile = (dict.rows + conf.numParts - 1) / conf.numParts)
      else
        IndexBuilder.writeCounted(dict.df.repartitionByRange(conf.numParts, $"term")
          .sortWithinPartitions($"term"), paths.dictionary, Seq("df"))).fields
    }
    val dictDf = readDictionary(paths.dictionary)
    val nTerms = manifestRows(paths.dictionary).getOrElse(dictDf.count())
    // a resumed dictionary (no chunking pass this run) chunks ONLY the
    // incomplete ranges' segments: the term-range predicate prunes the
    // scan to ~their row groups (stage-1 files are term-sorted within
    // partitions)
    val chunksFor: (Option[String], Option[String]) => Dataset[RawChunk] = fresh match {
      case Some(c) => restrict(c, _, _)
      case None => (lo, hi) => chunkSorted(restrict(segments, lo, hi), avgdl)
    }

    // 2b: per-term-range postings writer. Range manifests carry the
    // geometry (bounds derive from nR + the fingerprinted dictionary, so
    // nR suffices); anything that is not a current range dir — stale
    // flat part files, or range_i >= nR from a run with different
    // geometry — is dropped, since the recursive read would silently
    // double-count it. Returns the parent manifest's rows and fields.
    def writeRanges(): (Long, Map[String, String]) = {
      val nRanges = if (conf.stage2Ranges > 0) conf.stage2Ranges
        else math.max(1L, math.min(32L, nTerms / 2000000L)).toInt
      val bounds = rangeBounds(dictDf, nTerms, nRanges)
      val nR = bounds.length + 1
      val rangeFp = s"$fp-st2r$nR"
      Fs.listNames(paths.postings).foreach { name =>
        val keep = (name.startsWith("range_") &&
          name.stripPrefix("range_").toIntOption.exists(_ < nR)) ||
          name == "_manifest.json"
        if (!keep) Fs.deleteRecursive(s"${paths.postings}/$name")
      }
      val parts = math.max(1, conf.numParts / nR)
      IndexBuilder.concurrently(spark, nR) { r =>
        val dir = s"${paths.postings}/range_$r"
        stage(dir, rangeFp) {
          val lo = if (r == 0) None else Some(bounds(r - 1))
          val hi = if (r == nR - 1) None else Some(bounds(r))
          (writePostingsRange(chunksFor(lo, hi), restrict(dictDf, lo, hi), dir, parts),
            Map.empty)
        }
      }
      ((0 until nR).map(r => manifestRows(s"${paths.postings}/range_$r").getOrElse(0L)).sum,
        Map("n_ranges" -> nR.toString))
    }

    // 2b': length-bucketed dictionary projection (cp_len, term, term_id,
    // df), range-partitioned AND sorted by (cp_len, term) so parquet
    // row-group stats on cp_len are tight — a fuzzy lookup at d above
    // the variant-table cap becomes a PUSHED `cp_len BETWEEN len-d AND
    // len+d` range probe (only the query's length band is ever read)
    // instead of the old O(lexicon) scan (round-4 verdict #4).
    // Lexicon-sized projection of 4 columns: negligible build cost.
    // Like the fuzzy table, a stage under the dictionary's token, not
    // fp: a dictionary rewritten under the SAME fp (new part UUIDs, new
    // token) makes it stale, so the next build() repairs it, and the
    // reader serves it only under the token it was built from.
    val dictToken = IndexBuilder.tableToken(paths.dictionary)
    def writeDictByLen(): Unit =
      stage(paths.dictByLen, dictToken) {
        // Partition count scales with the LEXICON, not the corpus: a
        // small lexicon in conf.numParts range partitions pays a
        // sampling pass + shuffle + numParts file writes for near-empty
        // files (a measurable share of a small corpus's fixed build
        // cost — the c8/sf0.01 A/B pairs), while one ~64k-term file per
        // partition keeps row groups tight at the 10^9-term scale.
        val dblParts = math.max(1L,
          math.min(conf.numParts.toLong, nTerms / 65536L + 1L)).toInt
        // length() counts CODE POINTS (matching Fuzzy's qCp bound);
        // java String.length would under-bucket supplementary-plane
        // terms and the probe's band would miss true matches
        dictDf.select(length($"term").cast("int").as("cp_len"),
            $"term", $"term_id", $"df")
          .repartitionByRange(dblParts, $"cp_len", $"term")
          .sortWithinPartitions($"cp_len", $"term")
          .write.mode("overwrite").parquet(paths.dictByLen)
        (nTerms, Map.empty)
      }

    // Everything after the dictionary lands is INDEPENDENT (the postings
    // ranges, dict_by_len and the fuzzy table each derive only from the
    // completed dictionary and write disjoint dirs), so the three run
    // concurrently on the small fixed pool — the two dictionary-derived
    // writes ride in task slots the (much larger) range writes leave
    // free. Running dict_by_len serially after the ranges measured
    // ~5-7% of bench-scale build wall (round-5 A/B pairs).
    IndexBuilder.concurrently(spark, 3) {
      case 0 => stage(paths.postings, fp)(writeRanges())
      case 1 => writeDictByLen()
      case _ => writeFuzzy(dictDf, root, conf.fuzzyMaxDistance, dictToken)
    }
    fresh.foreach(_.unpersist())
    rowsAndSum(paths.dictionary, "df", dictDf)
  }

  // ------------------------------------------------------------ manifests

  /** Row count recorded in a stage's manifest, if one exists. Build
    * stages record the row count their write observed
    * ([[IndexBuilder.writeCounted]]); resumed/completed stages read it
    * back here — there is deliberately NO re-read of a written table and
    * NO per-parquet-footer driver loop anywhere (opening every part
    * file's footer serially on the driver costs minutes at 10^5-10^6
    * part files).
    */
  private def manifestRows(dir: String): Option[Long] =
    IndexBuilder.manifestLong(dir, "rows")

  /** (rows, sum of `column`) of a written table: its manifest's `rows`
    * and `<column>_sum`, both observed by the write. A manifest written
    * before the sum was recorded falls back to one aggregate over
    * `table`, so older roots resume to the same values.
    */
  private def rowsAndSum(dir: String, column: String,
      table: => DataFrame): (Long, Long) =
    (for (n <- manifestRows(dir); s <- IndexBuilder.manifestLong(dir, s"${column}_sum"))
      yield (n, s)).getOrElse {
      val r = table.agg(count(lit(1)), sum(col(column))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

  private def writeManifest(dir: String, fingerprint: String, rows: Long,
      wallMs: Long, extra: Map[String, String] = Map.empty): Unit = {
    Fs.mkdirs(dir)
    val files = Fs.listFilesRecursive(dir, ".parquet")
    val bytes = files.map(_._3).sum
    val extraJson = extra.map { case (k, v) => s""","$k":"$v"""" }.mkString
    val json =
      s"""{"status":"complete","fingerprint":"$fingerprint","rows":$rows,
         |"bytes":$bytes,"n_files":${files.size},"wall_ms":$wallMs,
         |"files":[${files.map { case (_, n, b) => s"""{"name":"$n","bytes":$b}""" }.mkString(",")}]$extraJson}""".stripMargin.replace("\n", "")
    Fs.writeString(s"$dir/_manifest.json", json)
  }

  /** The one resumable stage of every index writer and derived table:
    * skipped when [[IndexBuilder.manifestComplete]] holds for `dir`
    * under `fp`, else `write` runs, timed, and returns the rows it wrote
    * and the manifest's extra fields (sums, geometry), which land with
    * its wall time in `dir`'s `_manifest.json` — written only after the
    * write has committed (an overwrite drops the old manifest first),
    * so an interrupted write leaves none.
    */
  private[index] def stage(dir: String, fp: String)(
      write: => (Long, Map[String, String])): Unit =
    if (!IndexBuilder.manifestComplete(dir, fp)) {
      val t0 = System.nanoTime()
      val (rows, extra) = write
      writeManifest(dir, fp, rows, (System.nanoTime() - t0) / 1000000L, extra)
    }

  /** The tail of every index writer (build, merge, compaction): n_docs
    * and avgdl from the docs stage's manifest, stage 2 over the
    * persisted segments ([[writeStage2]]), `commit` (a merge's
    * `replaces.json`), then the meta — the root's commit point.
    */
  private[index] def finish(root: String, fp: String, commit: => Unit = ()): IndexMeta = {
    val paths = IndexPaths(root)
    val (nDocs, docLenSum) = rowsAndSum(paths.docs, "doc_len",
      IndexBuilder.readDocs(spark, paths.docs))
    val avgdl = IndexBuilder.avgdl(docLenSum, nDocs)
    val (nTerms, nPostings) = writeStage2(nDocs, avgdl, root, fp)
    val meta = IndexMeta(nDocs, avgdl, nTerms, nPostings, conf.k1, conf.b)
    commit
    IndexBuilder.writeMeta(root, meta, fp)
    meta
  }

  // ----------------------------------------------------------- full build

  /** Cheap input-identity fingerprint: source file list + sizes, read
    * driver-side from the dataset's lineage (no Spark job). Folding this
    * into the stage fingerprint makes `manifestComplete` invalidate when
    * the INPUT changes at an unchanged root (e.g. a /tmp index cache
    * surviving across runs over regenerated data) — config-only
    * fingerprints would silently serve a stale index. Non-file sources
    * (in-memory datasets) have no stable identity (typed-map plans hash
    * per closure instance), so they get a constant: resume for those
    * keeps round-1's config-only semantics.
    */
  private def inputFingerprint(turns: Dataset[Turn]): String = {
    val files = try turns.inputFiles.sorted.toSeq catch { case _: Throwable => Nil }
    if (files.isEmpty) "mem"
    else {
      // names + sizes + mtimes: a generator that rewrites fixed-name
      // files in place with unchanged total bytes must still invalidate.
      // Parallel stats — the input listing is 10^5-10^6 files at 100 TB.
      val stats = Fs.statusOfMany(files).map(_.getOrElse((-1L, -1L)))
      val h = (files.mkString(",").hashCode.toLong << 32) ^
        stats.map { case (s, m) => s * 31 + m }.foldLeft(17L)(_ * 31 + _)
      f"f${files.length}-b${stats.map(_._1).sum}-h$h%016x"
    }
  }

  /** End-to-end build with per-stage resumable checkpoints — on a local
    * root or any Hadoop-supported filesystem (the marker seam goes
    * through [[Fs]]). Returns meta.
    */
  def build(turns: Dataset[Turn], root: String): IndexMeta = {
    val paths = IndexPaths(root)
    Fs.mkdirs(root)
    // v5: k1/b join the fingerprint — chunkSorted bakes them into every
    // chunk's max_norm, so resuming stages built under different BM25
    // constants would serve invalid block-max bounds (silently wrong
    // WAND top-k). (Bumping the version invalidates older-layout caches.)
    // v6: the LEMMA MAP joins it — lemmatization rewrites every term
    // (and with it doc lengths, dfs, the dictionary), so a rebuild at
    // the same root with a different lemma file must not resume stage
    // manifests and silently serve the OLD lemmatization while queries
    // lemmatize with the new one.
    val fp = s"v6-np${conf.numParts}-salt${conf.nSalts}-thr${conf.skewDfThreshold}-off${conf.docIdOffset}-bi${conf.indexBigrams}-fz${conf.fuzzyMaxDistance}-k1${conf.k1}-b${conf.b}-lm$lemmaFingerprint-in${inputFingerprint(turns)}"

    // Stage 0: docs (doc_id assignment + doc lengths). The write observes
    // its row count and Σdoc_len; the manifest records both, so n_docs
    // and avgdl never cost a pass over the docs table.
    stage(paths.docs, fp) {
      IndexBuilder.writeCounted(buildDocs(turns), paths.docs, Seq("doc_len")).fields
    }

    // Stage 1: SPIMI segments (sorted runs, salted for skew; the salted
    // set comes from highDfTerms' doc sample, whose wall time the
    // manifest records as highdf_ms).
    stage(paths.segments, fp) {
      val docsWithText = IndexBuilder.readDocs(spark, paths.docs)
      val (nDocs, _) = rowsAndSum(paths.docs, "doc_len", docsWithText)
      // clear error instead of a NaN avgdl — streaming callers
      // (StreamIngest) skip empty micro-batches before reaching here; a
      // batch caller indexing nothing is a caller bug
      require(nDocs > 0L,
        s"empty input: refusing to build an index over zero turns at $root")
      val nSlices = if (conf.resumeSlices > 0) conf.resumeSlices
        else math.max(1L, math.min(64L, nDocs / 500000L)).toInt
      val t0 = System.nanoTime()
      val highDf = highDfTerms(docsWithText, nDocs)
      val highDfMs = (System.nanoTime() - t0) / 1000000L
      // stage row count: observed by the single write, or the sum of the
      // slice manifests when sliced
      val rows = if (nSlices <= 1) {
        IndexBuilder.writeCounted(buildSegments(docsWithText, nDocs, highDf).toDF(),
          paths.segments).rows
      } else {
        // Per-partition resume: independent doc-range slices, each with
        // its own manifest — a kill mid-stage redoes only incomplete
        // slices. Slice boundaries are doc_id ranges, so salting
        // (docId / saltWidth) and chunk doc-range disjointness are
        // unaffected; a term spanning slices just contributes one sorted
        // run per slice to the stage-2 chunker (same as a split seam).
        // First drop anything that isn't a current slice dir (stale
        // single-slice part files or slice_i >= nSlices from an
        // interrupted run with a different slicing) — the stage-2 read
        // is recursive, so leftovers would silently double-count.
        Fs.listNames(paths.segments).foreach { name =>
          val keep = name.startsWith("slice_") &&
            name.stripPrefix("slice_").toIntOption.exists(_ < nSlices)
          if (!keep) Fs.deleteRecursive(s"${paths.segments}/$name")
        }
        val sliceWidth = (nDocs + nSlices - 1) / nSlices
        // Slice manifests carry the GEOMETRY in their fingerprint: a
        // resume after changing resumeSlices must not accept a slice dir
        // whose doc range was computed under a different slicing (same
        // slice_1 name, different [lo, hi) — silently dropped or
        // double-counted ranges otherwise). The parent segments manifest
        // keeps the plain fp; geometry only matters while slices resume.
        val sliceFp = s"$fp-sl$nSlices"
        // Slices run CONCURRENTLY (see IndexBuilder.concurrently); each writes its
        // own dir + manifest — thread-safe by layout.
        IndexBuilder.concurrently(spark, nSlices) { i =>
          val dir = s"${paths.segments}/slice_$i"
          stage(dir, sliceFp) {
            val lo = conf.docIdOffset + 1L + i.toLong * sliceWidth
            val hi = lo + sliceWidth
            (IndexBuilder.writeCounted(buildSegments(
              docsWithText.filter($"doc_id" >= lo && $"doc_id" < hi),
              nDocs, highDf).toDF(), dir).rows, Map.empty)
          }
        }
        (0 until nSlices)
          .map(i => manifestRows(s"${paths.segments}/slice_$i").getOrElse(0L)).sum
      }
      (rows, Map("salted_terms" -> highDf.size.toString,
        "n_slices" -> nSlices.toString, "highdf_ms" -> highDfMs.toString))
    }

    // Stage 2 (merge + chunk + dictionary + final postings, with
    // per-substage + per-term-range manifests) and the meta.
    finish(root, fp)
  }
}

object IndexBuilder {

  /** A numeric field of a stage's manifest, if the manifest exists and
    * records it (quoted or bare).
    */
  private[index] def manifestLong(dir: String, field: String): Option[Long] = {
    val f = s"$dir/_manifest.json"
    if (!Fs.exists(f)) None
    else s"\"$field\":\"?(\\d+)".r.findFirstMatchIn(Fs.readString(f))
      .map(_.group(1).toLong)
  }

  /** The Parquet bytes a table's manifest recorded when it was written. */
  private[graft] def manifestBytes(dir: String): Option[Long] =
    manifestLong(dir, "bytes")

  /** Run `job(0..n-1)` on a small fixed pool — independent Spark jobs
    * whose stages the scheduler interleaves into free task slots, so
    * per-slice/per-range resume granularity costs no wall-clock vs a
    * single job (measured: SEQUENTIAL slices halved c32 build
    * throughput at 4.2M docs; concurrent slices restore it). The pool's
    * threads end with the call, so the Spark job properties they copy
    * from the caller die with them; workers of Scala's global pool
    * would carry them into every later job they run (ProbeCancelSpec).
    */
  private[graft] def concurrently(spark: SparkSession, n: Int)(job: Int => Unit): Unit =
    if (n <= 1) (0 until n).foreach(job)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(n, 4))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        val futures = (0 until n).map(i => scala.concurrent.Future {
          // getActiveSession is thread-local: hand the builder's
          // session to the pool thread so the jobs' Fs/conf calls
          // resolve against the same Hadoop configuration
          org.apache.spark.sql.SparkSession.setActiveSession(spark)
          job(i)
        })
        // Await EVERY job before returning OR rethrowing: a fail-fast
        // Future.sequence would propagate the first failure while
        // sibling stage jobs were still writing into the same index
        // root — a caller's immediate retry (the resume pattern) would
        // then race the orphaned writers' mode("overwrite") commits
        // into the same dirs. Failures after the first are subsumed.
        val outcomes = futures.map(f => scala.util.Try(
          scala.concurrent.Await.result(f,
            scala.concurrent.duration.Duration.Inf)))
        outcomes.foreach(_.get)
      } finally pool.shutdown()
      ()
    }

  // The schema of every index table, as its writer produces it. Readers
  // open the tables with these (see `reopen`); TableSchemaSpec checks
  // each against what parquet infers from freshly written files.

  /** The docs table's columns as [[IndexBuilder.buildDocs]] writes them. */
  val DocsSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType), StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType), StructField("role", StringType),
      StructField("doc_len", IntegerType), StructField("text", StringType),
      StructField("ts", TimestampType)))
  }

  /** The dictionary table's columns as `finishDictionary` writes them. */
  val DictionarySchema: StructType = Encoders.product[DictRow].schema

  /** The postings table's columns as `writePostingsRange` writes them. */
  val PostingsSchema: StructType = Encoders.product[ChunkRow].schema

  /** The segments table's columns as stage 1 writes them. */
  val SegmentsSchema: StructType = Encoders.product[SegmentRow].schema

  /** A fuzzy_dD table's columns as `writeFuzzyIndex` writes them. */
  val FuzzySchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("variant", StringType), StructField("term", StringType),
      StructField("term_id", LongType), StructField("df", LongType)))
  }

  /** The dict_by_len table's columns as the build writes them. */
  val DictByLenSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("cp_len", IntegerType), StructField("term", StringType),
      StructField("term_id", LongType), StructField("df", LongType)))
  }

  /** The vsm_norms table's columns as `writeVsmNorms` writes them. */
  val VsmNormsSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType), StructField("vsm_norm", DoubleType)))
  }

  /** Re-opens the tables at `dirs` (one relation over them all), which
    * a writer of this package produced with `schema`, skipping the
    * footer-inference job a schema-less read starts. A column a file
    * lacks reads as null.
    */
  private[graft] def reopen(spark: SparkSession, dirs: Seq[String], schema: StructType,
      recursive: Boolean = false): DataFrame =
    spark.read.schema(StructType(schema.fields.map(_.copy(nullable = true))))
      .option("recursiveFileLookup", recursive.toString).parquet(dirs: _*)

  /** The docs tables at `dirs` (single indexes or generations) as one
    * relation, opened with [[DocsSchema]]. A table written before `ts`
    * joined the schema reads it as null.
    */
  def readDocs(spark: SparkSession, dirs: String*): DataFrame =
    reopen(spark, dirs, DocsSchema)

  /** What a write observed: its row count and the sums of some columns. */
  private[index] final case class Written(rows: Long, sums: Map[String, Long]) {
    /** The rows and the sums as manifest fields (`<column>_sum`), as a
      * stage returns them.
      */
    def fields: (Long, Map[String, String]) =
      (rows, sums.map { case (c, v) => s"${c}_sum" -> v.toString })
  }

  /** Writes `df` as parquet at `dir` (overwrite) and returns the rows it
    * wrote and the sums of `sumCols`, observed by the write itself: an
    * [[org.apache.spark.sql.Observation]] sits at the top of the plan,
    * after its last exchange, so it adds no job, a range-sampling job
    * below it never evaluates it, and only each partition's successful
    * task attempt counts (retried tasks are not double-counted).
    * `maxRecordsPerFile` > 0 caps the rows of each written file.
    */
  private[index] def writeCounted(df: DataFrame, dir: String,
      sumCols: Seq[String] = Nil, maxRecordsPerFile: Long = 0L): Written = {
    val obs = Observation()
    val writer = df.observe(obs, count(lit(1)).as("rows"),
      sumCols.map(c => sum(col(c)).as(c)): _*).write.mode("overwrite")
    (if (maxRecordsPerFile > 0) writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer).parquet(dir)
    val m = obs.get
    Written(m("rows").asInstanceOf[Long],
      sumCols.map(c => c -> Option(m(c)).fold(0L)(_.asInstanceOf[Long])).toMap)
  }

  /** Mean document length: Σdoc_len / n_docs — the value Spark's
    * avg(doc_len) computes (integer sums are exact in a double below
    * 2^53), and the expression the oracle uses.
    */
  private[index] def avgdl(docLenSum: Long, nDocs: Long): Double =
    docLenSum.toDouble / nDocs

  /** Computation-format tag appended to the dictionary token that
    * fingerprints vsm_norms — bump when the norm formula changes so
    * persisted tables from the old computation read as stale and
    * backfill once (e.g. "#unigram": the fix excluding bigram
    * pseudo-terms from norm_d).
    */
  val VsmNormsFormatTag = "#unigram"

  /** The one currency check of every stage and derived table, at build
    * and at serve time: `dir`'s manifest is complete under
    * `fingerprint`, and its n_files/bytes agree with one listing of the
    * parquet files on disk. The manifest alone is not the stage: a dir
    * whose part files were partially deleted while its manifest
    * survived must read as INCOMPLETE, or a resume or a reader silently
    * serves a truncated table. Vacuously intact for manifests predating
    * the n_files/bytes fields. O(1) driver IO per check (test-pinned
    * Fs-ops budget).
    */
  private[graft] def manifestComplete(dir: String, fingerprint: String): Boolean = {
    val f = s"$dir/_manifest.json"
    Fs.exists(f) && {
      val s = Fs.readString(f)
      val declared = for {
        nf <- "\"n_files\":(\\d+)".r.findFirstMatchIn(s)
        by <- "\"bytes\":(\\d+)".r.findFirstMatchIn(s)
      } yield (nf.group(1).toLong, by.group(1).toLong)
      s.contains("\"status\":\"complete\"") &&
      s.contains(s""""fingerprint":"$fingerprint"""") &&
      declared.forall { case (nFiles, bytes) =>
        val files = Fs.listFilesRecursive(dir, ".parquet")
        files.size.toLong == nFiles && files.map(_._3).sum == bytes
      }
    }
  }

  /** Identity token of an on-disk parquet table: hash of its sorted
    * (part-file name, size) listing. Part names embed the write's UUID,
    * so ANY rewrite of the table — same content or not — changes the
    * token. Cheap to recompute at serve time (one directory listing);
    * the fingerprint of every table derived from the dictionary
    * (dict_by_len, fuzzy_dD, vsm_norms), tying each to the exact
    * dictionary build it came from.
    */
  def tableToken(dir: String): String = {
    val parts = Fs.listFilesRecursive(dir, ".parquet")
      .map { case (_, name, size) => s"$name:$size" }
    if (parts.isEmpty) "absent"
    else {
      // md5 of the concatenated listing — this token is the ONLY guard
      // stopping a stale lazily-backfilled fuzzy_dD table (wrong df,
      // dangling term_ids) from serving after a dictionary rebuild, so
      // a collision must be cryptographically implausible, not just
      // unlikely (32-bit String.hashCode folds were the round-3 form)
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(parts.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.digest().map(b => f"$b%02x").mkString
    }
  }

  /** Torn-write-proof marker write (see [[Fs.writeAtomic]]):
    * index_meta.json existence is the generation-completeness /
    * streaming-replay-idempotency marker, so a partial meta must be
    * impossible — it would either drop a replayed batch or poison
    * readMeta for the whole root.
    */
  def writeAtomic(path: String, content: String): Unit =
    Fs.writeAtomic(path, content)

  /** Writes `root`'s index_meta.json for `meta`, built under
    * `fingerprint` — the one writer of the format [[readMeta]] parses.
    */
  private[index] def writeMeta(root: String, meta: IndexMeta, fingerprint: String): Unit =
    writeAtomic(IndexPaths(root).meta,
      s"""{"n_docs":${meta.n_docs},"avgdl":${meta.avgdl},"n_terms":${meta.n_terms},""" +
      s""""n_postings":${meta.n_postings},"k1":${meta.k1},"b":${meta.b},""" +
      s""""fingerprint":"$fingerprint"}""")

  def readMeta(root: String): IndexMeta = {
    val s = Fs.readString(IndexPaths(root).meta)
    def num(k: String): String =
      s.split(s""""$k":""")(1).takeWhile(c => c != ',' && c != '}')
    IndexMeta(num("n_docs").toLong, num("avgdl").toDouble,
      num("n_terms").toLong, num("n_postings").toLong,
      num("k1").toDouble, num("b").toDouble)
  }
}
