package graft

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tokenizer
import graft.corpus.Turn
import graft.index.{IndexBuilder, IndexConf, IndexPaths}
import graft.ops.{Dedup, Multimodal, Pipeline, Sessions, Similarity, TextOps}
import graft.query.QueryEngine

/** The operator catalog behind SparkEntry: every query takes
  * (SparkSession, sfDir) and reads the driver's parquet tables
  * (`documents`, `embeddings`, ...). Queries prefixed with an index stage
  * run through the REAL engine — transcripts-shaped input -> SPIMI ->
  * merge -> compressed postings -> query — so the driver's DuckDB oracle
  * exercises the entire pipeline, codecs included.
  */
object GraftQueries {

  def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  def events(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")

  // ------------------------------------------------------------ the index

  /** documents rows as transcript turns: one doc = one single-turn
    * conversation with a zero-padded conv_id, so engine doc order ==
    * original doc_id order.
    */
  def docsAsTurns(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[Turn] = {
    import spark.implicits._
    documents(spark, dir).select($"doc_id", $"text")
      .as[(Long, String)]
      .map { case (id, text) =>
        Turn(f"conv-$id%010d", 0, "user", text, "", new Timestamp(0L))
      }
  }

  private val indexCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Engine-INSTANCE caches (round 6): the index DIRECTORIES were always
    * cached per JVM (indexCache above), but every catalog call built a
    * fresh QueryEngine over them, so each query re-paid
    * distributed dictionary probes (one Spark job per term set, times
    * generations for the multi-gen rows). Serving engines are warmed
    * once per (session, root) — warmDictionaryLocal is exactly the
    * serving configuration Bench's own latency stages run — and reused;
    * keying on the session identity keeps a stopped test session from
    * leaking its engine into a new one. No RESULTS are cached: every
    * query still computes from the parquet index; only the dictionary
    * (an index TABLE, n_terms-gated) is held as the warm serving
    * structure.
    */
  private val engineCache = new SessionCache[QueryEngine]

  private def safeName(dir: String): String = dir.replaceAll("[^a-zA-Z0-9.]", "_")

  /** `name` under the JVM's temporary directory (`java.io.tmpdir`,
    * `/tmp` unless the JVM is started with another), where the catalog's
    * index roots and auxiliary tables live.
    */
  private def scratchPath(name: String): String =
    new java.io.File(System.getProperty("java.io.tmpdir"), name).getPath

  /** Side-output directory for oracle-auxiliary tables (persisted
    * candidate sets, synthesized media): per-sf-dir so concurrent runs at
    * different scales never clobber each other. Verify substitutes this
    * path for the `{AUX}` placeholder in oracle SQL, so DuckDB reads the
    * exact tables the queries wrote. LIMITATION: two PROCESSES over the
    * SAME sf dir share this path and the index cache — they must
    * run sequentially (as the driver runs Verify and Bench); a
    * concurrent same-sf pair could overwrite a directory mid-read.
    */
  def auxDir(dir: String): String = scratchPath(s"graft_aux_${safeName(dir)}")

  /** Build (once per JVM per sf dir) the full index over `documents` and
    * return an engine plus the internal->original doc_id mapping.
    */
  def engineFor(spark: SparkSession, dir: String): QueryEngine = {
    val root = indexCache.getOrElseUpdate(dir, {
      val out = scratchPath(s"graft_index_${safeName(dir)}")
      new IndexBuilder(spark, Map.empty,
        IndexConf(numParts = spark.sparkContext.defaultParallelism,
          skewDfThreshold = 100000L, nSalts = 8))
        .build(docsAsTurns(spark, dir), out)
      out
    })
    cachedEngine(spark, root, Map.empty)
  }

  /** The warmed serving engine over `root` for this session: built and
    * dictionary-warmed on first use, then the same instance per
    * (session, root).
    */
  private[graft] def cachedEngine(spark: SparkSession, root: String,
      lemmas: Map[String, String]): QueryEngine =
    engineCache.getOrElseUpdate(spark, root) {
      val e = new QueryEngine(spark, root, lemmas)
      e.warmDictionaryLocal()
      e
    }

  /** The lemma map used by the lemma/bigram driver checks (q28/q29):
    * 'small' and 'big' are variants of the lemma 'size' — chosen so the
    * map both REWRITES tokens and MERGES two dictionary terms into one
    * (the harder property: merged df/cf aggregation must agree).
    */
  val testLemmas: Map[String, String] = Map("small" -> "size", "big" -> "size")

  /** Second cached engine: lemmatized + bigram-indexed (IndexConf
    * indexBigrams; reference tokenizer.rs:211-217), for the S7/F8/F9
    * driver correctness rows.
    */
  def engineLemmaFor(spark: SparkSession, dir: String): QueryEngine = {
    val key = s"lemma:$dir"
    val root = indexCache.getOrElseUpdate(key, {
      val out = scratchPath(s"graft_index_lemma_${safeName(dir)}")
      new IndexBuilder(spark, testLemmas,
        IndexConf(numParts = spark.sparkContext.defaultParallelism,
          skewDfThreshold = 100000L, nSalts = 8, indexBigrams = true))
        .build(docsAsTurns(spark, dir), out)
      out
    })
    cachedEngine(spark, root, testLemmas)
  }

  /** internal engine doc_id -> original documents.doc_id (the conv_id
    * encoding), over the engine's docs — one relation for a single
    * index and a generations root alike.
    */
  def withOrigDocId(engine: QueryEngine, df: DataFrame): DataFrame = {
    val mapping = engine.docs.select(col("doc_id"),
      expr("cast(substring(conv_id, 6) as long)").as("orig_doc_id"))
    df.join(mapping, Seq("doc_id"))
      .drop("doc_id").withColumnRenamed("orig_doc_id", "doc_id")
  }

  /** Two-generation UNCOMPACTED root over `documents` (hot-append
    * serving shape, q46): the corpus split at the median doc_id into
    * two `Generations.appendAt` batches — contiguous halves in conv_id
    * order, so internal doc order (gen-0 then gen-1) equals original
    * doc order and tie-breaks agree with the single-index oracle.
    * The root path carries the INPUT's table token: appendAt's
    * idempotency is meta-existence only, so a cached root surviving a
    * testdata regeneration must resolve to a fresh directory rather
    * than silently serving the old corpus.
    */
  def multiGenFor(spark: SparkSession, dir: String): QueryEngine = {
    val root = indexCache.getOrElseUpdate(s"twogen:$dir",
      twoGenRootFor(spark, dir, "twogen"))
    cachedEngine(spark, root, Map.empty)
  }

  /** ONE home for the two-generation build shared by the q46 and q54
    * fixtures — the split rule and conf cannot drift between them
    * (q54's oracle assumes exactly q46's root shape plus tombstones).
    */
  private def twoGenRootFor(spark: SparkSession, dir: String,
      prefix: String): String = {
    val token = IndexBuilder.tableToken(s"$dir/documents.parquet").take(12)
    val out = scratchPath(s"graft_index_${prefix}_${safeName(dir)}_$token")
    val conf = IndexConf(numParts = spark.sparkContext.defaultParallelism,
      skewDfThreshold = 100000L, nSalts = 8)
    val split = documents(spark, dir)
      .agg(max(col("doc_id"))).head().getLong(0) / 2
    import spark.implicits._
    val turns = docsAsTurns(spark, dir)
    graft.index.Generations.appendAt(spark,
      turns.filter(t => t.conv_id < f"conv-${split + 1}%010d"),
      out, s"$out/gen-00000", Map.empty, conf)
    graft.index.Generations.appendAt(spark,
      turns.filter(t => t.conv_id >= f"conv-${split + 1}%010d"),
      out, s"$out/gen-00001", Map.empty, conf)
    out
  }

  /** [[multiGenFor]] plus tombstones (q54): the same two-generation
    * hot-append root at a SEPARATE path (q46's root must stay
    * delete-free), with every doc whose original doc_id ≡ 3 (mod 7)
    * tombstoned via `deleteDocsAt` — the idempotent explicit-directory
    * form, so a Verify re-run over a cached root never stacks duplicate
    * batches. Lucene liveDocs semantics: results exclude the tombstoned
    * docs while BM25 statistics stay pre-delete, which is exactly what
    * the oracle SQL expresses (full-corpus stats, filtered final SELECT).
    */
  def multiGenDeletedFor(spark: SparkSession, dir: String): QueryEngine = {
    val key = s"twogendel:$dir"
    val root = indexCache.getOrElseUpdate(key, {
      val out = twoGenRootFor(spark, dir, "twogendel")
      import spark.implicits._
      val delIds = graft.index.Generations.genDirs(out)
        .map(g => graft.index.IndexBuilder.readDocs(spark, graft.index.IndexPaths(g).docs)
          .filter(expr("cast(substring(conv_id, 6) as long) % 7 = 3"))
          .select("doc_id"))
        .reduce(_ unionByName _).as[Long]
      graft.index.Generations.deleteDocsAt(spark, delIds, out, s"$out/del-00000")
      out
    })
    cachedEngine(spark, root, Map.empty)
  }

  /** Three-generation root (thirds in conv_id order) whose FIRST TWO
    * generations were merged by `Compactor.mergeGenerationsAt` (q58) —
    * the partial-compaction serving shape. Every step is idempotent via
    * explicit directories (appendAt / mergeGenerationsAt meta checks),
    * so a Verify re-run over a cached root is a no-op replay.
    * The retired sources are deliberately NOT gc'd here: gcReplaced
    * would delete gen-00000/gen-00001, and a replay in a fresh JVM
    * would then re-append the first third as NEW generations on top of
    * the merged copy. gc is spec-pinned (GenerationMergeSpec); the
    * serving-relevant exclusion (replaces.json) is exercised right here.
    */
  def multiGenMergedFor(spark: SparkSession, dir: String): QueryEngine = {
    val key = s"merged:$dir"
    val root = indexCache.getOrElseUpdate(key, {
      val token = IndexBuilder.tableToken(s"$dir/documents.parquet").take(12)
      val out = scratchPath(s"graft_index_merged_${safeName(dir)}_$token")
      val conf = IndexConf(numParts = spark.sparkContext.defaultParallelism,
        skewDfThreshold = 100000L, nSalts = 8)
      val maxId = documents(spark, dir)
        .agg(max(col("doc_id"))).head().getLong(0)
      def cut(i: Long) = f"conv-${i * maxId / 3 + 1}%010d"
      val turns = docsAsTurns(spark, dir)
      graft.index.Generations.appendAt(spark,
        turns.filter(t => t.conv_id < cut(1)),
        out, s"$out/gen-00000", Map.empty, conf)
      graft.index.Generations.appendAt(spark,
        turns.filter(t => t.conv_id >= cut(1) && t.conv_id < cut(2)),
        out, s"$out/gen-00001", Map.empty, conf)
      graft.index.Generations.appendAt(spark,
        turns.filter(t => t.conv_id >= cut(2)),
        out, s"$out/gen-00002", Map.empty, conf)
      graft.index.Compactor.mergeGenerationsAt(spark, out,
        Seq(s"$out/gen-00000", s"$out/gen-00001"), s"$out/gen-00003",
        Map.empty, conf)
      out
    })
    cachedEngine(spark, root, Map.empty)
  }

  // --------------------------------------------------------- query catalog

  /** The oracle-paired catalog: the sketch queries (q18/q19/q23/q42/q43)
    * pin [[graft.core.HashFamily.Md5]] EXPLICITLY — their oracleSql is
    * md5-based, so the pair stays self-consistent for any consumer that
    * runs `queries` + `oracleSql` in its own session, regardless of the
    * process-wide `HashFamily.default` (which only graft.Verify pins).
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    queriesFor(graft.core.HashFamily.Md5)

  /** Production-family catalog: identical queries with the sketch ops on
    * the cheap xxhash64 family — what Bench times (hash VALUES differ,
    * plan shapes and shuffle weights are identical; family parity is
    * covered by HashFamilySpec and the planted-duplicate recall tests).
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queriesFor(graft.core.HashFamily.Xx64)

  private def queriesFor(sketch: graft.core.HashFamily)
      : Map[String, (SparkSession, String) => DataFrame] = Map(

    // S2/P2/P3: tokenize with positions (split indices; documents text is
    // pre-cleaned so engine tokenizer == split)
    "q01_tokens" -> ((s, dir) => {
      import s.implicits._
      documents(s, dir).select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          Tokenizer.tokenize(text, Map.empty).map(t => (id, t.position, t.term))
        }.toDF("doc_id", "pos", "term")
        .orderBy("doc_id", "pos")
    }),

    // A4: document frequency + collection frequency per term
    "q02_term_df" -> ((s, dir) => {
      import s.implicits._
      documents(s, dir).select($"doc_id", $"text").as[(Long, String)]
        .flatMap { case (id, text) =>
          Tokenizer.tokenize(text, Map.empty).map(t => (id, t.term))
        }.toDF("doc_id", "term")
        .groupBy($"term")
        .agg(countDistinct($"doc_id").as("df"), count(lit(1)).as("cf"))
        .orderBy("term")
    }),

    // doc stats (doc_len for BM25 norm) — through the real docs table
    "q03_doc_stats" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      withOrigDocId(eng, eng.docs.select(col("doc_id"), col("doc_len")))
        .select("doc_id", "doc_len").orderBy("doc_id")
    }),

    // J2: conjunctive AND, rarest-first, through compressed postings
    "q04_conjunctive" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      withOrigDocId(eng, eng.conjunctive(Seq("join", "filter", "sort")))
        .orderBy("doc_id")
    }),

    // J5: phrase match (consecutive positions)
    "q05_phrase" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      withOrigDocId(eng, eng.phraseMatch(Seq("table", "scan")))
        .orderBy("doc_id")
    }),

    // J3/J4: directional proximity pairs (pp2 > pp1, diff <= 3)
    "q06_proximity" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      withOrigDocId(eng, eng.proximity("merge", "sort", 3))
        .select("doc_id", "pos1", "pos2").orderBy("doc_id", "pos1", "pos2")
    }),

    // A6-A8 + O3: BM25 top-10; ordered by ROUNDED score so the DuckDB
    // oracle is boundary-stable
    "q07_bm25_topk" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      val scored = eng.bm25Scores(Seq("query", "join"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
      withOrigDocId(eng, scored)
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .select("doc_id", "score")
    }),

    // J7: fuzzy term lookup (levenshtein <= 1)
    "q08_fuzzy" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      eng.fuzzyTerms("joib", 1).select("term", "df").orderBy("term")
    }),

    // reference-parity tf-idf scorer (log10(N/df) * tf)
    "q09_tfidf" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      withOrigDocId(eng,
        eng.tfIdfScores(Seq("window", "hash"))
          .select(col("doc_id"), round(col("score"), 4).as("score")))
        .select("doc_id", "score").orderBy("doc_id")
    }),

    // full-pipeline round-trip: every posting decoded back out of the
    // compressed chunks must equal the tokenize-side tf relation
    "q10_postings_roundtrip" -> ((s, dir) => {
      import s.implicits._
      val eng = engineFor(s, dir)
      val dict = eng.dictionary.select(col("term_id"), col("term"))
      val decoded = eng.postings
        .select($"term_id", $"n_postings", $"doc_gaps", $"tfs")
        .as[(Long, Int, Array[Byte], Seq[Int])]
        .flatMap { case (termId, n, gaps, tfs) =>
          val ids = graft.core.ChunkCodec.decodeDocGaps(gaps, n)
          Iterator.tabulate(n)(i => (termId, ids(i), tfs(i)))
        }.toDF("term_id", "doc_id", "tf")
      withOrigDocId(eng, decoded.join(dict, Seq("term_id")))
        .select("term", "doc_id", "tf").orderBy("term", "doc_id")
    }),

    // dedup: exact content-hash groups over documents + planted dups
    "q11_dedup_exact" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 50)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      Dedup.exactDedup(docs.union(planted))
        .select("doc_id", "group_size", "rep_id", "is_dup").orderBy("doc_id")
    }),

    // dedup: 3-gram jaccard of adjacent doc pairs
    "q12_jaccard_adjacent" -> ((s, dir) =>
      Dedup.jaccardAdjacent(documents(s, dir), 3)
        .select("doc_a", "doc_b", "jaccard").orderBy("doc_a")),

    // text: token statistics
    "q13_token_stats" -> ((s, dir) =>
      TextOps.tokenStats(documents(s, dir)).orderBy("doc_id")),

    // text: quality scoring
    "q14_quality" -> ((s, dir) =>
      TextOps.qualityScore(documents(s, dir)).orderBy("doc_id")),

    // text: language-ID heuristic
    "q15_langid" -> ((s, dir) =>
      TextOps.langId(documents(s, dir)).orderBy("doc_id")),

    // text: content fingerprint
    "q16_fingerprint" -> ((s, dir) =>
      TextOps.fingerprintMd5(documents(s, dir)).orderBy("doc_id")),

    // similarity: exact cosine top-10 for vec_id 0
    "q17_cos_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      Similarity.bruteForceTopK(emb, q, 10, excludeId = Some(0L))
    }),

    // dedup: MinHash signatures + LSH banding candidates (planted dups).
    // `sketch` family: Md5 in the oracle catalog (the DuckDB oracle
    // recomputes every signature and band bucket bit-for-bit), xxhash64
    // in benchQueries.
    "q18_minhash_lsh" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      // signatures MATERIALIZED once (the minHashStarEdges scaladoc
      // contract): minHashCandidates references the relation for
      // banding, the bucket cap, and both verification join-backs —
      // inlined, the tokenize+hash+min subtree appeared six times in
      // the physical plan (77k-char explain). localCheckpoint, not a
      // parquet round-trip: the oracle never reads this relation (it
      // recomputes signatures from documents), so the materialization
      // only needs to cut the plan — in-memory blocks skip the parquet
      // encode + per-reference file listing/decode. Values unchanged
      // (the checkpoint holds the exact computed rows).
      val sigs = Dedup.minHashSignatures(docs.union(planted), k = 3,
        nHashes = 32, family = sketch).localCheckpoint()
      Dedup.minHashCandidates(sigs, bands = 8, rowsPerBand = 4, minEstJaccard = 0.5,
        family = sketch)
        .orderBy("doc_a", "doc_b")
    }),

    // dedup: SimHash near-dup candidates (planted dups); `sketch` term
    // hash (StableHash.u64 under Md5 => oracle-reproducible signatures;
    // xxhash64 in benchQueries).
    "q19_simhash" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      // (measured: materializing the sim relation here costs more than
      // the duplicate-subtree recompute it saves — the typed simHash
      // map is one cheap pass and its banding exchange is reused)
      Dedup.simHashCandidates(Dedup.simHash(docs.union(planted), family = sketch),
          maxHam = 3)
        .orderBy("doc_a", "doc_b")
    }),

    // similarity: LSH-bucketed ANN top-10 (scale path of q17). The pruned
    // candidate set is persisted to {AUX}/q20_cand, and the top-k is the
    // exact cosine order over it — DuckDB re-scores the same set, so the
    // driver verifies the whole post-prune pipeline (recall of the prune
    // itself is asserted against bruteForceTopK in AnnSpec).
    "q20_ann_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val candPath = s"${auxDir(dir)}/q20_cand"
      // no coalesce(1): the candidate plan is NARROW (typed signature
      // map -> filter, no exchange), so coalesce collapsed the whole
      // signature computation into one task; the oracle reads a glob
      Similarity.annCandidates(emb, q, nPlanes = 8, probeHamming = 2)
        .select(col("vec_id"))
        .write.mode("overwrite").parquet(candPath)
      val cand = s.read.parquet(candPath)
      Similarity.bruteForceTopK(emb.join(cand, Seq("vec_id")), q, 10,
        excludeId = Some(0L))
    }),

    // dedup: embedding-cosine near-dups via BANDED hyperplane LSH
    // (planted dups). The oracle is the exact all-pairs answer: at
    // minCos=0.999 the only qualifying pairs are identical vectors (the
    // corpus has none above cos 0.99 naturally — verified), which share
    // every band by construction, so candidate recall is provably 1.0
    // and LSH output == exact output.
    "q21_embedding_neardups" -> ((s, dir) => {
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDups(emb.union(planted), minCos = 0.999,
        nPlanes = 24, bands = 3, dim = 64)
        .orderBy("id_a", "id_b")
    }),

    // multimodal: binary media -> batch feature extraction (stubbed
    // decode). The synthesized media table is persisted to
    // {AUX}/q22_media and both engines read THE SAME bytes back: Spark
    // runs the real mapPartitions feature pipeline (n_bytes from it),
    // DuckDB recomputes n_bytes/hex from the blobs.
    "q22_multimodal_features" -> ((s, dir) => {
      import s.implicits._
      val mediaPath = s"${auxDir(dir)}/q22_media"
      Multimodal.synthesize(s, 500L).toDF()
        .coalesce(1).write.mode("overwrite").parquet(mediaPath)
      val back = s.read.parquet(mediaPath)
      val feats = Multimodal.extractFeatures(back.as[Multimodal.MediaRow])
        .toDF().select(col("media_id"), col("kind"), col("n_bytes"))
      feats.join(back.select(col("media_id"),
          lower(hex(col("bytes"))).as("content_hex")), Seq("media_id"))
        .orderBy("media_id")
    }),

    // text: order-sensitive rolling fingerprint (`sketch` token hash:
    // under Md5 DuckDB's list_reduce replicates the fold exactly;
    // xxhash64 in benchQueries)
    "q23_rolling_fingerprint" -> ((s, dir) =>
      TextOps.rollingFingerprint(documents(s, dir), family = sketch)
        .orderBy("doc_id")),

    // BM25 through the engine's block-max (MaxScore) pruned top-k path,
    // forced on (thresholds floored) so the driver oracle checks the
    // PRUNING path's exactness, not just the direct path: exact top-100,
    // then the q07 rounded-score reorder for boundary stability.
    "q24_bm25_wand" -> ((s, dir) => {
      val eng = engineFor(s, dir)
        .withConfig(_.copy(localMaxPostings = 0, wandMinPostings = 1))
      // buffer of 200: the rounded-score reorder below can only diverge
      // from the oracle if a single rounded-value tie group spans the
      // exact-score cut, i.e. >190 docs sharing one 4-decimal score at
      // the boundary
      val top = eng.bm25TopKForTerms(Seq("the", "query", "join"), 200)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
      withOrigDocId(eng, top)
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .select("doc_id", "score")
    }),

    // text: training normalization (tokenize -> drop stopwords -> rejoin)
    "q27_normalize" -> ((s, dir) =>
      TextOps.normalizeText(documents(s, dir)).orderBy("doc_id")),

    // similarity: IVF-Flat ANN (deterministic k-means cells, nProbe=3).
    // Probed-cell candidate set persisted to {AUX}/q26_cand; the oracle
    // re-scores it exactly, like q20.
    "q26_ivf_topk" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val model = Similarity.trainIvf(emb, k = 16)
      val cells = Similarity.withIvfCell(emb, model)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      val probes = model.nearestCells(q.map(_.toDouble), 3)
      val candPath = s"${auxDir(dir)}/q26_cand"
      // no coalesce(1) — narrow plan, same rationale as q20
      cells.filter(col("cell").isin(probes: _*)).select(col("vec_id"))
        .write.mode("overwrite").parquet(candPath)
      val cand = s.read.parquet(candPath)
      Similarity.bruteForceTopK(emb.join(cand, Seq("vec_id")), q, 10,
        excludeId = Some(0L))
    }),

    // S7/F8: lemmatization through the REAL index build — the lemma map
    // merges 'small' and 'big' into 'size'; dictionary df/cf of the
    // merged term must equal the oracle's CASE-mapped aggregation.
    "q28_lemma_df" -> ((s, dir) => {
      val eng = engineLemmaFor(s, dir)
      eng.dictionary
        .filter(col("term").isin("size", "small", "big", "merge", "scan"))
        .select(col("term"), col("df"), col("cf"))
        .orderBy("term")
    }),

    // F9: bigram terms (consecutive surviving lemmas) indexed as first-
    // class dictionary entries; df of a probe set of bigrams.
    "q29_bigram_df" -> ((s, dir) => {
      val eng = engineLemmaFor(s, dir)
      eng.dictionary
        .filter(col("term").isin("size join", "hash join", "table scan",
          "merge sort", "size size"))
        .select(col("term"), col("df"))
        .orderBy("term")
    }),

    // J6: shortest-list-driven semi-join intersection (same answer set as
    // q04's join chain, different physical plan — both driver-verified).
    "q30_conjunctive_semi" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      withOrigDocId(eng, eng.conjunctiveSemi(Seq("join", "filter", "sort")))
        .orderBy("doc_id")
    }),

    // corpus assembly: GPT-style sequence packing (concatenate + slice at
    // a fixed token budget)
    "q31_pack_sequences" -> ((s, dir) =>
      Pipeline.packSequences(documents(s, dir), budget = 256).orderBy("doc_id")),

    // corpus assembly: deterministic md5-keyed stratified sampling by a
    // token-length stratum (rates 0.25 / 0.5 / 1.0)
    "q32_stratified_sample" -> ((s, dir) => {
      val n = size(split(col("text"), " "))
      val docs = documents(s, dir).withColumn("stratum",
        when(n < 30, "short").when(n < 60, "mid").otherwise("long"))
      Pipeline.stratifiedSample(docs,
          "stratum", Map("short" -> 0.25, "mid" -> 0.5, "long" -> 1.0))
        .select("doc_id", "stratum").orderBy("doc_id")
    }),

    // corpus hygiene: benchmark-contamination screen (shared 5-gram vs an
    // eval set — here the first 10 docs stand in for the benchmark)
    "q33_contamination" -> ((s, dir) => {
      val docs = documents(s, dir)
      Pipeline.contaminationCheck(docs, docs.filter(col("doc_id") < 10), 5)
        .orderBy("doc_id")
    }),

    // text: intra-doc repetition (repeated 3-gram fraction)
    "q34_repetition" -> ((s, dir) =>
      TextOps.repetitionScore(documents(s, dir), 3).orderBy("doc_id")),

    // composite corpus pipeline: exact dedup (keep representatives) ->
    // quality gate -> token-budget packing, end to end through the same
    // operators a real cleanup run would chain.
    "q35_corpus_pipeline" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val all = docs.union(planted)
      val reps = Dedup.exactDedup(all).filter(!col("is_dup")).select("doc_id")
      val kept = TextOps.qualityScore(all.join(reps, Seq("doc_id")))
        .filter(col("quality") >= 0.8).select("doc_id")
      Pipeline.packSequences(all.join(kept, Seq("doc_id")), budget = 256)
        .orderBy("doc_id")
    }),

    // text: whitespace + BPE-ish token counting; punctuation is appended
    // to every doc so the punct-splitting path actually fires (the base
    // corpus is [a-z0-9 ]-only)
    "q36_token_counts" -> ((s, dir) =>
      TextOps.tokenCounts(documents(s, dir)
          .withColumn("text", concat(col("text"), lit(" end, ok!"))))
        .orderBy("doc_id")),

    // S1/P1/P4: the reference's actual ingest format — bz2-compressed
    // JSON-lines wiki articles -> plaintext (paragraph joins + tag strip).
    // The dump is synthesized from `documents`, written BOTH as .bz2
    // (Spark reads it through the Hadoop codec — the path under test)
    // and plain (for the DuckDB oracle), with identical rows.
    "q37_wiki_ingest" -> ((s, dir) => {
      val articles = documents(s, dir).select(
        concat(lit("art-"), col("doc_id")).as("id"),
        concat(lit("Title "), col("doc_id")).as("title"),
        concat(lit("https://example.org/"), col("doc_id")).as("url"),
        array(array(col("text"), lit("<ref>x</ref>")),
          array(concat(lit("para two of doc "), col("doc_id")))).as("text"))
      // parallel writes (round 6): coalesce(1) funneled the bz2
      // COMPRESSION of the whole dump through one task (bzip2 is the
      // expensive codec here). Both consumers read directory globs
      // (WikiSource via the Hadoop codec, the oracle via read_json on
      // /*.json), and the query result is orderBy(id) — rows are
      // file-layout-independent, so the single-file shape bought
      // nothing but the serial write.
      // The two dumps are INDEPENDENT actions writing disjoint
      // directories: submit them from two threads (guide §2.6 —
      // overlap independent jobs) so the cheap plain-JSON write
      // back-fills executors the bz2 compression tail leaves idle.
      // The builder's fixed pool awaits both before rethrowing, and its
      // threads end with the call, so no job property outlives it.
      IndexBuilder.concurrently(s, 2) {
        case 0 => articles.write.mode("overwrite")
          .option("compression", "bzip2").json(s"${auxDir(dir)}/q37_wiki_bz2")
        case _ => articles.write.mode("overwrite")
          .json(s"${auxDir(dir)}/q37_wiki_plain")
      }
      val arts = graft.corpus.WikiSource.readArticles(s,
        s"${auxDir(dir)}/q37_wiki_bz2")
      val plain = graft.corpus.WikiSource.plaintext(col("text"))
      arts.select(col("id"), col("title"),
          size(filter(split(plain, "\\s+"), t => t =!= ""))
            .cast("long").as("n_ws_tokens"),
          md5(plain).as("content_md5"))
        .orderBy("id")
    }),

    // reference handle_query: phrase-tier precedence, then BM25 order
    // (src/search_engine/mod.rs:118-206); rounded-score ordering so the
    // DuckDB oracle is boundary-stable
    "q25_handle_query" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      // the PRODUCTION three-tier path (pruned claim-cap form included),
      // not a re-composition of its primitives: exact top-100 by raw
      // score, then the q07/q24 rounded-score reorder for cross-engine
      // boundary stability. No indexed bigrams here, so tiers are {0, 2}.
      val got = eng.handleQuery("table scan", 100)
        .select(col("doc_id"), round(col("score"), 4).as("score"), col("tier"))
      withOrigDocId(eng, got)
        .orderBy(col("tier").asc, col("score").desc, col("doc_id").asc)
        .limit(10)
        .select("doc_id", "score", "tier")
    }),

    // J7 at distance 2: the deletion-variant table serves d=2 as a pushed
    // `variant IN` probe too (lazy-backfilled fuzzy_d2; PlanSpec asserts
    // the pushdown) — reference BK-tree parity at any d, sub-linearly
    "q40_fuzzy_d2" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      eng.fuzzyTerms("joib", 2).select("term", "df").orderBy("term")
    }),

    // the AT-SCALE packing form: one independent pack stream per shard
    // (window partitioned by shard — no global window, embarrassingly
    // parallel); the oracle replicates the per-shard windowed arithmetic
    "q39_pack_sharded" -> ((s, dir) => {
      val docs = documents(s, dir)
        .withColumn("shard", pmod(col("doc_id"), lit(4)).cast("long"))
      Pipeline.packSequencesSharded(docs, 256, "shard")
        .orderBy("shard", "doc_id")
    }),

    // reference handle_query, FULL three-strategy form (src/search_engine/
    // mod.rs:147-206): tier 0 = phrase (unigram-scored, thread 1), tier 1 =
    // all-query-bigrams docs scored by BIGRAM BM25 over the indexed bigram
    // postings (thread 2), tier 2 = remaining unigram BM25 matches
    // (thread 3). Runs on the bigram-indexed engine; rounded scores so the
    // DuckDB oracle is boundary-stable.
    "q38_handle_query_tiers" -> ((s, dir) => {
      val eng = engineLemmaFor(s, dir)
      // the PRODUCTION three-tier path over the bigram index (pruned
      // claim-cap form included): exact top-100 by raw score, then the
      // rounded-score reorder for cross-engine boundary stability
      val got = eng.handleQuery("merge sort table", 100)
        .select(col("doc_id"), round(col("score"), 4).as("score"), col("tier"))
      withOrigDocId(eng, got)
        .orderBy(col("tier").asc, col("score").desc, col("doc_id").asc)
        .limit(10)
        .select("doc_id", "score", "tier")
    }),

    // similarity: batch kNN join (every vector's top-5 neighbors) through
    // the banded-LSH candidate path. The engine's candidate pairs are
    // persisted to {AUX}/q41_pairs and the oracle re-scores EXACTLY that
    // set (the q20/q26 pattern); ranking is over the ROUNDED cosine on
    // both sides so near-ties can't flip between engines' fp sum orders.
    // id_a < 50 keeps the driver row compact; candidate recall itself is
    // asserted against brute force in OpsSpec.
    "q41_knn_join" -> ((s, dir) => {
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val pairsPath = s"${auxDir(dir)}/q41_pairs"
      // no coalesce(1): it pinned the distinct's final merge + write to
      // one task (measured ~0.2 s on this row); the oracle reads a glob
      Similarity.knnCandidatePairs(emb, nPlanes = 24, bands = 3, dim = 64)
        .filter(col("id_a") < 50)
        .write.mode("overwrite").parquet(pairsPath)
      val pairs = s.read.parquet(pairsPath)
      Similarity.knnRank(emb, pairs, k = 5, roundTo = 4)
        .orderBy("id_a", "rank")
    }),

    // dedup: cross-document duplicated n-gram spans (fixed-granularity
    // substring dedup). n=8 over the documents table: exact-dup and
    // near-dup planted docs share long runs, so every shared 8-token
    // window surfaces with n_docs >= 2. The md5 family under Verify lets
    // DuckDB recompute every span fingerprint bit-for-bit.
    "q42_duplicate_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(documents(s, dir), n = 8, minDocs = 2,
        family = sketch).orderBy("span_fp")),

    // dedup: per-document duplicated-span coverage — the q42 consumer
    // (drop boilerplate-heavy docs). Interval union as one window pass.
    "q43_span_coverage" -> ((s, dir) =>
      Dedup.spanDedupCoverage(documents(s, dir), n = 8, minDocs = 2,
        family = sketch).orderBy("doc_id")),

    // streaming-surface batch analog: gap-based sessionization of the
    // events table (30-min idle gap), integer epoch-ms arithmetic so the
    // gaps-and-islands oracle reproduces boundaries exactly
    "q44_sessionize" -> ((s, dir) =>
      Sessions.sessionizeEvents(events(s, dir), gapMs = 30 * 60 * 1000L)
        .orderBy("user_id", "session_idx")),

    // dedup: the LSH oversized-bucket AUDIT relation (the "report, don't
    // hide" side of capBuckets). 40 planted copies of doc 0 put 41
    // members into one bucket per band; with maxBucket = 32, every such
    // bucket must be REPORTED (and would be dropped from candidate
    // generation by capBuckets at the same threshold).
    "q45_bucket_audit" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = s.range(1, 41)
        .crossJoin(broadcast(docs.filter(col("doc_id") === 0).select(col("text"))))
        .select((col("id") + 1000000).as("doc_id"), col("text"))
      val sigs = Dedup.minHashSignatures(docs.union(planted), k = 3,
        nHashes = 32, family = sketch)
      val banded = Dedup.minHashBanded(sigs, bands = 8, rowsPerBand = 4,
        family = sketch)
      Dedup.oversizedBuckets(banded, Seq("band", "bucket"), maxBucket = 32)
        .orderBy("band", "bucket")
    }),

    // reference handle_query served from an UNCOMPACTED two-generation
    // root (QueryEngine.handleQuery — the hot-append serving entry
    // point): global BM25 statistics make it tier/rank/score-identical
    // to the single-index q25, so the oracle IS the q25 oracle. Same
    // top-100-raw + rounded-reorder envelope for boundary stability.
    "q46_handle_query_twogen" -> ((s, dir) => {
      val m = multiGenFor(s, dir)
      val got = m.handleQuery("table scan", 100)
        .select(col("doc_id"), round(col("score"), 4).as("score"), col("tier"))
      withOrigDocId(m, got)
        .orderBy(col("tier").asc, col("score").desc, col("doc_id").asc)
        .limit(10)
        .select("doc_id", "score", "tier")
    }),

    // A9: vector-space scoring with the reference's abandoned doc norm
    // (norm_d = sqrt(sum (tf*df)^2) — tf*DF, the reference's literal
    // semantics). First use lazily backfills /vsm_norms under the index
    // root; q07's rounded-order top-k envelope.
    "q47_vsm_topk" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      val scored = eng.vsmScores(Seq("window", "hash"))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
      withOrigDocId(eng, scored)
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .select("doc_id", "score")
    }),

    // dedup: pairwise LSH candidates contracted to CLUSTERS (connected
    // components, large-star/small-star) with one deterministic
    // representative each — the keep-one-per-cluster step a pipeline
    // actually applies. Transitive closure is genuinely exercised: the
    // planted nodes at +1e6/+2e6 carry DISTINCT marker texts (so LSH
    // cannot emit any edge among them — in particular not the d<->d+2e6
    // shortcut) and the chain edges d—d+1e6—d+2e6 are injected by
    // construction, so the size-3 components exist ONLY via two-hop
    // reachability and a CC that merged direct neighbors without
    // iterating would fail this row. Edges persist to {AUX}/q48_edges
    // so the oracle contracts the exact same graph (recursive-CTE
    // reachability).
    "q48_dedup_clusters" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      def planted(offset: Long, bound: Int, tag: String) =
        docs.filter(col("doc_id") < bound)
          .select((col("doc_id") + offset).as("doc_id"),
            concat(lit(s"planted $tag "), col("doc_id").cast("string"))
              .as("text"))
      val p1 = planted(1000000L, 20, "hopone")
      val p2 = planted(2000000L, 10, "hoptwo")
      val all = docs.union(p1).union(p2)
      // signatures materialized once via localCheckpoint (see q18) —
      // the candidate generator references them six times in one plan
      // otherwise; the oracle reads only q48_edges below, never sigs
      val sigs = Dedup.minHashSignatures(all, k = 3, nHashes = 32,
        family = sketch).localCheckpoint()
      val chain = docs.filter(col("doc_id") < 20).select(
          col("doc_id").as("doc_a"),
          (col("doc_id") + 1000000).as("doc_b"))
        .union(docs.filter(col("doc_id") < 10).select(
          (col("doc_id") + 1000000).as("doc_a"),
          (col("doc_id") + 2000000).as("doc_b")))
      val edgesPath = s"${auxDir(dir)}/q48_edges"
      // NO coalesce(1): coalesce propagates up the plan and would run
      // the whole LSH banding join in one task; the oracle reads a glob.
      Dedup.minHashCandidates(sigs, bands = 8, rowsPerBand = 4,
          minEstJaccard = 0.9, family = sketch)
        .select(col("doc_a"), col("doc_b"))
        .union(chain)
        .write.mode("overwrite").parquet(edgesPath)
      Dedup.clusterDocs(all, s.read.parquet(edgesPath))
        .orderBy("doc_id")
    }),

    // text: PII-style redaction (emails / IPv4 / 7+-digit runs) with
    // per-pattern counts. The corpus text carries no PII, so both sides
    // append an identically-constructed synthetic suffix; the regex
    // semantics themselves are engine-portable (character classes +
    // bounded repetition + \b only).
    "q49_redact" -> ((s, dir) => {
      // coalesce BEFORE the concat on BOTH sides: a null text would
      // otherwise null the whole concat in Spark (redact then counts 0
      // on "") while DuckDB propagates NULL through || and the regexps
      // (counts NULL) — a hash mismatch waiting for a null-text corpus.
      val withPii = documents(s, dir).select(col("doc_id"),
        concat(coalesce(col("text"), lit("")), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com from 10.20."),
          (col("doc_id") % 256).cast("string"), lit(".7 ref "),
          (col("doc_id") + 10000000).cast("string")).as("text"))
      TextOps.redact(withPii).orderBy("doc_id")
    }),

    // pipeline: skew-safe top-k selection per bucket — keep the 5
    // highest-quality docs per shard (two-phase partial top-k; a single
    // per-group window would funnel a giant bucket through one task).
    // quality is round(,4)-ed inside qualityScore, so the ordering obeys
    // the rounded-value-plus-tie-break oracle rule. pmod vs DuckDB's %
    // agree only for non-negative doc_ids (the corpus contract; the
    // same pairing q39 established).
    "q50_topk_per_group" -> ((s, dir) => {
      val q = TextOps.qualityScore(documents(s, dir))
        .select(col("doc_id"), pmod(col("doc_id"), lit(4)).as("shard"),
          col("quality"))
      Pipeline.topKPerGroup(q, "shard", "quality", "doc_id", 5)
        .select(col("shard"), col("rank").cast("long").as("rank"),
          col("doc_id"), col("quality"))
        .orderBy("shard", "rank")
    }),

    // serving: FILTERED BM25 top-k — the metadata-predicate search
    // (here: mid-length docs, doc_len BETWEEN 20 AND 45). Statistics
    // stay global (scores identical to q07's for surviving docs);
    // rounded-score ordering like q07. Post-filtering q07's top-10
    // would be WRONG (returns <10 rows when a global winner fails the
    // predicate) — this scores the filtered candidate set.
    "q51_filtered_topk" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      val scored = eng.bm25ScoresFiltered(Seq("query", "join"),
          col("doc_len").between(20, 45))
        .select(col("doc_id"), round(col("score"), 4).as("score"))
      withOrigDocId(eng, scored)
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
        .select("doc_id", "score")
    }),

    // serving: keyword-in-context snippets over the BM25 top-10 —
    // first_pos from the POSITIONAL INDEX (chunk-pruned candidate
    // decode), window text from the stored docs table. Top-k taken on
    // rounded scores (q07 boundary rule) so both engines window the
    // same docs; the ±3-token slice clamps at doc edges on both sides
    // (Spark slice and DuckDB list_slice both truncate).
    "q52_snippets" -> ((s, dir) => {
      import s.implicits._
      val eng = engineFor(s, dir)
      val terms = Seq("vector", "window")
      val top = eng.bm25Scores(terms)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
      val ids = top.select("doc_id").as[Long].collect()
      val out = top.join(eng.snippetsFor(terms, ids, window = 3), Seq("doc_id"))
        .select(col("doc_id"), col("score"),
          col("first_pos").cast("long").as("first_pos"), col("snippet"))
      withOrigDocId(eng, out)
        .select("doc_id", "score", "first_pos", "snippet")
        .orderBy("doc_id")
    }),

    // serving: prefix suggest (typeahead) — top-4 terms with prefix 's'
    // by (df desc, term asc), a pushed StringStartsWith range probe of
    // the term-sorted dictionary. Final orderBy(term) AFTER the limit:
    // the SELECTION is what the row pins (both sides pick the same 4
    // terms under the total order), the presentation order is just
    // hash-stable.
    "q53_suggest" -> ((s, dir) => {
      val eng = engineFor(s, dir)
      eng.suggest("s", 4).orderBy("term")
    }),

    // document deletion (tombstones) on the hot-append root: q46's
    // two-generation handle_query with every orig-doc_id ≡ 3 (mod 7)
    // tombstoned. Lucene liveDocs semantics — deleted docs are excluded
    // from every tier and never claim result slots, while BM25
    // statistics stay pre-delete until compaction; the oracle computes
    // full-corpus stats and filters only the final scored set, which is
    // exactly that contract. Same top-100-raw + rounded-reorder envelope
    // as q46.
    "q54_handle_query_deletes" -> ((s, dir) => {
      val m = multiGenDeletedFor(s, dir)
      val got = m.handleQuery("table scan", 100)
        .select(col("doc_id"), round(col("score"), 4).as("score"), col("tier"))
      withOrigDocId(m, got)
        .orderBy(col("tier").asc, col("score").desc, col("doc_id").asc)
        .limit(10)
        .select("doc_id", "score", "tier")
    }),

    // dedup at scale: verified SimHash star (canopy) edges under wide
    // Manku block-combination banding (blocks=6 -> C(6,3)=20 bands of
    // ~32-bit keys) — the linear-output alternative to q19's all-pairs
    // form (planted dups guarantee edges; the oracle recomputes the
    // whole pipeline: signatures, block values, combo keys, bucket-min
    // representatives, Hamming verification).
    "q55_simhash_star" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      // (measured: materializing the sim relation costs more than the
      // recompute it saves here — see q19; the 32-hash MINHASH relation
      // is the one worth persisting, q18/q48/q56)
      Dedup.simHashStarEdges(
          Dedup.simHash(docs.union(planted), family = sketch),
          maxHam = 3, blocks = 6)
        .orderBy("doc_id", "rep")
    }),

    // dedup: MinHash star edges — the linear cluster-feed form of q18
    // (same md5-family signatures and 8x4 banding; member->bucket-min-rep
    // edges verified by signature agreement against the rep only, instead
    // of the all-pairs per-bucket self-join). Uncapped: see
    // minHashStarEdges scaladoc.
    "q56_minhash_star" -> ((s, dir) => {
      val docs = documents(s, dir).select(col("doc_id"), col("text"))
      val planted = docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      // signatures materialized once — this is literally the
      // minHashStarEdges scaladoc's at-scale contract ("pass a
      // MATERIALIZED table, or the signature pipeline re-evaluates
      // per reference"); localCheckpoint form, see q18
      val sigs = Dedup.minHashSignatures(docs.union(planted), k = 3,
        nHashes = 32, family = sketch).localCheckpoint()
      Dedup.minHashStarEdges(sigs, bands = 8, rowsPerBand = 4,
        minEstJaccard = 0.5, family = sketch)
        .orderBy("doc_id", "rep")
    }),

    // dedup: embedding star edges — the linear cluster-feed form of q21
    // (planted identical dups). The UNVERIFIED member->bucket-min-rep
    // candidate set is persisted to {AUX}/q57_cand and the result is the
    // exact-cosine verification over it (the q20/q41 oracle pattern:
    // DuckDB re-scores the same persisted pairs — the SplitMix64
    // hyperplanes aren't SQL-reproducible; banding recall is pinned by
    // DedupSpec's planted/perturbed-dup tests).
    "q57_embedding_star" -> ((s, dir) => {
      val emb = embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 5)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
      val all = emb.union(planted)
      val candPath = s"${auxDir(dir)}/q57_cand"
      // no coalesce(1) — it pinned the star contraction's tail to one
      // task (the q41 rationale); the oracle reads a glob
      Dedup.embeddingStarCandidates(all, nPlanes = 24, bands = 3, dim = 64)
        .write.mode("overwrite").parquet(candPath)
      Dedup.verifyEmbeddingStar(s.read.parquet(candPath), all, minCos = 0.999)
        .orderBy("vec_id", "rep")
    }),

    // partial (tiered) compaction on the hot-append root: a THREE-
    // generation split whose first two generations were physically
    // merged by Compactor.mergeGenerations — the LSM maintenance step
    // that bounds generation fan-out without a full rebuild. Global
    // statistics are generation-partitioning-invariant (integer df sums,
    // exactly round-tripping corpus length), so handleQuery over the
    // merged root is identical to q25/q46 and the oracle IS the q25
    // oracle. Same top-100-raw + rounded-reorder envelope.
    "q58_handle_query_merged" -> ((s, dir) => {
      val m = multiGenMergedFor(s, dir)
      val got = m.handleQuery("table scan", 100)
        .select(col("doc_id"), round(col("score"), 4).as("score"), col("tier"))
      withOrigDocId(m, got)
        .orderBy(col("tier").asc, col("score").desc, col("doc_id").asc)
        .limit(10)
        .select("doc_id", "score", "tier")
    }))

  // --------------------------------------------------------- oracle SQL

  /** DuckDB-runnable equivalents. Table views are registered by the driver
    * under the bare table names. Tokenization in SQL: documents.text is
    * single-space-joined [a-z0-9]+ words, where split == the engine
    * tokenizer (asserted by q01 itself).
    */
  private val toks =
    "SELECT doc_id, unnest(string_split(text, ' ')) AS term, " +
      "unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS pos FROM documents"

  /** q55's banding geometry, interpolated into its oracle SQL from the
    * SAME functions the Spark side bands with (blocks=6, maxHam=3): the
    * 6-block (offset, width) layout and the 20 lexicographic 3-block
    * combos. Single source of truth — the SQL cannot drift from the
    * Scala banding.
    */
  private val simhashBlockDefValues: String =
    Dedup.blockLayout(6).zipWithIndex
      .map { case ((o, w), i) => s"($i,$o,$w)" }.mkString(",")
  private val simhashComboValues: String =
    Dedup.bandCombos(6, 3).zipWithIndex
      .map { case (c, band) => s"($band,${c(0)},${c(1)},${c(2)})" }.mkString(",")

  /** BM25 top-10 oracle for a given term set: N, avgdl over ALL docs;
    * per-term df; impact identical to Bm25.impact; rounded-score ordering
    * (boundary-stable across engines).
    */
  private def bm25SqlFor(terms: Seq[String]): String = {
    val inList = terms.map(t => s"'$t'").mkString(",")
    s"""WITH toks AS ($toks),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |  (SELECT sum(len(string_split(text,' ')))::DOUBLE FROM documents) /
       |   count(*)::DOUBLE AS avgdl FROM documents),
       |dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |       WHERE term IN ($inList) GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
       |       WHERE term IN ($inList) GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id,
       |    sum( ln(1.0 + (stats.n - df.df + 0.5)/(df.df + 0.5)) *
       |         (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) )
       |      AS score
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
       |  GROUP BY tf.doc_id)
       |SELECT doc_id, round(score, 4) AS score FROM scored
       |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  private val bm25Sql: String = bm25SqlFor(Seq("query", "join"))

  /** handle_query("table scan") oracle — tiers {0, 2} (no indexed
    * bigrams on the q25/q46 engines). Shared verbatim by q25 (single
    * index) and q46 (two-generation root): global statistics make the
    * two engines score-identical, which is exactly what sharing the
    * oracle asserts.
    */
  private val handleQuerySql: String = handleQuerySqlFor("")

  /** [[handleQuerySql]] with an optional live-docs predicate on the
    * final SELECT — the q54 deletes oracle: statistics CTEs stay
    * full-corpus (pre-delete, the Lucene docFreq-includes-deletes
    * contract) and only the served rows are filtered.
    */
  private def handleQuerySqlFor(liveWhere: String): String =
    s"""WITH toks AS ($toks),
       |stats AS (SELECT count(*)::DOUBLE AS n,
       |  (SELECT sum(len(string_split(text,' ')))::DOUBLE FROM documents) /
       |   count(*)::DOUBLE AS avgdl FROM documents),
       |dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |       WHERE term IN ('table','scan') GROUP BY doc_id, term),
       |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
       |       WHERE term IN ('table','scan') GROUP BY term),
       |scored AS (
       |  SELECT tf.doc_id,
       |    round(sum( ln(1.0 + (stats.n - df.df + 0.5)/(df.df + 0.5)) *
       |      (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ), 4)
       |      AS score
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
       |  GROUP BY tf.doc_id),
       |phrase AS (
       |  SELECT DISTINCT t1.doc_id FROM toks t1
       |  JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
       |  WHERE t1.term = 'table' AND t2.term = 'scan')
       |SELECT s.doc_id, s.score,
       |  CASE WHEN p.doc_id IS NOT NULL THEN 0 ELSE 2 END AS tier
       |FROM scored s LEFT JOIN phrase p ON s.doc_id = p.doc_id
       |$liveWhere
       |ORDER BY tier ASC, s.score DESC, s.doc_id ASC LIMIT 10""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q01_tokens" -> s"SELECT doc_id, pos, term FROM ($toks) ORDER BY doc_id, pos",

    "q02_term_df" ->
      s"""SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
         |FROM ($toks) GROUP BY term ORDER BY term""".stripMargin,

    "q03_doc_stats" ->
      "SELECT doc_id, len(string_split(text, ' ')) AS doc_len FROM documents ORDER BY doc_id",

    "q04_conjunctive" ->
      """SELECT doc_id FROM documents
        |WHERE list_contains(string_split(text,' '), 'join')
        |  AND list_contains(string_split(text,' '), 'filter')
        |  AND list_contains(string_split(text,' '), 'sort') ORDER BY doc_id""".stripMargin,

    "q05_phrase" ->
      s"""WITH toks AS ($toks)
         |SELECT DISTINCT t1.doc_id FROM toks t1
         |JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
         |WHERE t1.term = 'table' AND t2.term = 'scan' ORDER BY t1.doc_id""".stripMargin,

    "q06_proximity" ->
      s"""WITH toks AS ($toks)
         |SELECT t1.doc_id, t1.pos AS pos1, t2.pos AS pos2 FROM toks t1
         |JOIN toks t2 ON t1.doc_id = t2.doc_id
         |WHERE t1.term = 'merge' AND t2.term = 'sort'
         |  AND t2.pos > t1.pos AND t2.pos - t1.pos <= 3
         |ORDER BY t1.doc_id, pos1, pos2""".stripMargin,

    "q07_bm25_topk" -> bm25Sql,

    "q08_fuzzy" ->
      s"""SELECT term, count(DISTINCT doc_id) AS df FROM ($toks)
         |WHERE abs(len(term) - 4) <= 1 AND levenshtein(term, 'joib') <= 1
         |GROUP BY term ORDER BY term""".stripMargin,

    "q40_fuzzy_d2" ->
      s"""SELECT term, count(DISTINCT doc_id) AS df FROM ($toks)
         |WHERE abs(len(term) - 4) <= 2 AND levenshtein(term, 'joib') <= 2
         |GROUP BY term ORDER BY term""".stripMargin,

    "q09_tfidf" ->
      s"""WITH toks AS ($toks),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       WHERE term IN ('window','hash') GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
         |       WHERE term IN ('window','hash') GROUP BY term)
         |SELECT tf.doc_id, round(sum(log10(n.n / df.df) * tf.tf), 4) AS score
         |FROM tf JOIN df USING (term), n GROUP BY tf.doc_id
         |ORDER BY tf.doc_id""".stripMargin,

    "q10_postings_roundtrip" ->
      s"""SELECT term, doc_id, count(*)::INT AS tf FROM ($toks)
         |GROUP BY term, doc_id ORDER BY term, doc_id""".stripMargin,

    "q11_dedup_exact" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  count(*) OVER (PARTITION BY text) AS group_size,
        |  min(doc_id) OVER (PARTITION BY text) AS rep_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY text) AS is_dup
        |FROM all_docs ORDER BY doc_id""".stripMargin,

    "q12_jaccard_adjacent" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(toks[i:i+2], ' ') AS shingle
        |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)),
        |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND b.doc_id = a.doc_id + 1
        |  GROUP BY 1, 2)
        |SELECT ca.doc_id AS doc_a, cb.doc_id AS doc_b,
        |  round(coalesce(i.i, 0)::DOUBLE / (ca.c + cb.c - coalesce(i.i, 0)), 4) AS jaccard
        |FROM cnt ca JOIN cnt cb ON cb.doc_id = ca.doc_id + 1
        |LEFT JOIN inter i ON i.doc_a = ca.doc_id AND i.doc_b = cb.doc_id
        |ORDER BY doc_a""".stripMargin,

    "q13_token_stats" ->
      s"""SELECT doc_id, count(*) AS n_tokens, count(DISTINCT term) AS n_distinct,
         |  round(count(DISTINCT term)::DOUBLE / count(*), 4) AS ttr
         |FROM ($toks) GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q14_quality" ->
      """WITH base AS (
        |  SELECT doc_id, length(text) AS n_chars_actual,
        |    len(string_split(text,' ')) AS n_tokens,
        |    len(list_filter(string_split(text,' '), t -> t IN
        |      ('the','a','of','to','and','in','is','it','you','that','was',
        |       'for','on','are','as','with','his','they','i','at','be',
        |       'this','have','from','or','one','had','by','not','but')))
        |      AS n_stop,
        |    length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
        |  FROM documents),
        |derived AS (
        |  SELECT doc_id, n_chars_actual, n_tokens,
        |    round(n_stop::DOUBLE / n_tokens, 4) AS stopword_ratio,
        |    CASE WHEN n_chars_actual > 0
        |      THEN round(n_punct::DOUBLE / n_chars_actual, 4)
        |      ELSE 0.0 END AS punct_ratio,
        |    round((n_chars_actual - (n_tokens - 1))::DOUBLE / n_tokens, 4) AS mean_token_len
        |  FROM base)
        |SELECT *,
        |  round(least(1.0, n_tokens::DOUBLE / 20.0) * (1.0 - punct_ratio) *
        |    (CASE WHEN stopword_ratio BETWEEN 0.1 AND 0.6 THEN 1.0 ELSE 0.7 END), 4)
        |    AS quality
        |FROM derived ORDER BY doc_id""".stripMargin,

    "q15_langid" ->
      """WITH s AS (
        |  SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |scored AS (
        |  SELECT doc_id,
        |    len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','mit'))) AS score_de,
        |    len(list_filter(toks, t -> t IN ('the','a','of','to','and','is','it','you'))) AS score_en,
        |    len(list_filter(toks, t -> t IN ('el','la','de','que','y','los','una','por'))) AS score_es,
        |    len(list_filter(toks, t -> t IN ('le','la','les','et','des','une','est','dans'))) AS score_fr,
        |    len(list_filter(toks, t -> t IN ('il','la','che','di','e','un','per','non'))) AS score_it
        |  FROM s)
        |SELECT doc_id,
        |  greatest(score_de, score_en, score_es, score_fr, score_it) AS score,
        |  CASE
        |    WHEN greatest(score_de, score_en, score_es, score_fr, score_it) = 0 THEN 'und'
        |    WHEN score_de = greatest(score_de, score_en, score_es, score_fr, score_it) THEN 'de'
        |    WHEN score_en = greatest(score_de, score_en, score_es, score_fr, score_it) THEN 'en'
        |    WHEN score_es = greatest(score_de, score_en, score_es, score_fr, score_it) THEN 'es'
        |    WHEN score_fr = greatest(score_de, score_en, score_es, score_fr, score_it) THEN 'fr'
        |    ELSE 'it' END AS lang_pred
        |FROM scored ORDER BY doc_id""".stripMargin,

    "q16_fingerprint" ->
      """SELECT doc_id, md5(text) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q25_handle_query" -> handleQuerySql,

    // identical by design: the two-generation engine must reproduce the
    // single-index handle_query bit-for-bit under global statistics
    "q46_handle_query_twogen" -> handleQuerySql,
    "q58_handle_query_merged" -> handleQuerySql,

    // norms over ALL terms of each doc; score only over the query terms.
    // (tf*df) products stay exact in 64-bit integers at oracle scale, so
    // the norm is order-independent on both sides; the 2-term numerator
    // is commutative (two-addend IEEE sums are order-free).
    "q47_vsm_topk" ->
      s"""WITH toks AS ($toks),
         |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
         |tf_all AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |           GROUP BY doc_id, term),
         |df_all AS (SELECT term, count(*) AS df FROM tf_all GROUP BY term),
         |nrm AS (SELECT doc_id,
         |          sqrt(sum((tf_all.tf * df_all.df) * (tf_all.tf * df_all.df))::DOUBLE)
         |            AS vsm_norm
         |        FROM tf_all JOIN df_all USING (term) GROUP BY doc_id),
         |num AS (SELECT tf_all.doc_id,
         |          sum(log10(n.n / df_all.df) * tf_all.tf) AS num
         |        FROM tf_all JOIN df_all USING (term), n
         |        WHERE term IN ('window','hash') GROUP BY tf_all.doc_id)
         |SELECT num.doc_id, round(num.num / nrm.vsm_norm, 4) AS score
         |FROM num JOIN nrm USING (doc_id)
         |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin,

    // connected components over the engine's persisted candidate edges:
    // reachability via a recursive CTE (set-semantics UNION converges),
    // component = min reachable id — the same fixpoint the
    // large-star/small-star contraction computes.
    "q48_dedup_clusters" ->
      """WITH RECURSIVE
        |nodes AS (
        |  SELECT doc_id FROM documents
        |  UNION ALL SELECT doc_id + 1000000 FROM documents WHERE doc_id < 20
        |  UNION ALL SELECT doc_id + 2000000 FROM documents WHERE doc_id < 10),
        |e0 AS (SELECT doc_a, doc_b FROM read_parquet('{AUX}/q48_edges/*.parquet')),
        |e AS (SELECT doc_a AS u, doc_b AS v FROM e0
        |      UNION SELECT doc_b AS u, doc_a AS v FROM e0),
        |reach(id, comp) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT e.v AS id, reach.comp FROM reach JOIN e ON e.u = reach.id),
        |cc AS (SELECT id AS doc_id, min(comp) AS component FROM reach GROUP BY id),
        |sizes AS (SELECT component, count(*)::BIGINT AS cluster_size
        |          FROM cc GROUP BY component)
        |SELECT cc.doc_id, cc.component, sizes.cluster_size,
        |  (cc.doc_id = cc.component) AS is_representative
        |FROM cc JOIN sizes USING (component)
        |ORDER BY cc.doc_id""".stripMargin,

    // same injected-PII construction, same three patterns in the same
    // replacement sequence; counts on the pre-redaction text.
    "q49_redact" ->
      """WITH pii AS (
        |  SELECT doc_id,
        |    coalesce(text, '') || ' contact user' || doc_id || '@example.com from 10.20.' ||
        |      (doc_id % 256) || '.7 ref ' || (doc_id + 10000000) AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |  '\d{7,}', '<NUM>', 'g') AS text_redacted,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails,
        |  len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ips,
        |  len(regexp_extract_all(text, '\d{7,}'))::BIGINT AS n_longnums
        |FROM pii ORDER BY doc_id""".stripMargin,

    // quality CTEs mirror q14 verbatim; the selection is a per-shard
    // row_number over (rounded quality DESC, doc_id ASC)
    "q50_topk_per_group" ->
      """WITH base AS (
        |  SELECT doc_id, length(text) AS n_chars_actual,
        |    len(string_split(text,' ')) AS n_tokens,
        |    len(list_filter(string_split(text,' '), t -> t IN
        |      ('the','a','of','to','and','in','is','it','you','that','was',
        |       'for','on','are','as','with','his','they','i','at','be',
        |       'this','have','from','or','one','had','by','not','but')))
        |      AS n_stop,
        |    length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
        |  FROM documents),
        |derived AS (
        |  SELECT doc_id, n_chars_actual, n_tokens,
        |    round(n_stop::DOUBLE / n_tokens, 4) AS stopword_ratio,
        |    CASE WHEN n_chars_actual > 0
        |      THEN round(n_punct::DOUBLE / n_chars_actual, 4)
        |      ELSE 0.0 END AS punct_ratio
        |  FROM base),
        |q AS (
        |  SELECT doc_id, doc_id % 4 AS shard,
        |    round(least(1.0, n_tokens::DOUBLE / 20.0) * (1.0 - punct_ratio) *
        |      (CASE WHEN stopword_ratio BETWEEN 0.1 AND 0.6 THEN 1.0 ELSE 0.7 END), 4)
        |      AS quality
        |  FROM derived),
        |ranked AS (
        |  SELECT shard, doc_id, quality,
        |    row_number() OVER (PARTITION BY shard
        |      ORDER BY quality DESC, doc_id ASC) AS rank
        |  FROM q)
        |SELECT shard, rank, doc_id, quality FROM ranked
        |WHERE rank <= 5 ORDER BY shard, rank""".stripMargin,

    // q07's BM25 with the doc_len predicate applied to the SCORED set
    // only (stats/df stay global — the filtered-search contract)
    "q51_filtered_topk" ->
      s"""WITH toks AS ($toks),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |  (SELECT sum(len(string_split(text,' ')))::DOUBLE FROM documents) /
         |   count(*)::DOUBLE AS avgdl FROM documents),
         |dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       WHERE term IN ('query','join') GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
         |       WHERE term IN ('query','join') GROUP BY term),
         |scored AS (
         |  SELECT tf.doc_id,
         |    sum( ln(1.0 + (stats.n - df.df + 0.5)/(df.df + 0.5)) *
         |         (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) )
         |      AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
         |  WHERE dl.dl BETWEEN 20 AND 45
         |  GROUP BY tf.doc_id)
         |SELECT doc_id, round(score, 4) AS score FROM scored
         |ORDER BY round(score, 4) DESC, doc_id ASC LIMIT 10""".stripMargin,

    // rounded-score top-10 (q07 boundary rule) + first term position +
    // the ±3-token window; list_slice clamps at doc edges like Spark's
    // slice
    "q52_snippets" ->
      s"""WITH toks AS ($toks),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |  (SELECT sum(len(string_split(text,' ')))::DOUBLE FROM documents) /
         |   count(*)::DOUBLE AS avgdl FROM documents),
         |dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       WHERE term IN ('vector','window') GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
         |       WHERE term IN ('vector','window') GROUP BY term),
         |scored AS (
         |  SELECT tf.doc_id,
         |    round(sum( ln(1.0 + (stats.n - df.df + 0.5)/(df.df + 0.5)) *
         |      (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ), 4)
         |      AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
         |  GROUP BY tf.doc_id),
         |top AS (SELECT doc_id, score FROM scored
         |        ORDER BY score DESC, doc_id ASC LIMIT 10),
         |fp AS (SELECT doc_id, min(pos) AS first_pos FROM toks
         |       WHERE term IN ('vector','window') GROUP BY doc_id)
         |SELECT t.doc_id, t.score, f.first_pos,
         |  array_to_string(list_slice(string_split(d.text, ' '),
         |    greatest(f.first_pos - 3, 0) + 1, f.first_pos + 4), ' ') AS snippet
         |FROM top t JOIN fp f USING (doc_id) JOIN documents d USING (doc_id)
         |ORDER BY t.doc_id""".stripMargin,

    // selection pinned by the (df desc, term asc) total order; rows
    // presented term-sorted
    "q53_suggest" ->
      s"""SELECT term, df FROM (
         |  SELECT term, count(DISTINCT doc_id) AS df FROM ($toks)
         |  WHERE term LIKE 's%' GROUP BY term
         |  ORDER BY df DESC, term ASC LIMIT 4)
         |ORDER BY term""".stripMargin,

    // q46's handle_query with orig-doc_id ≡ 3 (mod 7) tombstoned:
    // statistics CTEs stay full-corpus (Lucene pre-compaction
    // semantics), only the served rows are filtered
    "q54_handle_query_deletes" ->
      handleQuerySqlFor("WHERE s.doc_id % 7 <> 3"),

    // full star-edge recompute: q19's signature CTEs + 6-block layout +
    // 20 combo keys (both VALUES lists are interpolated from the SAME
    // Dedup.blockLayout/bandCombos the Spark side bands with, so the
    // schemes cannot drift) + bucket-min reps + Hamming verification.
    // No bucket-cap CTE: star edges are uncapped by default (linear in
    // bucket size — see simHashStarEdges scaladoc).
    "q55_simhash_star" ->
      s"""WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM all_docs)
        |       WHERE term <> '' GROUP BY doc_id, term),
        |th AS (SELECT doc_id, tf,
        |         ('0x' || substring(md5(term), 1, 16))::UBIGINT AS h FROM tf),
        |bits AS (
        |  SELECT doc_id, j,
        |    CASE WHEN sum(CASE WHEN ((h >> j) & 1) = 1 THEN tf ELSE -tf END) > 0
        |      THEN 1 ELSE 0 END AS bit
        |  FROM th, LATERAL (SELECT unnest(range(0, 64)) AS j)
        |  GROUP BY doc_id, j),
        |sigl AS (SELECT doc_id, list(bit ORDER BY j) AS bl FROM bits GROUP BY doc_id),
        |blockdef(blk, o, w) AS (VALUES $simhashBlockDefValues),
        |blk AS (
        |  SELECT b.doc_id, d.blk, sum(b.bit::BIGINT << (b.j - d.o))::BIGINT AS v
        |  FROM bits b JOIN blockdef d ON b.j >= d.o AND b.j < d.o + d.w
        |  GROUP BY b.doc_id, d.blk),
        |combos(band, c0, c1, c2) AS (VALUES $simhashComboValues),
        |banded AS (
        |  SELECT b0.doc_id, c.band,
        |    b0.v + b1.v * 65536 + b2.v * 4294967296 AS key
        |  FROM combos c
        |  JOIN blk b0 ON b0.blk = c.c0
        |  JOIN blk b1 ON b1.blk = c.c1 AND b1.doc_id = b0.doc_id
        |  JOIN blk b2 ON b2.blk = c.c2 AND b2.doc_id = b0.doc_id),
        |reps AS (SELECT band, key, min(doc_id) AS rep FROM banded
        |         GROUP BY band, key),
        |edges AS (SELECT DISTINCT c.doc_id, r.rep
        |          FROM banded c JOIN reps r USING (band, key)
        |          WHERE c.doc_id <> r.rep)
        |SELECT e.doc_id, e.rep,
        |  len(list_filter(range(1, 65), j -> sd.bl[j] <> sr.bl[j]))::BIGINT AS hamming
        |FROM edges e
        |JOIN sigl sd ON sd.doc_id = e.doc_id
        |JOIN sigl sr ON sr.doc_id = e.rep
        |WHERE len(list_filter(range(1, 65), j -> sd.bl[j] <> sr.bl[j])) <= 3
        |ORDER BY e.doc_id, e.rep""".stripMargin,

    // q18's md5 MinHash signatures + banding, then the star form: bucket
    // reps + distinct (member, rep) edges + signature-agreement verify
    // against the rep only. No bucket-cap CTE (uncapped by default).
    "q56_minhash_star" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
        |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM all_docs),
        |    LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)),
        |mh AS (
        |  SELECT doc_id, f,
        |    min(('0x' || substring(md5(f::VARCHAR || ':' || shingle), 1, 15))::BIGINT) AS v
        |  FROM sh, LATERAL (SELECT unnest(range(0, 32)) AS f)
        |  GROUP BY doc_id, f),
        |sig AS (SELECT doc_id, list(v ORDER BY f) AS s FROM mh GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, bd,
        |    md5(array_to_string(s[bd*4+1 : bd*4+4], ',')) AS bucket
        |  FROM sig, LATERAL (SELECT unnest(range(0, 8)) AS bd)),
        |reps AS (SELECT bd, bucket, min(doc_id) AS rep FROM banded
        |         GROUP BY bd, bucket),
        |edges AS (SELECT DISTINCT b.doc_id, r.rep
        |          FROM banded b JOIN reps r USING (bd, bucket)
        |          WHERE b.doc_id <> r.rep)
        |SELECT e.doc_id, e.rep,
        |  round(len(list_filter(range(1, 33), j -> sd.s[j] = sr.s[j])) / 32.0, 4)
        |    AS est_jaccard
        |FROM edges e
        |JOIN sig sd ON sd.doc_id = e.doc_id
        |JOIN sig sr ON sr.doc_id = e.rep
        |WHERE len(list_filter(range(1, 33), j -> sd.s[j] = sr.s[j])) / 32.0 >= 0.5
        |ORDER BY e.doc_id, e.rep""".stripMargin,

    // exact-cosine re-score of the persisted star candidate edges (the
    // q20/q41 pattern: {AUX} substituted by the driver's Verify run).
    "q57_embedding_star" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |cand AS (SELECT vec_id, rep FROM read_parquet('{AUX}/q57_cand/*.parquet'))
        |SELECT c.vec_id, c.rep,
        |  round(list_cosine_similarity(d.embedding::DOUBLE[], r.embedding::DOUBLE[]), 4)
        |    AS cos
        |FROM cand c
        |JOIN emb d ON d.vec_id = c.vec_id
        |JOIN emb r ON r.vec_id = c.rep
        |WHERE round(list_cosine_similarity(d.embedding::DOUBLE[], r.embedding::DOUBLE[]), 4)
        |  >= 0.999
        |ORDER BY c.vec_id, c.rep""".stripMargin,

    "q39_pack_sharded" ->
      """WITH t AS (SELECT doc_id % 4 AS shard, doc_id,
        |  len(string_split(text,' ')) AS n_tokens FROM documents),
        |c AS (SELECT shard, doc_id, n_tokens,
        |  coalesce(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens, 0)
        |    AS cum_before FROM t)
        |SELECT shard, doc_id, n_tokens,
        |  (cum_before // 256)::BIGINT AS pack_id,
        |  (cum_before % 256)::BIGINT AS pack_pos
        |FROM c ORDER BY shard, doc_id""".stripMargin,

    // three-tier handle_query: documents text is pre-cleaned (no dropped
    // tokens) and the q38 terms are outside the lemma map, so indexed
    // bigrams == pos+1 adjacency here.
    "q38_handle_query_tiers" ->
      s"""WITH toks AS ($toks),
         |stats AS (SELECT count(*)::DOUBLE AS n,
         |  (SELECT sum(len(string_split(text,' ')))::DOUBLE FROM documents) /
         |   count(*)::DOUBLE AS avgdl FROM documents),
         |dl AS (SELECT doc_id, len(string_split(text,' ')) AS dl FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       WHERE term IN ('merge','sort','table') GROUP BY doc_id, term),
         |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks
         |       WHERE term IN ('merge','sort','table') GROUP BY term),
         |uni AS (
         |  SELECT tf.doc_id,
         |    round(sum( ln(1.0 + (stats.n - df.df + 0.5)/(df.df + 0.5)) *
         |      (tf.tf * 2.2) / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ), 4)
         |      AS score
         |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id), stats
         |  GROUP BY tf.doc_id),
         |ph AS (
         |  SELECT DISTINCT t1.doc_id FROM toks t1
         |  JOIN toks t2 ON t1.doc_id = t2.doc_id AND t2.pos = t1.pos + 1
         |  JOIN toks t3 ON t1.doc_id = t3.doc_id AND t3.pos = t1.pos + 2
         |  WHERE t1.term = 'merge' AND t2.term = 'sort' AND t3.term = 'table'),
         |bg AS (
         |  SELECT a.doc_id, a.term || ' ' || b.term AS term
         |  FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
         |  WHERE (a.term = 'merge' AND b.term = 'sort')
         |     OR (a.term = 'sort' AND b.term = 'table')),
         |bgtf AS (SELECT doc_id, term, count(*) AS tf FROM bg GROUP BY doc_id, term),
         |bgdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM bg GROUP BY term),
         |bgdocs AS (SELECT doc_id FROM bgtf GROUP BY doc_id
         |           HAVING count(DISTINCT term) = 2),
         |bgsc AS (
         |  SELECT bgtf.doc_id,
         |    round(sum( ln(1.0 + (stats.n - bgdf.df + 0.5)/(bgdf.df + 0.5)) *
         |      (bgtf.tf * 2.2) / (bgtf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ), 4)
         |      AS score
         |  FROM bgtf JOIN bgdf USING (term) JOIN dl USING (doc_id), stats
         |  WHERE bgtf.doc_id IN (SELECT doc_id FROM bgdocs)
         |  GROUP BY bgtf.doc_id),
         |tiers AS (
         |  SELECT u.doc_id, u.score, 0 AS tier FROM uni u JOIN ph USING (doc_id)
         |  UNION ALL
         |  SELECT b.doc_id, b.score, 1 AS tier FROM bgsc b
         |  WHERE b.doc_id NOT IN (SELECT doc_id FROM ph)
         |  UNION ALL
         |  SELECT u.doc_id, u.score, 2 AS tier FROM uni u
         |  WHERE u.doc_id NOT IN (SELECT doc_id FROM ph)
         |    AND u.doc_id NOT IN (SELECT doc_id FROM bgsc))
         |SELECT doc_id, score, tier FROM tiers
         |ORDER BY tier ASC, score DESC, doc_id ASC LIMIT 10""".stripMargin,

    // exact cosine re-scoring + windowed top-k over the engine's
    // persisted banded-LSH candidate pairs (the q20/q26 AUX pattern)
    "q41_knn_join" ->
      """WITH p AS (SELECT id_a, id_b FROM read_parquet('{AUX}/q41_pairs/*.parquet')),
        |scored AS (
        |  SELECT p.id_a, p.id_b,
        |    round(list_cosine_similarity(ea.embedding::DOUBLE[],
        |                                 eb.embedding::DOUBLE[]), 4) AS cos
        |  FROM p JOIN embeddings ea ON ea.vec_id = p.id_a
        |         JOIN embeddings eb ON eb.vec_id = p.id_b),
        |ranked AS (
        |  SELECT id_a, id_b, cos,
        |    row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b ASC)
        |      AS rank
        |  FROM scored)
        |SELECT id_a, id_b, cos, rank FROM ranked WHERE rank <= 5
        |ORDER BY id_a, rank""".stripMargin,

    // duplicated 8-token spans: same windowing, same md5-derived 60-bit
    // fingerprint (StableHash h60), same two-level distinct-doc rollup.
    // The len >= 8 filter lives in its own CTE so the lateral
    // generate_series never sees a stop below its start (which DuckDB
    // would descend through).
    "q42_duplicate_spans" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 8),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    ('0x' || substring(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT
        |      AS span_fp
        |  FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i)),
        |per_doc AS (
        |  SELECT span_fp, doc_id, count(*) AS occs, min(pos) AS min_pos
        |  FROM wins GROUP BY span_fp, doc_id),
        |agg AS (
        |  SELECT span_fp, count(*)::BIGINT AS n_docs, sum(occs)::BIGINT AS n_occs,
        |    min(doc_id) AS first_doc, arg_min(min_pos, doc_id) AS first_pos
        |  FROM per_doc GROUP BY span_fp)
        |SELECT span_fp, n_docs, n_occs, first_doc, first_pos FROM agg
        |WHERE n_docs >= 2 ORDER BY span_fp""".stripMargin,

    // interval-union coverage of duplicated 8-token spans per document:
    // a duplicated window at pos covers min(8, next_pos - pos) tokens
    // (8 for the last) — same one-pass fold as the engine
    "q43_span_coverage" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |long_t AS (SELECT * FROM t WHERE len(toks) >= 8),
        |wins AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    ('0x' || substring(md5(array_to_string(toks[i:i+7], ' ')), 1, 15))::BIGINT
        |      AS span_fp
        |  FROM long_t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 7)) AS i)),
        |dup AS (
        |  SELECT span_fp FROM (
        |    SELECT span_fp, count(DISTINCT doc_id) AS nd FROM wins GROUP BY span_fp)
        |  WHERE nd >= 2),
        |dw AS (SELECT w.doc_id, w.pos FROM wins w JOIN dup USING (span_fp)),
        |cov AS (
        |  SELECT doc_id, sum(covered)::BIGINT AS dup_tokens FROM (
        |    SELECT doc_id,
        |      least(8, coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos) - pos, 8))
        |        AS covered
        |    FROM dw) GROUP BY doc_id)
        |SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
        |  coalesce(c.dup_tokens, 0)::BIGINT AS dup_tokens,
        |  round(coalesce(c.dup_tokens, 0) / len(t.toks), 4) AS dup_fraction
        |FROM t LEFT JOIN cov c USING (doc_id) ORDER BY t.doc_id""".stripMargin,

    // gaps-and-islands: lag flags session starts, a running sum numbers
    // them (::BIGINT — DuckDB window sums return HUGEINT), one agg per
    // (user, session). epoch_ms == Spark's unix_millis (both floor).
    "q44_sessionize" ->
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms, value FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ms, value,
        |    CASE WHEN lag(ms) OVER w IS NULL OR ms - lag(ms) OVER w > 1800000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM base WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)),
        |sess AS (
        |  SELECT user_id, ms, value,
        |    (sum(new_s) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT
        |      AS session_idx
        |  FROM flagged)
        |SELECT user_id, session_idx, count(*)::BIGINT AS n_events,
        |  min(ms)::BIGINT AS first_ms, max(ms)::BIGINT AS last_ms,
        |  (max(ms) - min(ms))::BIGINT AS duration_ms,
        |  round(sum(value), 4) AS sum_value
        |FROM sess GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    // the oversized-bucket audit: same md5 MinHash + banding as q18,
    // final step = bucket membership counts above the cap
    "q45_bucket_audit" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT t.doc_id + 1000000 AS doc_id,
        |    (SELECT text FROM documents WHERE doc_id = 0) AS text
        |  FROM range(1, 41) t(doc_id)),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
        |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM all_docs),
        |    LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)),
        |mh AS (
        |  SELECT doc_id, f,
        |    min(('0x' || substring(md5(f::VARCHAR || ':' || shingle), 1, 15))::BIGINT) AS v
        |  FROM sh, LATERAL (SELECT unnest(range(0, 32)) AS f)
        |  GROUP BY doc_id, f),
        |sig AS (SELECT doc_id, list(v ORDER BY f) AS s FROM mh GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, bd,
        |    md5(array_to_string(s[bd*4+1 : bd*4+4], ',')) AS bucket
        |  FROM sig, LATERAL (SELECT unnest(range(0, 8)) AS bd))
        |SELECT bd::INT AS band, bucket, count(*)::BIGINT AS n_members
        |FROM banded GROUP BY bd, bucket HAVING count(*) > 32
        |ORDER BY band, bucket""".stripMargin,

    "q27_normalize" ->
      """WITH kept AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text,' '), t -> t NOT IN
        |      ('the','a','of','to','and','in','is','it','you','that','was',
        |       'for','on','are','as','with','his','they','i','at','be',
        |       'this','have','from','or','one','had','by','not','but')) AS toks
        |  FROM documents)
        |SELECT doc_id, array_to_string(toks, ' ') AS text_norm,
        |  len(toks) AS n_tokens_kept
        |FROM kept ORDER BY doc_id""".stripMargin,

    "q17_cos_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id,
        |  round(list_cosine_similarity(embedding::DOUBLE[], q.qe), 4) AS cos
        |FROM embeddings, q WHERE vec_id <> 0
        |ORDER BY round(list_cosine_similarity(embedding::DOUBLE[], q.qe), 4) DESC,
        |  vec_id ASC LIMIT 10""".stripMargin,

    // full MinHash+LSH replication: md5-derived hash family and band
    // buckets (StableHash conventions), same banding arithmetic.
    "q18_minhash_lsh" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
        |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM all_docs),
        |    LATERAL (SELECT unnest(generate_series(1, len(toks) - 2)) AS i)),
        |mh AS (
        |  SELECT doc_id, f,
        |    min(('0x' || substring(md5(f::VARCHAR || ':' || shingle), 1, 15))::BIGINT) AS v
        |  FROM sh, LATERAL (SELECT unnest(range(0, 32)) AS f)
        |  GROUP BY doc_id, f),
        |sig AS (SELECT doc_id, list(v ORDER BY f) AS s FROM mh GROUP BY doc_id),
        |banded AS (
        |  SELECT doc_id, s, bd,
        |    md5(array_to_string(s[bd*4+1 : bd*4+4], ',')) AS bucket
        |  FROM sig, LATERAL (SELECT unnest(range(0, 8)) AS bd)),
        |kept AS (
        |  SELECT bd, bucket FROM banded GROUP BY bd, bucket
        |  HAVING count(*) <= 100000),
        |capped AS (SELECT b.* FROM banded b JOIN kept USING (bd, bucket)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b, x.s AS sa, y.s AS sb
        |  FROM capped x JOIN capped y ON x.bd = y.bd AND x.bucket = y.bucket
        |  WHERE x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |  round(len(list_filter(range(1, 33), j -> sa[j] = sb[j])) / 32.0, 4) AS est_jaccard
        |FROM cand
        |WHERE len(list_filter(range(1, 33), j -> sa[j] = sb[j])) / 32.0 >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,

    // full SimHash replication: md5-derived 64-bit term hash, tf-weighted
    // bit majority, 4x16-bit band keys, hamming on candidates.
    "q19_simhash" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        |       FROM (SELECT doc_id, unnest(string_split(text,' ')) AS term FROM all_docs)
        |       WHERE term <> '' GROUP BY doc_id, term),
        |th AS (SELECT doc_id, tf,
        |         ('0x' || substring(md5(term), 1, 16))::UBIGINT AS h FROM tf),
        |bits AS (
        |  SELECT doc_id, j,
        |    CASE WHEN sum(CASE WHEN ((h >> j) & 1) = 1 THEN tf ELSE -tf END) > 0
        |      THEN 1 ELSE 0 END AS bit
        |  FROM th, LATERAL (SELECT unnest(range(0, 64)) AS j)
        |  GROUP BY doc_id, j),
        |sigl AS (SELECT doc_id, list(bit ORDER BY j) AS bl FROM bits GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, j // 16 AS bd, sum(bit << (j % 16)) AS key
        |  FROM bits GROUP BY doc_id, j // 16),
        |keptb AS (
        |  SELECT bd, key FROM bands GROUP BY bd, key
        |  HAVING count(*) <= 100000),
        |cappedb AS (SELECT b.* FROM bands b JOIN keptb USING (bd, key)),
        |cand AS (
        |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |  FROM cappedb x JOIN cappedb y ON x.bd = y.bd AND x.key = y.key
        |  WHERE x.doc_id < y.doc_id)
        |SELECT c.doc_a, c.doc_b,
        |  len(list_filter(range(1, 65), j -> sa.bl[j] <> sb.bl[j]))::BIGINT AS hamming
        |FROM cand c
        |JOIN sigl sa ON sa.doc_id = c.doc_a
        |JOIN sigl sb ON sb.doc_id = c.doc_b
        |WHERE len(list_filter(range(1, 65), j -> sa.bl[j] <> sb.bl[j])) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,

    // exact cosine top-k over the persisted ANN candidate set ({AUX} is
    // substituted by Verify with the aux dir for the verified sf).
    "q20_ann_topk" ->
      """WITH cand AS (SELECT vec_id FROM read_parquet('{AUX}/q20_cand/*.parquet')),
        |q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 4) AS cos
        |FROM embeddings e JOIN cand USING (vec_id), q
        |WHERE e.vec_id <> 0
        |ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 4) DESC,
        |  e.vec_id ASC LIMIT 10""".stripMargin,

    // exact all-pairs near-dup answer (candidate recall is provably 1.0
    // at this threshold: only identical vectors qualify, and those share
    // every LSH band).
    "q21_embedding_neardups" ->
      """WITH emb AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id < 5)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos
        |FROM emb a JOIN emb b ON a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin,

    // both engines read the SAME persisted media blobs back.
    "q22_multimodal_features" ->
      """SELECT media_id, kind, octet_length(bytes) AS n_bytes,
        |  lower(hex(bytes)) AS content_hex
        |FROM read_parquet('{AUX}/q22_media/*.parquet')
        |ORDER BY media_id""".stripMargin,

    // rolling Karp-Rabin fold over md5-derived token hashes (list_reduce
    // replicates Spark's aggregate() fold exactly).
    "q23_rolling_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(0::BIGINT,
        |      list_transform(string_split(text, ' '),
        |        t -> ('0x' || substring(md5(t), 1, 15))::BIGINT % 1000000007)),
        |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q24_bm25_wand" -> bm25SqlFor(Seq("the", "query", "join")),

    "q26_ivf_topk" ->
      """WITH cand AS (SELECT vec_id FROM read_parquet('{AUX}/q26_cand/*.parquet')),
        |q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0)
        |SELECT e.vec_id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 4) AS cos
        |FROM embeddings e JOIN cand USING (vec_id), q
        |WHERE e.vec_id <> 0
        |ORDER BY round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 4) DESC,
        |  e.vec_id ASC LIMIT 10""".stripMargin,

    // lemma map {small->size, big->size} as a CASE rewrite over tokens.
    "q28_lemma_df" ->
      s"""WITH lt AS (SELECT doc_id,
         |    CASE WHEN term IN ('small','big') THEN 'size' ELSE term END AS term
         |  FROM ($toks))
         |SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf
         |FROM lt WHERE term IN ('size','small','big','merge','scan')
         |GROUP BY term ORDER BY term""".stripMargin,

    // bigram df: adjacent lemmatized token pairs (positions are dense in
    // this pre-cleaned corpus, so adjacency = pos + 1).
    "q29_bigram_df" ->
      s"""WITH lt AS (SELECT doc_id, pos,
         |    CASE WHEN term IN ('small','big') THEN 'size' ELSE term END AS term
         |  FROM ($toks)),
         |bg AS (SELECT a.doc_id, a.term || ' ' || b.term AS term
         |       FROM lt a JOIN lt b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1)
         |SELECT term, count(DISTINCT doc_id) AS df FROM bg
         |WHERE term IN ('size join','hash join','table scan','merge sort','size size')
         |GROUP BY term ORDER BY term""".stripMargin,

    "q30_conjunctive_semi" ->
      """SELECT doc_id FROM documents
        |WHERE list_contains(string_split(text,' '), 'join')
        |  AND list_contains(string_split(text,' '), 'filter')
        |  AND list_contains(string_split(text,' '), 'sort') ORDER BY doc_id""".stripMargin,

    "q31_pack_sequences" ->
      """WITH t AS (SELECT doc_id, len(string_split(text,' ')) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |  coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens, 0)
        |    AS cum_before FROM t)
        |SELECT doc_id, n_tokens,
        |  (cum_before // 256)::BIGINT AS pack_id,
        |  (cum_before % 256)::BIGINT AS pack_pos
        |FROM c ORDER BY doc_id""".stripMargin,

    "q32_stratified_sample" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN len(string_split(text,' ')) < 30 THEN 'short'
        |         WHEN len(string_split(text,' ')) < 60 THEN 'mid'
        |         ELSE 'long' END AS stratum
        |  FROM documents)
        |SELECT doc_id, stratum FROM s
        |WHERE ('0x' || substring(md5('graft:' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000
        |  < (CASE stratum WHEN 'short' THEN 250000 WHEN 'mid' THEN 500000 ELSE 1000000 END)
        |ORDER BY doc_id""".stripMargin,

    "q33_contamination" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS shingle
        |  FROM (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(toks) - 4)) AS i)),
        |bs AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
        |SELECT d.doc_id, count(*) AS n_hits
        |FROM (SELECT * FROM sh) d JOIN bs USING (shingle)
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "q34_repetition" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_transform(generate_series(1, len(string_split(text,' ')) - 2),
        |      i -> array_to_string((string_split(text,' '))[i:i+2], ' ')) AS sh
        |  FROM documents)
        |SELECT doc_id, len(sh) AS n_shingles,
        |  len(list_distinct(sh)) AS n_distinct_shingles,
        |  CASE WHEN len(sh) > 0
        |    THEN round(1.0 - len(list_distinct(sh))::DOUBLE / len(sh), 4)
        |    ELSE 0.0 END AS repetition
        |FROM s ORDER BY doc_id""".stripMargin,

    "q35_corpus_pipeline" ->
      """WITH all_docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 30),
        |reps AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY text) AS rep
        |    FROM all_docs) WHERE doc_id = rep),
        |base AS (
        |  SELECT doc_id, text, length(text) AS n_chars,
        |    len(string_split(text,' ')) AS n_tokens,
        |    len(list_filter(string_split(text,' '), t -> t IN
        |      ('the','a','of','to','and','in','is','it','you','that','was',
        |       'for','on','are','as','with','his','they','i','at','be',
        |       'this','have','from','or','one','had','by','not','but')))
        |      AS n_stop,
        |    length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct
        |  FROM reps),
        |scored AS (
        |  SELECT doc_id, text, n_tokens,
        |    round(least(1.0, n_tokens::DOUBLE / 20.0) *
        |      (1.0 - CASE WHEN n_chars > 0
        |        THEN round(n_punct::DOUBLE / n_chars, 4) ELSE 0.0 END) *
        |      (CASE WHEN round(n_stop::DOUBLE / n_tokens, 4) BETWEEN 0.1 AND 0.6
        |        THEN 1.0 ELSE 0.7 END), 4) AS quality
        |  FROM base),
        |kept AS (SELECT doc_id, n_tokens FROM scored WHERE quality >= 0.8),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens, 0)
        |      AS cum_before FROM kept)
        |SELECT doc_id, n_tokens,
        |  (cum_before // 256)::BIGINT AS pack_id,
        |  (cum_before % 256)::BIGINT AS pack_pos
        |FROM c ORDER BY doc_id""".stripMargin,

    "q36_token_counts" ->
      """WITH d AS (SELECT doc_id, text || ' end, ok!' AS text FROM documents)
        |SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(list_filter(
        |    string_split(regexp_replace(text, '([^\w\s])', ' \1 ', 'g'), ' '),
        |    t -> t <> '')) AS n_bpeish_tokens
        |FROM d ORDER BY doc_id""".stripMargin,

    // the oracle reads the PLAIN mirror of the same synthesized dump the
    // Spark side read through the bz2 codec.
    "q37_wiki_ingest" ->
      """WITH a AS (SELECT * FROM read_json('{AUX}/q37_wiki_plain/*.json',
        |  columns = {url: 'VARCHAR', text: 'VARCHAR[][]',
        |             id: 'VARCHAR', title: 'VARCHAR'})),
        |p AS (SELECT id, title,
        |  regexp_replace(
        |    array_to_string(list_transform(text, x -> array_to_string(x, '')), e'\n\n'),
        |    '<[^>]*>', '', 'g') AS plain FROM a)
        |SELECT id, title,
        |  len(list_filter(string_split_regex(plain, '\s+'), t -> t <> '')) AS n_ws_tokens,
        |  md5(plain) AS content_md5
        |FROM p ORDER BY id""".stripMargin)
}
