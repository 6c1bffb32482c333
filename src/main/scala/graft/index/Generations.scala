package graft.index


import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.corpus.Turn

/** Incremental indexing: each appended batch of turns becomes one
  * immutable index GENERATION (Lucene-segment style), with a disjoint
  * doc_id range. Queries run across all generations with globally
  * consistent BM25 statistics; `Compactor.compact` merges generations
  * back into one fully-optimized index (the distributed analog of the
  * reference's k-way merge of SPIMI run files, src/spimi.rs:50-121 —
  * the per-generation `segments` checkpoints ARE the runs).
  */
object Generations {

  /** The index directories a serving engine reads for `root`: the root
    * itself when it is one built index, else its live generations.
    */
  def servingDirs(root: String): Seq[String] =
    if (Fs.exists(IndexPaths(root).meta)) Seq(root) else genDirs(root)

  def genDirs(root: String): Seq[String] = {
    val complete = Fs.listNames(root)
      .filter(n => n.startsWith("gen-") &&
        Fs.exists(s"$root/$n/index_meta.json"))
      .sorted
    // a COMMITTED merged generation (Compactor.mergeGenerations)
    // excludes the sources it physically replaced — still on disk until
    // gcReplaced — or every merged doc would be served twice. Only
    // complete generations' markers count: a crashed merge (replaces
    // written, meta absent) is invisible and leaves its sources live.
    val replaced = complete.flatMap(n => replacedBy(s"$root/$n")).toSet
    complete.filterNot(replaced).map(n => s"$root/$n")
  }

  /** Generation names a committed merged generation replaced (empty for
    * ordinary generations — the marker only exists on merge outputs).
    */
  private[index] def replacedBy(dir: String): Seq[String] = {
    val f = s"$dir/replaces.json"
    if (!Fs.exists(f)) Nil
    else "\"replaces\":\\[([^\\]]*)\\]".r.findFirstMatchIn(Fs.readString(f))
      .map(m => "\"([^\"]+)\"".r.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Nil)
  }

  /** Generation-dir name owning a postings FILE path: the path segment
    * immediately before the last `postings` segment (works for the
    * per-term-range subdir layout and for any filesystem scheme —
    * `file:/...` URIs split the same way). The fused multi-generation
    * read recovers generation identity this way because MERGED
    * generations hold non-contiguous doc ranges and cannot be
    * interval-mapped from doc_ids.
    */
  private[graft] def genSegOf(path: String): String = {
    val parts = path.split('/')
    val i = parts.lastIndexOf("postings")
    if (i > 0) parts(i - 1) else ""
  }

  /** Complete generation dirs a committed merge has retired — still on
    * disk, excluded from [[genDirs]], awaiting `Compactor.gcReplaced`.
    */
  def retiredDirs(root: String): Seq[String] = {
    val live = genDirs(root).map(_.split('/').last).toSet
    Fs.listNames(root)
      .filter(n => n.startsWith("gen-") && !live(n) &&
        Fs.exists(s"$root/$n/index_meta.json"))
      .sorted
      .map(n => s"$root/$n")
  }

  /** max numeric suffix + 1 over the root's `prefix`-NNNNN dirs.
    * Meta-less partials from a crashed run are INCLUDED in the max — a
    * crashed dir's name must never be reused (resuming its stage
    * checkpoints would silently build over the crashed batch's data),
    * and only ^prefix-\d+$ names feed the counter: streaming dirs
    * (gen-b<hex-sid>-NNNNN) would otherwise contribute digit runs from
    * inside the random hex sid and make the counter jump arbitrarily.
    */
  private[index] def nextNumbered(root: String, prefix: String): Long =
    Fs.listNames(root).filter(_.matches(s"$prefix-\\d+"))
      .map(_.stripPrefix(s"$prefix-").toLong)
      .foldLeft(-1L)(math.max) + 1

  def totalDocs(root: String): Long =
    genDirs(root).map(IndexBuilder.readMeta(_).n_docs).sum

  /** Append a batch as a new generation; returns its directory. The name
    * is max(existing numeric suffix) + 1, NOT the generation count —
    * batchId-keyed streaming appends leave gaps (empty batches are
    * skipped), and a count-derived name colliding with an existing
    * complete generation would make appendAt's idempotency check silently
    * swallow the new batch.
    */
  def append(spark: SparkSession, turns: Dataset[Turn], root: String,
      lemmas: Map[String, String], conf: IndexConf = IndexConf()): String = {
    val next = nextNumbered(root, "gen")
    appendAt(spark, turns, root, f"$root/gen-$next%05d", lemmas, conf)
  }

  /** Append a batch as a generation at an EXPLICIT directory — idempotent:
    * if the directory already holds a complete generation (its
    * index_meta.json exists), the batch is a replay and is skipped. This
    * is the exactly-once seam for Structured Streaming's foreachBatch,
    * where a crash between append and checkpoint commit re-delivers the
    * same batchId.
    */
  def appendAt(spark: SparkSession, turns: Dataset[Turn], root: String,
      dir: String, lemmas: Map[String, String],
      conf: IndexConf = IndexConf()): String = {
    if (Fs.exists(IndexPaths(dir).meta)) return dir
    val offset = totalDocs(root)
    new IndexBuilder(spark, lemmas, conf.copy(docIdOffset = offset))
      .build(turns, dir)
    dir
  }

  // -------------------------------------------------------------- deletes
  //
  // Document deletion = tombstone batches (Lucene liveDocs semantics):
  // a `del-NNNNN/` directory beside the generations holds the deleted
  // doc_ids as parquet plus a `del_meta.json` marker written LAST
  // (atomic rename), so a crashed delete is invisible. Tombstoned docs
  // are excluded from every QueryEngine result and from its scoring
  // folds immediately, but global statistics (N, df, avgdl) stay
  // PRE-DELETE until compaction physically purges the postings — the
  // exact semantics Lucene serves between a deleteDocuments() and the
  // segment merge (its docFreq includes deleted docs too). Generation
  // metas are never touched, so doc_id assignment for future appends
  // (`totalDocs`) keeps counting deleted ids — ids are never reused.

  /** The complete, committed tombstone batches under `root`, sorted. */
  def delDirs(root: String): Seq[String] =
    Fs.listNames(root)
      .filter(n => n.startsWith("del-") && Fs.exists(s"$root/$n/del_meta.json"))
      .sorted
      .map(n => s"$root/$n")

  /** Tombstone a batch of doc_ids; returns the batch directory. Naming
    * mirrors [[append]]: max existing numeric suffix + 1, so crashed
    * partials (meta-less dirs) are never reused.
    */
  def deleteDocs(spark: SparkSession, docIds: Dataset[Long],
      root: String): String = {
    val next = nextNumbered(root, "del")
    deleteDocsAt(spark, docIds, root, f"$root/del-$next%05d")
  }

  /** The columns of a tombstone batch's `ids` table as [[deleteDocsAt]]
    * writes them.
    */
  val DeletedIdsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("doc_id", LongType)))
  }

  /** Tombstone at an EXPLICIT directory — idempotent (a committed batch
    * is a replay and is skipped): the exactly-once seam for a
    * foreachBatch delete stream, mirroring [[appendAt]].
    */
  def deleteDocsAt(spark: SparkSession, docIds: Dataset[Long],
      root: String, dir: String): String = {
    if (Fs.exists(s"$dir/del_meta.json")) return dir
    Fs.mkdirs(root)
    // write FIRST, decide from the written count: `docIds` may be an
    // expensive lazy plan (upsert/deleteWhere's multi-generation key
    // probe), and a pre-check `docIds.isEmpty` would execute that whole
    // plan a second time. The count is observed by the write itself —
    // no re-execution and no re-read.
    val n = IndexBuilder.writeCounted(
      docIds.distinct().toDF(DeletedIdsSchema.fieldNames.toSeq: _*), s"$dir/ids").rows
    // an empty batch never commits: it would put a permanent no-op
    // anti-join into every query plan of the root (replays of an empty
    // batch recompute empty and skip again — idempotent without a
    // marker; the uncommitted dir is removed so delDirs never sees it)
    if (n == 0L) { Fs.deleteRecursive(dir); return dir }
    Fs.writeAtomic(s"$dir/del_meta.json", s"""{"n_ids":$n}""")
    dir
  }

  /** Tombstone every doc matching `pred` over the generations' docs
    * tables (doc_len, role, conv_id, turn_idx, ts columns) — the
    * metadata-takedown form (e.g. delete a whole conversation).
    */
  def deleteWhere(spark: SparkSession, root: String,
      pred: org.apache.spark.sql.Column): String = {
    import spark.implicits._
    val gens = genDirs(root)
    require(gens.nonEmpty, s"no generations under $root")
    val ids = gens
      .map(g => IndexBuilder.readDocs(spark, IndexPaths(g).docs)
        .filter(pred).select("doc_id"))
      .reduce(_ unionByName _)
      .as[Long]
    deleteDocs(spark, ids, root)
  }

  /** Union of all committed tombstone batches (distinct doc_ids), or
    * None when the root has no deletes — so the no-delete serving path
    * stays join-free.
    */
  def deletedDocs(spark: SparkSession, root: String): Option[DataFrame] =
    deletedDocs(spark, delDirs(root))

  /** The union `deletedDocs` gives for a root, over the tombstone
    * batches `dirs`.
    */
  def deletedDocs(spark: SparkSession, dirs: Seq[String]): Option[DataFrame] =
    if (dirs.isEmpty) None
    // a single batch is already distinct (deleteDocsAt writes
    // docIds.distinct()) — skip the read-side shuffle that every
    // engine construction would otherwise pay between compactions
    else if (dirs.size == 1) Some(batchIds(spark, dirs))
    else Some(batchIds(spark, dirs).distinct())

  /** The ids of the tombstone batches `dirs` as one relation: an id
    * tombstoned by several batches appears once per batch.
    */
  private[graft] def batchIds(spark: SparkSession, dirs: Seq[String]): DataFrame =
    IndexBuilder.reopen(spark, dirs.map(d => s"$d/ids"), DeletedIdsSchema)

  /** The id count batch `dir` recorded at commit (`del_meta.json`), or
    * Int.MaxValue, more than any driver collects, when the marker does
    * not hold one.
    */
  private[graft] def batchSize(dir: String): Long =
    "\"n_ids\":(\\d+)".r.findFirstMatchIn(Fs.readString(s"$dir/del_meta.json"))
      .map(_.group(1).toLong).getOrElse(Int.MaxValue.toLong)

  /** Replace-or-insert (Lucene updateDocument): tombstone any LIVE docs
    * carrying the incoming (conv_id, turn_idx) keys, then append the
    * batch as a new generation — a corrected transcript supersedes the
    * indexed version without touching its postings. The existing ids
    * are resolved from the CURRENT generations before the append, so
    * the new generation's own docs can never be tombstoned by their own
    * keys. Readers see the swap on their next QueryEngine
    * construction (both steps are committed by atomic markers; a crash
    * between them leaves the delete committed and the append absent —
    * re-running the same upsert re-tombstones an already-dead key set,
    * a no-op, then lands the append). Returns the new generation dir.
    */
  def upsert(spark: SparkSession, turns: Dataset[Turn], root: String,
      lemmas: Map[String, String], conf: IndexConf = IndexConf()): String = {
    import spark.implicits._
    val gens = genDirs(root)
    if (gens.nonEmpty) {
      val keys = turns.select($"conv_id", $"turn_idx").distinct()
      val existing = docIdsForKeys(spark, gens, keys).as[Long]
      // an insert-only batch must not grow the del-* chain (and the
      // serving anti-join) for nothing — deleteDocsAt's own empty-batch
      // check provides exactly that, so no separate isEmpty action here
      // (it would run the full multi-generation key probe an extra time)
      deleteDocs(spark, existing, root)
    }
    append(spark, turns, root, lemmas, conf)
  }

  /** Doc_ids matching the (conv_id, turn_idx) `keys` across the
    * generations' docs tables. The key batch is driver-sized by
    * construction (it ships WITH the upsert), so its distinct conv_ids
    * are collected and PUSHED as an `In(conv_id, ...)` filter into each
    * generation's docs parquet: a conversation's turns cluster inside
    * the generation that ingested them, so parquet row-group min/max
    * prune the probe to O(batch) row groups — without the pushdown an
    * upsert of a handful of corrected turns column-scans conv_id/
    * turn_idx over EVERY generation, an O(corpus) read on the takedown
    * path at 10^12 turns. The exact (conv_id, turn_idx) match still
    * goes through the semi-join; the literal filter only prunes IO.
    * Batches with more than `maxLiterals` distinct conversations fall
    * back to the un-pruned semi-join ([[MaxInLiterals]]).
    */
  private[index] def docIdsForKeys(spark: SparkSession, gens: Seq[String],
      keys: DataFrame, maxLiterals: Int = MaxInLiterals): DataFrame = {
    import spark.implicits._
    val convIds = keys.select($"conv_id").distinct()
      .limit(maxLiterals + 1).as[String].collect()
    val prune: DataFrame => DataFrame =
      if (convIds.length <= maxLiterals)
        df => df.filter($"conv_id".isin(convIds.toSeq: _*))
      else identity _
    gens
      .map(g => prune(IndexBuilder.readDocs(spark, IndexPaths(g).docs))
        .join(keys, Seq("conv_id", "turn_idx"), "left_semi")
        .select("doc_id"))
      .reduce(_ unionByName _)
  }
}

/** Merges of generations. [[Compactor.mergeGenerations]] merges a
  * subset of a root's generations into one new generation;
  * [[Compactor.compact]] merges every live generation into one index
  * outside the root and purges tombstones on the way. Both write
  * through [[Compactor.mergeInto]]: the sources' SPIMI `segments`
  * checkpoints (sorted runs with globally-disjoint doc_ids) are unioned,
  * re-shuffled into the stage-1 layout and persisted, then finished by
  * the same stage-2 writer and meta a fresh build uses
  * ([[IndexBuilder.finish]]), with dictionary/statistics recomputed
  * over the merged corpus.
  */
object Compactor {

  /** Full compaction: every live generation of `root`, with its
    * tombstones purged, merged into one index at `outDir`. The docs and
    * segments are filtered before the merge, so the compacted index
    * recomputes N/avgdl/df/cf and every chunk block-max over the
    * surviving corpus only — after compaction the output is
    * indistinguishable (statistics included) from an index that never
    * contained the deleted docs, except that surviving doc_ids keep
    * their original values (gaps allowed; totalDocs of the old root
    * still counts them, so ids are never reused). BM25 constants come
    * from `conf`. Re-compacting the same generations and tombstones
    * into the same `outDir` resumes every completed stage, docs and
    * segments included; more deletes, other generations or another
    * conf rebuild.
    */
  def compact(spark: SparkSession, root: String, outDir: String,
      lemmas: Map[String, String], conf: IndexConf = IndexConf()): IndexMeta = {
    val gens = Generations.genDirs(root)
    require(gens.nonEmpty, s"no generations under $root")
    mergeInto(spark, gens, outDir, Generations.delDirs(root), Nil, lemmas, conf)
  }

  /** Order-free identity of a merge's inputs: md5 over each file in
    * `markers` — the sources' index_meta.json (which carry the per-gen
    * build fingerprints) and the purged tombstone batches' del_meta.json
    * — by path and content, plus the layout-relevant conf. Names alone
    * are not identity: a re-merge into the same dir after the sources
    * were regenerated, with changed BM25 constants (baked into every
    * chunk's max_norm) or after more deletes landed must NOT reuse the
    * stage manifests. Fails fast on an unreadable marker: listings only
    * return dirs whose marker EXISTS, so a read failure means an
    * incomplete or racing source, and folding a constant in would hash
    * two differently-broken source sets identically.
    */
  private def sourceFingerprint(markers: Seq[String], nSources: Int,
      conf: IndexConf): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def upd(s: String): Unit =
      md.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    markers.foreach { f =>
      upd(f); upd("\n")
      upd(try Fs.readString(f)
          catch {
            case scala.util.control.NonFatal(e) =>
              throw new IllegalStateException(
                s"unreadable $f — source incomplete or concurrently " +
                  s"modified; refusing to fingerprint a merge over it", e)
          })
    }
    upd(s"np${conf.numParts}-k1${conf.k1}-b${conf.b}")
    s"merge-${md.digest().map(b => f"$b%02x").mkString}-n$nSources"
  }

  /** The one merged-index writer: `sources`' docs and segments unioned
    * into `dir`, minus the doc_ids of the tombstone batches `purged`,
    * the segments re-shuffled by (term, salt) and re-sorted by (term,
    * salt, doc_id) — exactly the k-way merge (disjoint doc ranges make
    * it a merge, not a re-group — reference src/spimi.rs:50-121) — and
    * persisted, so the output carries its own sorted runs and later
    * merges treat it like any other generation. Every stage resumes
    * under one source-set fingerprint, which covers `purged` (empty
    * when nothing is purged, so a plain merge is valid regardless of
    * delete batches landing before, during or after it). A non-empty
    * `replaces` is written to `replaces.json` BEFORE the meta: the meta
    * is the single commit point that both publishes the merged
    * generation and retires its sources.
    */
  private def mergeInto(spark: SparkSession, sources: Seq[String], dir: String,
      purged: Seq[String], replaces: Seq[String], lemmas: Map[String, String],
      conf: IndexConf): IndexMeta = {
    import spark.implicits._
    val builder = new IndexBuilder(spark, lemmas, conf)
    val paths = IndexPaths(dir)
    Fs.mkdirs(dir)
    val fp = sourceFingerprint(sources.sorted.map(IndexPaths(_).meta) ++
      purged.map(d => s"$d/del_meta.json"), sources.size, conf)
    val deleted = Generations.deletedDocs(spark, purged)
    def union(table: String => DataFrame): DataFrame = {
      val all = sources.map(table).reduce(_ unionByName _)
      deleted.fold(all)(d => all.join(d, Seq("doc_id"), "left_anti")
        .select(all.columns.toSeq.map(col): _*))
    }
    // docs: doc_ids are already globally disjoint; the write observes
    // n_docs and Σdoc_len for the meta. readDocs: sources that straddle
    // the docs-schema ts addition (v6) merge with null ts for the older
    // ones.
    builder.stage(paths.docs, fp) {
      IndexBuilder.writeCounted(
        union(g => IndexBuilder.readDocs(spark, IndexPaths(g).docs)),
        paths.docs, Seq("doc_len")).fields
    }
    // segments: the one corpus-scale shuffle a merge pays
    builder.stage(paths.segments, fp) {
      (IndexBuilder.writeCounted(
        union(g => builder.readSegments(IndexPaths(g).segments).toDF())
          .repartition(conf.numParts, $"term", $"salt")
          .sortWithinPartitions($"term", $"salt", $"doc_id"),
        paths.segments).rows, Map.empty)
    }
    builder.finish(dir, fp, commit =
      if (replaces.nonEmpty)
        Fs.writeAtomic(s"$dir/replaces.json",
          s"""{"replaces":[${replaces.map("\"" + _ + "\"").mkString(",")}]}"""))
  }

  // ------------------------------------------------- partial (tiered) merge

  /** LSM-style PARTIAL compaction: physically merge a subset of a root's
    * generations into ONE new generation, leaving every other generation
    * and all tombstone batches untouched. At 10^12 turns a hot-append
    * root accumulates generations faster than anyone can afford full
    * [[compact]] runs (which rewrite the whole corpus); tiered merges
    * bound the per-query generation fan-out (dictionary probes, scoring
    * folds, block-max bound rescales are all per-generation) at
    * O(log n) total write amplification — each doc is rewritten once per
    * tier it climbs, the classic size-tiered trade.
    *
    * The serving contract is BIT-IDENTICAL results (test-pinned): no
    * tombstone purge happens here, so doc_ids, `totalDocs` (the append
    * offset watermark) and the pre-delete statistics semantics are
    * exactly preserved — global df is an integer sum over generations
    * and the merged generation contributes the same integers, while the
    * reconstructed corpus length `round(avgdl*n_docs)` round-trips
    * exactly (QueryEngine.meta). Purging inside a partial merge
    * would instead leave the root's statistics half pre-delete / half
    * post-delete and strand tombstone batches that still cover
    * un-merged generations; full [[compact]] remains the purger.
    *
    * Commit protocol: the merged generation is written by [[mergeInto]]
    * like any index (resumable stage manifests under a source-set
    * fingerprint — a killed merge re-run into the same dir skips
    * completed stages), then `replaces.json` (the source names) is
    * written, then `index_meta.json`. The meta is the single commit
    * point: `Generations.genDirs` excludes the sources the moment it
    * appears, so no reader ever lists a doc twice, and a crash anywhere
    * earlier leaves an invisible partial with the sources still
    * serving. Source dirs stay on disk until [[gcReplaced]] removes
    * them.
    *
    * BM25 constants come from the source metas (they are baked into
    * every chunk's block-max bound and must agree across the root
    * anyway — QueryEngine enforces it); `conf.k1`/`conf.b` are ignored
    * here.
    *
    * Like [[compact]] and gc, this is a MAINTENANCE op: one scheduled
    * writer per root at a time (appends/streaming ingest may land new
    * generations concurrently — they are untouched — but two merges
    * over overlapping source sets would each commit a copy of the
    * shared sources; serialize the merge/compact/gc cadence).
    */
  def mergeGenerations(spark: SparkSession, root: String,
      sources: Seq[String], lemmas: Map[String, String],
      conf: IndexConf = IndexConf()): String = {
    val next = Generations.nextNumbered(root, "gen")
    mergeGenerationsAt(spark, root, sources, f"$root/gen-$next%05d",
      lemmas, conf)
  }

  /** [[mergeGenerations]] at an EXPLICIT directory — idempotent via meta
    * existence (appendAt's replay semantics) and resumable: re-running
    * after a crash into the same dir skips completed stage manifests.
    */
  def mergeGenerationsAt(spark: SparkSession, root: String,
      sources: Seq[String], dir: String, lemmas: Map[String, String],
      conf: IndexConf = IndexConf()): String = {
    if (Fs.exists(IndexPaths(dir).meta)) return dir
    require(sources.size >= 2,
      s"merge needs >=2 source generations, got ${sources.size}")
    val live = Generations.genDirs(root).toSet
    val dead = sources.filterNot(live)
    require(dead.isEmpty,
      s"merge sources must be live generations of $root; not live: " +
        dead.mkString(", "))
    val metas = sources.map(IndexBuilder.readMeta)
    require(metas.map(m => (m.k1, m.b)).distinct.size == 1,
      "merge sources disagree on BM25 constants: " +
        metas.map(m => (m.k1, m.b)).distinct.mkString(","))
    // effective conf: k1/b pinned to the sources' build constants (see
    // scaladoc); everything else (numParts, stage2Ranges, fuzzy d) is
    // the caller's choice and fingerprinted by mergeInto
    val mconf = conf.copy(k1 = metas.head.k1, b = metas.head.b)
    // no tombstone purge (see scaladoc)
    mergeInto(spark, sources, dir, Nil, sources.map(_.split('/').last), lemmas, mconf)
    dir
  }

  /** Size-tiered maintenance step: merge the `k` smallest live
    * generations (by meta n_docs — metadata-only selection). The policy
    * loop that bounds a hot-append root's generation count: appends
    * land small, periodic mergeSmallest consolidates upward, full
    * [[compact]] runs only when tombstone debt warrants a purge.
    */
  def mergeSmallest(spark: SparkSession, root: String, k: Int,
      lemmas: Map[String, String], conf: IndexConf = IndexConf()): String = {
    require(k >= 2, s"k must be >= 2, got $k")
    val gens = Generations.genDirs(root)
    require(gens.size >= 2, s"nothing to merge under $root (${gens.size} generations)")
    val chosen = gens.map(g => (IndexBuilder.readMeta(g).n_docs, g))
      .sortBy(identity).take(math.min(k, gens.size)).map(_._2)
    mergeGenerations(spark, root, chosen, lemmas, conf)
  }

  /** Remove generation directories that a COMMITTED merged generation
    * replaced. Deletion is bottom-up: a replaced dir is deleted only
    * once every dir IT replaces (if it was itself a merge output) is
    * already gone — deleting a mid-chain merge first and crashing
    * before its sources would orphan their replaced-ness and resurrect
    * them in genDirs. Idempotent. New readers never see replaced dirs
    * (genDirs excludes them from the commit on), but a QueryEngine
    * CONSTRUCTED before the merge still scans them — run gc on the
    * maintenance cadence, after serving sessions have rolled over.
    * Returns the deleted dirs.
    */
  def gcReplaced(root: String): Seq[String] = {
    val deleted = Seq.newBuilder[String]
    var present = scala.collection.mutable.Set(
      Fs.listNames(root).filter(_.startsWith("gen-")): _*)
    var progress = true
    while (progress) {
      progress = false
      val replaced = present.toSeq.sorted
        .filter(n => Fs.exists(s"$root/$n/index_meta.json"))
        .flatMap(n => Generations.replacedBy(s"$root/$n")).toSet
      replaced.toSeq.sorted.foreach { r =>
        if (present(r) && !Generations.replacedBy(s"$root/$r").exists(present)) {
          Fs.deleteRecursive(s"$root/$r")
          present -= r
          deleted += s"$root/$r"
          progress = true
        }
      }
    }
    deleted.result()
  }
}
