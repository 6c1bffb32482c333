package graft.index

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.oracle.Oracle

/** Partial (tiered) compaction — Compactor.mergeGenerations: a subset of
  * a root's generations physically merged into one new generation, with
  * tombstones untouched. The contract: MultiGenEngine over the root is
  * BIT-IDENTICAL on every query path before and after a merge (global
  * statistics are integer sums / exactly round-tripping reconstructions
  * over generations, so the partitioning of docs into generations is
  * unobservable); sources stay on disk until gcReplaced, which deletes
  * chains bottom-up.
  */
class GenerationMergeSpec extends SparkSpecBase {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
  private lazy val allTurns = Transcripts.generateLocal(40L)
  private lazy val oracle = new Oracle(allTurns, lemmas)

  /** Three-generation root (thirds in conv order) with one tombstone
    * batch — merges must preserve liveDocs filtering too.
    */
  private lazy val root: String = {
    val dir = tmpDir("graft-merge")
    import spark.implicits._
    val (b1, rest) = allTurns.splitAt(allTurns.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    val victims = oracle.bm25TopK("the of", 5).map(_._1).take(2)
    Generations.deleteDocs(spark, spark.createDataset(victims), dir)
    dir
  }

  /** Every query-path surface of a MultiGenEngine, collected to sorted
    * plain values for exact (bit-identical doubles included) equality.
    */
  private def snapshot(m: MultiGenEngine): Map[String, Seq[Any]] = Map(
    "bm25" -> m.bm25TopK("the of table", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
    "handle" -> m.handleQuery("table scan", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq,
    "conj" -> m.conjunctive(Seq("the", "of"))
      .collect().map(_.getLong(0)).toSeq.sorted,
    "phrase" -> m.phraseMatch(Seq("the", "of"))
      .collect().map(_.getLong(0)).toSeq.sorted,
    "prox" -> m.proximity("the", "of", 3)
      .collect().map(_.getLong(0)).toSeq.sorted,
    "fuzzy" -> m.fuzzyTerms("tabl", 1)
      .collect().map(_.getString(0)).toSeq.sorted,
    "suggest" -> m.suggest("th", 5).collect().map(_.getString(0)).toSeq)

  test("partial merge: every query path bit-identical; sources retired, not deleted") {
    val pre = new MultiGenEngine(spark, root, lemmas)
    assert(pre.gens.size == 3)
    val before = snapshot(pre)
    val nDocsBefore = Generations.totalDocs(root)

    val sources = pre.gens.take(2)
    val merged = Compactor.mergeGenerations(spark, root, sources, lemmas, conf)
    assert(merged == s"$root/gen-00003")

    // listing: merged + the untouched third; sources still on disk,
    // reported as retired
    assert(Generations.genDirs(root) == Seq(s"$root/gen-00002", merged))
    assert(sources.forall(s => Fs.exists(s"$s/index_meta.json")))
    assert(Generations.retiredDirs(root) == sources)
    assert(Generations.totalDocs(root) == nDocsBefore)

    val post = new MultiGenEngine(spark, root, lemmas)
    assert(post.gens.size == 2)
    assert(post.nDocs == pre.nDocs && post.avgdl == pre.avgdl)
    val after = snapshot(post)
    before.keys.foreach(k => assert(after(k) == before(k), s"path $k diverged"))

    // idempotent replay: same explicit dir returns immediately
    assert(Compactor.mergeGenerationsAt(spark, root, sources, merged,
      lemmas, conf) == merged)

    // merging a retired (no longer live) source must fail fast
    val err = intercept[IllegalArgumentException](
      Compactor.mergeGenerations(spark, root,
        Seq(sources.head, s"$root/gen-00002"), lemmas, conf))
    assert(err.getMessage.contains("live generations"))
  }

  test("chained merge + gc: bottom-up deletion, serving unchanged") {
    val pre = new MultiGenEngine(spark, root, lemmas)
    val before = snapshot(pre)

    // second tier: merge the first merge's output with the last original
    val second = Compactor.mergeSmallest(spark, root, 2, lemmas, conf)
    assert(second == s"$root/gen-00004")
    assert(Generations.genDirs(root) == Seq(second))
    assert(snapshot(new MultiGenEngine(spark, root, lemmas)) == before)

    // gc must delete gen-00000/1 (the first merge's sources) before
    // gen-00003 (the first merge itself, now replaced by gen-00004) —
    // the bottom-up order a crash mid-gc must respect
    val dropped = Compactor.gcReplaced(root)
    assert(dropped.map(_.split('/').last).toSet ==
      Set("gen-00000", "gen-00001", "gen-00002", "gen-00003"))
    val last3 = dropped.takeRight(1)
    assert(last3 == Seq(s"$root/gen-00003"),
      s"chain parent must be deleted last: $dropped")
    assert(Fs.listNames(root).filter(_.startsWith("gen-")) == Seq("gen-00004"))

    // second gc is a no-op; serving still identical (tombstones intact)
    assert(Generations.retiredDirs(root).isEmpty)
    assert(Compactor.gcReplaced(root).isEmpty)
    assert(snapshot(new MultiGenEngine(spark, root, lemmas)) == before)
  }

  test("a crashed merge (replaces without meta) is invisible and gc-inert") {
    val dir = tmpDir("graft-merge-crash")
    import spark.implicits._
    val (b1, b2) = allTurns.splitAt(allTurns.size / 2)
    Generations.append(spark, spark.createDataset(b1), dir, lemmas, conf)
    Generations.append(spark, spark.createDataset(b2), dir, lemmas, conf)
    // simulate a merge that died between replaces.json and index_meta.json
    Fs.mkdirs(s"$dir/gen-00099")
    Fs.writeString(s"$dir/gen-00099/replaces.json",
      """{"replaces":["gen-00000","gen-00001"]}""")
    assert(Generations.genDirs(dir) ==
      Seq(s"$dir/gen-00000", s"$dir/gen-00001"))
    assert(Compactor.gcReplaced(dir).isEmpty)
    // a resumed merge into the SAME dir completes and commits
    val merged = Compactor.mergeGenerationsAt(spark, dir,
      Seq(s"$dir/gen-00000", s"$dir/gen-00001"), s"$dir/gen-00099",
      lemmas, conf)
    assert(Generations.genDirs(dir) == Seq(merged))
    val m = new MultiGenEngine(spark, dir, lemmas)
    val ids = m.bm25TopK("the of", 5).collect().map(_.getLong(0)).toSeq
    assert(ids == oracle.bm25TopK("the of", 5).map(_._1))
  }

  test("a generation whose docs table predates ts reads, merges and compacts with null ts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("graft-merge-no-ts")
    val (b1, b2) = allTurns.splitAt(allTurns.size / 2)
    Seq(b1, b2).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    // the schema readDocs opens with is the one a build writes
    val written = spark.read.parquet(IndexPaths(Generations.genDirs(dir)(1)).docs).schema
    assert(written == org.apache.spark.sql.types.StructType(
      IndexBuilder.DocsSchema.fields.map(_.copy(nullable = true))))
    // rewrite the first generation's docs files without ts, as they were
    // written before ts joined the docs schema (manifest and marker kept)
    val docsDir = IndexPaths(Generations.genDirs(dir).head).docs
    val noTs = s"${tmpDir("graft-no-ts-docs")}/docs"
    spark.read.parquet(docsDir).drop("ts").write.parquet(noTs)
    def parts(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith(".part-"))
    parts(docsDir).foreach(f => assert(f.delete()))
    parts(noTs).foreach(f => copyTree(f, new java.io.File(docsDir, f.getName)))
    assert(!spark.read.parquet(docsDir).columns.contains("ts"))

    val old = IndexBuilder.readDocs(spark, docsDir)
    assert(old.columns.toSeq == IndexBuilder.DocsSchema.fieldNames.toSeq)
    assert(old.filter(col("ts").isNotNull).count() == 0)
    def nullTs(docs: String) = IndexBuilder.readDocs(spark, docs)
      .filter(col("ts").isNull).count()

    val out = tmpDir("graft-no-ts-compacted")
    Compactor.compact(spark, dir, out, lemmas, conf)
    assert(nullTs(IndexPaths(out).docs) == b1.size)

    val merged = Compactor.mergeGenerations(spark, dir, Generations.genDirs(dir), lemmas, conf)
    assert(nullTs(IndexPaths(merged).docs) == b1.size)
    assert(IndexBuilder.readDocs(spark, IndexPaths(merged).docs).count() == allTurns.size)

    Generations.deleteWhere(spark, dir, col("ts").isNull)
    assert(Generations.deletedDocs(spark, dir).get.count() == b1.size)
  }
}
