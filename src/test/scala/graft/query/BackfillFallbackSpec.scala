package graft.query

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, levenshtein, lit}

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.index.{Fs, Generations, IndexBuilder, IndexConf, IndexPaths}
import graft.oracle.Oracle

/** The read-only fallbacks of the derived-table backfill: a dir whose
  * backfill failed (e.g. on a read-only mount) is not written again in
  * the JVM, and the reader answers without it — exactly — from the
  * dict_by_len range probe (fuzzy) or the in-memory norms (vsm). On a
  * writable root a stale table is written again on first use.
  */
class BackfillFallbackSpec extends SparkSpecBase {

  private val nConvs = 12L
  private lazy val lemmas = Transcripts.lemmas

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-backfill")
    new IndexBuilder(spark, lemmas, IndexConf(numParts = 2))
      .build(Transcripts.generate(spark, nConvs), dir)
    dir
  }

  /** A clone of the fixture root (no derived table written), with
    * `failed` (a dir under it) marked as a failed backfill while `body`
    * runs.
    */
  private def withFailed(prefix: String, failed: IndexPaths => String)(
      body: (String, String) => Unit): Unit = {
    val root = cloneRoot(indexDir, prefix)
    val dir = failed(IndexPaths(root))
    QueryEngine.backfillFailed.add(dir)
    try body(root, dir) finally QueryEngine.backfillFailed.remove(dir)
  }

  test("a failed fuzzy_d2 backfill serves d=2 from the dict_by_len probe") {
    withFailed("graft-backfill-fz", _.fuzzy(2)) { (root, dir) =>
      val engine = new QueryEngine(spark, root, lemmas)
      val probes = QueryEngine.fuzzyRangeProbes.get()
      val scans = QueryEngine.fuzzyScanFallbacks.get()
      val got = engine.fuzzyTerms("kelba", 2).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(QueryEngine.fuzzyRangeProbes.get() == probes + 1,
        "d=2 with no fuzzy table must take the dict_by_len range probe")
      assert(QueryEngine.fuzzyScanFallbacks.get() == scans,
        "a current dict_by_len must keep d=2 off the O(lexicon) scan")
      val want = engine.dictionary
        .filter(levenshtein(col("term"), lit("kelba")) <= 2)
        .select(col("term"), col("term_id")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(want.nonEmpty, "no term within distance 2 — weak test")
      assert(got == want, "range-probe results differ from ground truth")
      assert(!Files.exists(Paths.get(dir)), "a failed backfill must not be retried")
    }
  }

  test("a generation's stale dict_by_len is rewritten by the first d = 4 lookup") {
    import spark.implicits._
    val root = tmpDir("graft-backfill-gens")
    val turns = Transcripts.generateLocal(nConvs)
    turns.grouped(turns.size / 2 + 1).foreach(b =>
      Generations.append(spark, spark.createDataset(b), root, lemmas, IndexConf(numParts = 2)))
    val gens = Generations.genDirs(root)
    assert(gens.size == 2)
    new QueryEngine(spark, root, lemmas).fuzzyTerms("kelba", 4).collect()
    // the first generation's table as a commit before the unigram format
    // recorded it: under the bare dictionary token, which no reader now
    // accepts
    val dictToken = IndexBuilder.tableToken(IndexPaths(gens.head).dictionary)
    val current = dictToken + IndexBuilder.DictByLenFormatTag
    val manifest = s"${IndexPaths(gens.head).dictByLen}/_manifest.json"
    Fs.writeString(manifest, Fs.readString(manifest)
      .replace(s""""fingerprint":"$current"""", s""""fingerprint":"$dictToken""""))
    assert(!IndexBuilder.manifestComplete(IndexPaths(gens.head).dictByLen, current))
    val engine = new QueryEngine(spark, root, lemmas)
    val probes = QueryEngine.fuzzyRangeProbes.get()
    val scans = QueryEngine.fuzzyScanFallbacks.get()
    val got = engine.fuzzyTerms("kelba", 4).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(QueryEngine.fuzzyRangeProbes.get() == probes + gens.size,
      "each generation's d = 4 lookup must take its dict_by_len range probe")
    assert(QueryEngine.fuzzyScanFallbacks.get() == scans,
      "a stale dict_by_len on a writable root must be rewritten, not scanned around")
    assert(Fs.readString(manifest).contains(s""""fingerprint":"$current""""),
      "the rewritten table's manifest must hold the current token")
    val oracle = new Oracle(turns, lemmas)
    val want = oracle.fuzzyTerms("kelba", 4).map(t => (t, oracle.df(t)))
    assert(want.nonEmpty && got.toSet == want, "range-probe results differ from ground truth")
  }

  test("a failed vsm_norms backfill scores from the in-memory norms") {
    withFailed("graft-backfill-vsm", _.vsmNorms) { (root, dir) =>
      val oracle = new Oracle(Transcripts.generateLocal(nConvs), lemmas)
      val terms = oracle.postings.keys.toSeq.sortBy(t => (-oracle.df(t), t)).take(2)
      val got = new QueryEngine(spark, root, lemmas).vsmScores(terms).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
      assert(got.nonEmpty)
      assert(got == oracle.vsmScores(terms), "in-memory norms drifted from the oracle")
      assert(!Files.exists(Paths.get(dir)), "a failed backfill must not be retried")
    }
  }
}
