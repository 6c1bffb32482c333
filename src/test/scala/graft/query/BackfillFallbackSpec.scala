package graft.query

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.{col, levenshtein, lit}

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.index.{IndexBuilder, IndexConf, IndexPaths}
import graft.oracle.Oracle

/** The read-only fallbacks of the derived-table backfill: a dir whose
  * backfill failed (e.g. on a read-only mount) is not written again in
  * the JVM, and the reader answers without it — exactly — from the
  * dict_by_len range probe (fuzzy) or the in-memory norms (vsm).
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

  /** A clone of the fixture root (built with fuzzy_d1 only), with
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
