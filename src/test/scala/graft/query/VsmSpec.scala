package graft.query

import java.nio.file.{Files, Paths}

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.index.{IndexBuilder, IndexConf, IndexPaths}
import graft.oracle.Oracle

/** A9 — vector-space scoring with the reference's abandoned doc norm
  * (sqrt(Σ (tf·df)²), src/helpers/mod.rs:191-218 commented out): the
  * distributed scorer must be BIT-IDENTICAL to the scalar oracle, the
  * norms table must backfill once under the index root, and a rebuild
  * over a changed corpus must invalidate (not serve) the stale table.
  */
class VsmSpec extends SparkSpecBase {

  private val nConvs = 12L
  private lazy val lemmas = Transcripts.lemmas
  private lazy val oracle = new Oracle(Transcripts.generateLocal(nConvs), lemmas)

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-vsm")
    new IndexBuilder(spark, lemmas, IndexConf(numParts = 2))
      .build(Transcripts.generate(spark, nConvs), dir)
    dir
  }
  private lazy val engine = new QueryEngine(spark, indexDir, lemmas)

  /** Two deterministic term picks: the highest-df term and a mid-df one. */
  private def testTerms: Seq[String] = {
    val byDf = oracle.postings.keys.toSeq
      .sortBy(t => (-oracle.df(t), t))
    Seq(byDf.head, byDf(byDf.size / 2))
  }

  private def engineScores(terms: Seq[String]): Map[Long, Double] =
    engine.vsmScores(terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap

  test("vsmScores is bit-identical to the scalar oracle") {
    val terms = testTerms
    val got = engineScores(terms)
    val want = oracle.vsmScores(terms)
    assert(got.keySet == want.keySet)
    got.foreach { case (d, s) =>
      assert(s == want(d), s"doc $d: $s != ${want(d)}")
    }
    // single-term form too (no fold at all on the numerator)
    val one = engineScores(terms.take(1))
    val wantOne = oracle.vsmScores(terms.take(1))
    assert(one == wantOne)
  }

  test("bigram-indexed root: norms exclude bigram pseudo-terms (oracle parity)") {
    // the reference's doc vector has no bigram dimension — without the
    // unigram-only filter, every "a b" posting inflated norm_d and the
    // scores diverged from the (unigram) scalar oracle on bigram roots
    val dir = tmpDir("graft-vsm-bigram")
    new IndexBuilder(spark, lemmas,
      IndexConf(numParts = 2, indexBigrams = true))
      .build(Transcripts.generate(spark, nConvs), dir)
    val e = new QueryEngine(spark, dir, lemmas)
    val terms = testTerms
    val got = e.vsmScores(terms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val want = oracle.vsmScores(terms)
    assert(got.keySet == want.keySet)
    got.foreach { case (d, s) =>
      assert(s == want(d), s"doc $d: $s != ${want(d)}")
    }
  }

  test("norms backfill once under the root and are served persisted") {
    engineScores(testTerms.take(1)) // triggers the lazy backfill
    val dir = IndexPaths(indexDir).vsmNorms
    assert(Files.exists(Paths.get(dir, "_SUCCESS")), "vsm_norms not written")
    // the n_files/bytes manifest must exist, or the serve-time check
    // could not catch truncated norms (silently missing docs in every
    // vsmScores result)
    assert(Files.exists(Paths.get(dir, "_manifest.json")),
      "writeVsmNorms must leave a manifest")
    // fingerprint = dict token + computation-format tag: a norms table
    // from the pre-unigram-fix computation (bare token) must read as stale
    val dictToken = IndexBuilder.tableToken(IndexPaths(indexDir).dictionary)
    assert(IndexBuilder.manifestComplete(dir, dictToken + IndexBuilder.VsmNormsFormatTag))
    assert(!IndexBuilder.manifestComplete(dir, dictToken))
    // a FRESH engine over the same root serves the persisted table and
    // stays bit-identical
    val e2 = new QueryEngine(spark, indexDir, lemmas)
    val got = e2.vsmScores(testTerms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(got == oracle.vsmScores(testTerms))
  }

  test("rebuild over a changed corpus invalidates the stale norms table") {
    val spark0 = spark
    import spark0.implicits._
    def stage(n: Long, seed: Long): String = {
      val p = tmpDir("graft-vsm-turns")
      Transcripts.generate(spark, n, seed = seed)
        .write.mode("overwrite").parquet(p)
      p
    }
    val dir = tmpDir("graft-vsm-stale")
    val b = new IndexBuilder(spark, lemmas, IndexConf(numParts = 2))
    val turnsA = stage(6L, 42L)
    b.build(spark.read.parquet(turnsA).as[graft.corpus.Turn], dir)
    val e1 = new QueryEngine(spark, dir, lemmas)
    val oracleA = new Oracle(
      spark.read.parquet(turnsA).as[graft.corpus.Turn].collect()
        .sortBy(t => (t.conv_id, t.turn_idx)).toVector, lemmas)
    val termA = oracleA.postings.keys.toSeq.sortBy(t => (-oracleA.df(t), t)).head
    e1.vsmScores(Seq(termA)).collect() // backfills over corpus A
    assert(Files.exists(
      Paths.get(IndexPaths(dir).vsmNorms, "_SUCCESS")))
    // different corpus, SAME root: stale norms must not serve
    val turnsB = stage(10L, 99L)
    b.build(spark.read.parquet(turnsB).as[graft.corpus.Turn], dir)
    val oracleB = new Oracle(
      spark.read.parquet(turnsB).as[graft.corpus.Turn].collect()
        .sortBy(t => (t.conv_id, t.turn_idx)).toVector, lemmas)
    val termB = oracleB.postings.keys.toSeq.sortBy(t => (-oracleB.df(t), t)).head
    val e2 = new QueryEngine(spark, dir, lemmas)
    val got = e2.vsmScores(Seq(termB)).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(got == oracleB.vsmScores(Seq(termB)),
      "stale vsm_norms served after a corpus rebuild")
  }

  test("a TRUNCATED vsm_norms table (part lost under surviving markers) is not trusted") {
    engineScores(testTerms.take(1)) // ensure the table exists under indexDir
    // clone the root, then delete a vsm_norms parquet part while
    // _SUCCESS and the manifest survive — its fingerprint hashes the
    // DICTIONARY's listing, so only the manifest's n_files/bytes (vs one
    // listing) can catch the loss
    val root2 = cloneRoot(indexDir, "graft-vsm-trunc")
    val dir = IndexPaths(root2).vsmNorms
    val fp = IndexBuilder.tableToken(IndexPaths(root2).dictionary) +
      IndexBuilder.VsmNormsFormatTag
    val victim = graft.index.Fs.listFilesRecursive(dir, ".parquet").head._1
    graft.index.Fs.deleteRecursive(victim)
    assert(!IndexBuilder.manifestComplete(dir, fp),
      "lost part file must read as not-intact")
    // a fresh engine re-backfills (writable root) and stays bit-identical
    val e2 = new QueryEngine(spark, root2, lemmas)
    val got = e2.vsmScores(testTerms).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(got == oracle.vsmScores(testTerms),
      "truncated vsm_norms served partial results")
    assert(IndexBuilder.manifestComplete(dir, fp),
      "re-backfill must restore an intact manifest")
  }
}
