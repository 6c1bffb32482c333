package graft.index

import graft.corpus.Transcripts
import graft.query.JobCounting

/** Index writes take their row counts and meta statistics from the
  * writes themselves (`IndexBuilder.writeCounted`), record `doc_len_sum`
  * and `df_sum` in the docs and dictionary manifests, and skip the
  * high-df sample when its cutoff exceeds the corpus. These specs pin
  * the two edges of that: a resumed stage whose manifest predates the
  * sums (the fallback aggregate), and both sides of the high-df gate,
  * whose sample the segments manifest records (`salted_terms`,
  * `highdf_ms`).
  */
class ObservedWriteSpec extends JobCounting {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4,
    stage2Ranges = 2)
  private lazy val allTurns = Transcripts.generateLocal(40L)

  private def read(path: String): String = Fs.readString(path)

  /** Rewrite `root`'s docs and dictionary manifests without `doc_len_sum`
    * and `df_sum` (the layout of a root written before they were
    * recorded), and drop postings range 1 so stage 2 resumes.
    */
  private def ageRoot(root: String): Unit = {
    val p = IndexPaths(root)
    Seq(s"${p.docs}/_manifest.json" -> "doc_len_sum",
        s"${p.dictionary}/_manifest.json" -> "df_sum").foreach { case (f, field) =>
      val before = read(f)
      val after = before.replaceAll(s""","$field":"\\d+"""", "")
      assert(after != before, s"$f records no $field")
      Fs.writeString(f, after)
    }
    val range1 = s"${p.postings}/range_1"
    assert(Fs.exists(range1), s"expected two postings ranges under ${p.postings}")
    Fs.deleteRecursive(range1)
  }

  test("a resumed build over manifests without the sums writes a byte-identical meta") {
    import spark.implicits._
    val root = tmpDir("graft-observed-resume")
    val ds = spark.createDataset(allTurns)
    new IndexBuilder(spark, lemmas, conf).build(ds, root)
    val p = IndexPaths(root)
    val meta = read(p.meta)
    assert(read(s"${p.docs}/_manifest.json").contains("\"doc_len_sum\":"))
    assert(read(s"${p.dictionary}/_manifest.json").contains("\"df_sum\":"))

    ageRoot(root)
    Fs.deleteRecursive(p.meta)
    new IndexBuilder(spark, lemmas, conf).build(ds, root)
    // the completed stages were resumed, not rewritten: their manifests
    // still lack the sums, so n_docs/avgdl/n_postings came from the
    // fallback aggregates
    assert(!read(s"${p.docs}/_manifest.json").contains("doc_len_sum"))
    assert(!read(s"${p.dictionary}/_manifest.json").contains("df_sum"))
    assert(Fs.exists(s"${p.postings}/range_1/_manifest.json"))
    assert(read(p.meta) == meta)
  }

  test("a resumed mergeGenerationsAt over manifests without the sums writes a byte-identical meta") {
    import spark.implicits._
    val root = tmpDir("graft-observed-merge")
    val (b1, rest) = allTurns.splitAt(allTurns.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    val gens = Seq(b1, b2, b3).map(b =>
      Generations.append(spark, spark.createDataset(b), root, lemmas, conf))
    val dir = s"$root/gen-00009"
    val sources = gens.take(2)
    Compactor.mergeGenerationsAt(spark, root, sources, dir, lemmas, conf)
    val p = IndexPaths(dir)
    val meta = read(p.meta)

    ageRoot(dir)
    Fs.deleteRecursive(p.meta)
    assert(Generations.genDirs(root) == gens, "the uncommitted merge must leave its sources live")
    Compactor.mergeGenerationsAt(spark, root, sources, dir, lemmas, conf)
    assert(!read(s"${p.docs}/_manifest.json").contains("doc_len_sum"))
    assert(!read(s"${p.dictionary}/_manifest.json").contains("df_sum"))
    assert(read(p.meta) == meta)
  }

  /** The docs table and n_docs of a fresh single-slice build. */
  private lazy val built: (String, Long) = {
    import spark.implicits._
    val root = tmpDir("graft-observed-highdf")
    val m = new IndexBuilder(spark, lemmas, conf)
      .build(spark.createDataset(allTurns), root)
    (root, m.n_docs)
  }

  /** A numeric field of `root`'s segments manifest. */
  private def segmentsField(root: String, field: String): Long =
    s""""$field":"(\\d+)"""".r
      .findFirstMatchIn(read(s"${IndexPaths(root).segments}/_manifest.json"))
      .map(_.group(1).toLong).getOrElse(fail(s"segments manifest records no $field"))

  private def saltedTerms(root: String): Long = segmentsField(root, "salted_terms")

  test("high-df gate, shut side: cutoff above n_docs runs no sample job and salts nothing") {
    import spark.implicits._
    val (root, nDocs) = built
    assert(nDocs < 20000L, "the sample fraction must be 1 for the cutoff below")
    // fraction 1: cutoff = thr / 2, so thr = 2 * nDocs + 2 puts the
    // cutoff one above n_docs — no term can reach it
    val shut = conf.copy(skewDfThreshold = 2 * nDocs + 2)
    val docs = spark.read.parquet(IndexPaths(root).docs)
    val b = new IndexBuilder(spark, lemmas, shut)
    var terms = Set("unset")
    assert(jobsOf { terms = b.highDfTerms(docs, nDocs) } == 0)
    assert(terms.isEmpty)

    val shutRoot = tmpDir("graft-observed-highdf-shut")
    b.build(spark.createDataset(allTurns), shutRoot)
    assert(saltedTerms(shutRoot) == 0L)
    // the gated sample's wall time is recorded too
    assert(segmentsField(shutRoot, "highdf_ms") >= 0L)
    assert(spark.read.parquet(IndexPaths(shutRoot).segments)
      .filter($"salt" =!= 0).isEmpty)
  }

  test("high-df gate, open side: the sample runs and the salted set is the ungated one") {
    import spark.implicits._
    val (root, nDocs) = built
    val docs = spark.read.parquet(IndexPaths(root).docs)
    // cutoff exactly n_docs: the gate is open, so the sample job runs
    val edge = new IndexBuilder(spark, lemmas, conf.copy(skewDfThreshold = 2 * nDocs))
    assert(jobsOf { edge.highDfTerms(docs, nDocs) } > 0)

    // the suites' threshold (cutoff 150 < n_docs): the salted set is the
    // one the ungated sample selects, and the build salts exactly it
    val b = new IndexBuilder(spark, lemmas, conf)
    val got = b.highDfTerms(docs, nDocs)
    val cutoff = (conf.skewDfThreshold * 0.5).toLong
    assert(cutoff < nDocs)
    val lem = lemmas
    val ungated = docs.sample(withReplacement = false, 1.0, 42L)
      .select($"text").as[String]
      .flatMap(t => graft.core.Tokenizer.tokenize(t, lem).map(_.term).distinct)
      .groupBy($"value").count()
      .filter($"count" >= cutoff)
      .select($"value").as[String].collect().toSet
    assert(got.nonEmpty && got == ungated)
    assert(saltedTerms(root) == got.size.toLong)
    // the sample job the build ran is timed in the same manifest
    assert(segmentsField(root, "highdf_ms") > 0L)
    val saltedInSegments = spark.read.parquet(IndexPaths(root).segments)
      .filter($"salt" =!= 0).select($"term").distinct().as[String].collect().toSet
    assert(saltedInSegments.subsetOf(got) && saltedInSegments.nonEmpty)
  }
}
