package graft

/** The driver's contract surface: entry() must return rows, every query
  * must have oracle SQL or be consciously rows-only (none are, as of
  * round 2), and the catalog keys must be consistent across both maps.
  * entry() runs only when the driver's testdata is present.
  */
class SparkEntrySpec extends SparkSpecBase {

  test("every catalog query has oracle SQL (no rows-only checks left)") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle SQL: $missing")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracle SQL without a query: $orphaned")
  }

  test("entry() returns rows on the smoke corpus") {
    assume(new java.io.File("/root/testdata/sf0.001/documents.parquet").exists())
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q37 writes both wiki dumps concurrently and reads back one row per document") {
    import spark.implicits._
    // a documents table of the catalog's shape (doc_id, text)
    val dir = tmpDir("graft-q37")
    val texts = graft.corpus.Transcripts.generateLocal(5L).map(_.text)
    texts.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    // the dumps land in the aux dir, which sits beside `dir`, not in it
    try {
      val ids = SparkEntry.queries("q37_wiki_ingest")(spark, dir)
        .select("id").collect().map(_.getString(0))
      assert(ids.length == texts.size, "q37 must read back one article per document")
      assert(ids.distinct.length == ids.length, "an article was read twice")
    } finally graft.index.Fs.deleteRecursive(GraftQueries.auxDir(dir))
  }
}
