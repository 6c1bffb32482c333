package graft

import graft.corpus.Transcripts
import graft.index.{IndexBuilder, IndexConf}

/** The serving-engine cache is keyed on the SparkSession object plus the
  * root: a session gets its own warmed engine back, and another session
  * over the same root never shares it.
  */
class SessionCacheSpec extends SparkSpecBase {

  private lazy val root: String = {
    val dir = tmpDir("graft-session-cache")
    import spark.implicits._
    new IndexBuilder(spark, Map.empty, IndexConf(numParts = 2))
      .build(spark.createDataset(Transcripts.generateLocal(4L)), dir)
    dir
  }

  test("same session: same engine instance; newSession over the same root: its own") {
    val a = GraftQueries.cachedEngine(spark, root, Map.empty)
    assert(GraftQueries.cachedEngine(spark, root, Map.empty) eq a)
    assert(a.dictLocalInstalled, "cached engines are dictionary-warmed")
    val other = spark.newSession()
    val b = GraftQueries.cachedEngine(other, root, Map.empty)
    assert(!(b eq a), "a second session over the same root shared the engine")
    assert(GraftQueries.cachedEngine(other, root, Map.empty) eq b)
    assert(GraftQueries.cachedEngine(spark, root, Map.empty) eq a)
  }

  test("the cache key includes the root") {
    val other = cloneRoot(root, "graft-session-cache-copy")
    val a = GraftQueries.cachedEngine(spark, root, Map.empty)
    val b = GraftQueries.cachedEngine(spark, other, Map.empty)
    assert(!(a eq b))
  }
}
