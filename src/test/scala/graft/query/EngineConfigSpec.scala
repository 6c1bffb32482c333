package graft.query

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import graft.{GraftQueries, SparkSpecBase}
import graft.corpus.Transcripts
import graft.index.{IndexBuilder, IndexConf}

/** An engine's tuning values are fixed at construction: `withConfig`
  * derives a second engine over the same readers and leaves the first
  * unchanged, so engines with different configs serve side by side.
  */
class EngineConfigSpec extends SparkSpecBase with JobCounting {

  private val lemmas = Transcripts.lemmas
  private val queries = Seq("the of table", "alba corba", "kelba the sorro", "the")

  private lazy val root: String = {
    import spark.implicits._
    val dir = tmpDir("graft-engine-config")
    new IndexBuilder(spark, lemmas, IndexConf(numParts = 2))
      .build(spark.createDataset(Transcripts.generateLocal(20L)), dir)
    dir
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq

  test("withConfig engines over one cached engine keep their own config and paths on two threads") {
    val parent = GraftQueries.cachedEngine(spark, root, lemmas)
    val (wandBefore, handleBefore) = (parent.lastWandPath, parent.lastHandlePath)
    val shut = parent.withConfig(_.copy(localMaxPostings = 0L))
    val default = parent.withConfig(identity)
    assert(shut.readers eq parent.readers)
    assert(default.readers eq parent.readers)
    assert(shut.conf.localMaxPostings == 0L && default.conf == EngineConfig())

    // both threads run query i together, then record what their own
    // engine reports for it
    val barrier = new CyclicBarrier(2)
    def walk(e: QueryEngine): Callable[Seq[(String, Seq[Seq[Any]], String, Seq[Seq[Any]], String)]] =
      () => for (_ <- 1 to 3; q <- queries) yield {
        barrier.await(60, TimeUnit.SECONDS)
        val top = rows(e.bm25TopK(q, 10))
        val wand = e.lastWandPath
        barrier.await(60, TimeUnit.SECONDS)
        val tiers = rows(e.handleQuery(q, 10))
        (q, top, wand, tiers, e.lastHandlePath)
      }
    val pool = Executors.newFixedThreadPool(2)
    val (viaShut, viaDefault) =
      try {
        val a = pool.submit(walk(shut))
        val b = pool.submit(walk(default))
        (a.get(10, TimeUnit.MINUTES), b.get(10, TimeUnit.MINUTES))
      } finally pool.shutdownNow()

    viaShut.foreach { case (q, _, wand, _, handle) =>
      assert(wand != "local", s"gate-shut engine served '$q' locally")
      assert(handle == "pruned" || handle == "exact", s"'$q': handle path $handle")
    }
    viaDefault.foreach { case (q, _, wand, _, handle) =>
      assert(wand == "local", s"default engine took $wand for '$q'")
      assert(handle == "local", s"default engine's handleQuery took $handle for '$q'")
    }
    viaShut.zip(viaDefault).foreach { case ((q, topS, _, tiersS, _), (_, topD, _, tiersD, _)) =>
      assert(topS == topD, s"bm25TopK differs across configs for '$q'")
      assert(tiersS == tiersD, s"handleQuery differs across configs for '$q'")
    }
    assert(parent.conf == EngineConfig())
    assert(parent.lastWandPath == wandBefore && parent.lastHandlePath == handleBefore)
  }

  test("withConfig runs no Spark job and the derived engine reuses the warmed dictionary") {
    val parent = GraftQueries.cachedEngine(spark, root, lemmas)
    val q = queries.head
    parent.bm25TopK(q, 10).collect() // warm: file listings, codegen
    val warmJobs = jobsOf(parent.bm25TopK(q, 10).collect())
    var derived: QueryEngine = null
    assert(jobsOf { derived = parent.withConfig(_.copy(wandCandidateCap = 1000L)) } == 0)
    assert(derived.dictLocalInstalled)
    val firstJobs = jobsOf(derived.bm25TopK(q, 10).collect())
    assert(derived.lastWandPath == "local")
    assert(firstJobs == warmJobs,
      s"derived engine's first query ran $firstJobs jobs, the warm parent $warmJobs")
  }

  test("EngineConfig's fields are the driver budgets, caller-set and spec-unreachable thresholds") {
    // adding a field needs this edit: the scaladoc must say why it is one
    assert(EngineConfig().productElementNames.toSeq == Seq(
      "liveDocsCap", "dictLocalCap", "wandMinPostings", "localMaxPostings",
      "wandCandidateCap", "refineMinCandidates", "handleQueryClaimCap",
      "phraseMaxCandidates"))
  }

  test("QueryEngine's public setters are the two diagnostic slots; TieredQuery has none") {
    def setters(c: Class[_], ms: Class[_] => Array[java.lang.reflect.Method]): Set[String] =
      ms(c).map(_.getName).filter(_.endsWith("_$eq")).toSet
    assert(setters(classOf[QueryEngine], _.getMethods) ==
      Set("lastWandPath_$eq", "lastHandlePath_$eq"))
    assert(setters(TieredQuery.getClass, _.getDeclaredMethods).isEmpty)
    assert(setters(classOf[EngineConfig], _.getDeclaredMethods).isEmpty)
  }
}
