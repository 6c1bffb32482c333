package graft.query

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import graft.SparkSpecBase
import graft.corpus.Turn
import graft.index.{IndexBuilder, IndexConf}

/** handleQuery's overlapped bigram probe runs under its own Spark job
  * tag. On the phrase-fill early exit its jobs are cancelled and have
  * ended before handleQuery returns, and the pooled thread that ran the
  * probe keeps no tag for later jobs.
  */
class ProbeCancelSpec extends SparkSpecBase {

  /** Job start (time, tags, marker property) and end time by job id. */
  private final class Jobs extends SparkListener {
    val started = new ConcurrentHashMap[Int, (Long, String, String)]
    val ended = new ConcurrentHashMap[Int, Long]
    override def onJobStart(s: SparkListenerJobStart): Unit = {
      val p = Option(s.properties)
      started.put(s.jobId, (s.time,
        p.flatMap(x => Option(x.getProperty("spark.job.tags"))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty(Marker))).getOrElse("")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
  }

  private val Marker = "graft.spec.marker"

  /** Runs a job marked `mark` and waits until the listener has seen it
    * start: the bus delivers in order, so every earlier event is in too.
    */
  private def drain(jobs: Jobs, mark: String): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Marker, mark)
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Marker, null)
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def seen = jobs.started.values.asScala.exists(_._3 == mark)
    while (!seen && System.nanoTime() < deadline) Thread.sleep(10)
    assert(seen, "listener never saw the drain job")
  }

  test("phrase-fill exit: every probe job has ended when handleQuery returns; no tag leaks") {
    import spark.implicits._
    // the phrase-fill corpus of BigramSpec: 8 docs hold "zebra quartz",
    // so any k <= 8 is answered by the phrase tier alone
    val ts0 = new java.sql.Timestamp(60000000L)
    val custom = (0 until 8).map { i =>
      Turn(f"p$i%03d", 0, "user", s"zebra quartz fill$i word$i", "", ts0)
    } ++ (0 until 5).map { i =>
      Turn(f"n$i%03d", 0, "user", s"zebra fill$i quartz tail", "", ts0)
    }
    val dir = tmpDir("graft-probe-cancel")
    new IndexBuilder(spark, Map.empty, IndexConf(numParts = 2, indexBigrams = true))
      .build(spark.createDataset(custom), dir)
    // the distributed tier construction, where the probe runs
    val e = new QueryEngine(spark, dir, Map.empty, EngineConfig(localMaxPostings = 0L))
    e.handleQuery("zebra quartz", 4).collect() // warm

    val jobs = new Jobs
    spark.sparkContext.addSparkListener(jobs)
    try {
      val calls = Seq(1, 4, 8).map { k =>
        val exits = TieredQuery.phraseFillExits.get()
        val called = System.currentTimeMillis()
        val df = e.handleQuery("zebra quartz", k)
        val returned = System.currentTimeMillis()
        assert(TieredQuery.phraseFillExits.get() == exits + 1, s"k=$k: no phrase-fill exit")
        assert(df.collect().forall(_.getInt(2) == 0))
        (called, returned)
      }
      drain(jobs, "after-queries")
      // job id -> start time of every probe job
      val probes = jobs.started.asScala.toSeq.collect {
        case (id, (start, tags, _)) if tags.contains(TieredQuery.ProbeTagPrefix) => id -> start
      }
      calls.foreach { case (called, returned) =>
        val mine = probes.filter { case (_, start) => start >= called && start <= returned }
        assert(mine.nonEmpty, "a phrase-fill query started no tagged probe job")
        mine.foreach { case (id, _) =>
          assert(jobs.ended.containsKey(id), s"probe job $id never ended")
          assert(jobs.ended.get(id) <= returned,
            s"probe job $id ended after handleQuery returned")
        }
      }
      assert(probes.forall { case (_, start) => calls.exists { case (c, r) =>
        start >= c && start <= r } }, "a probe job started outside its query")

      // later jobs on the pool that ran the probes carry no probe tag
      val sc = spark.sparkContext
      val ec = scala.concurrent.ExecutionContext.global
      val later = (1 to 8).map(i => scala.concurrent.Future {
        sc.setLocalProperty(Marker, s"pool-$i")
        try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Marker, null)
      }(ec))
      later.foreach(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration(2, "min")))
      drain(jobs, "after-pool")
      val pooled = jobs.started.values.asScala.filter(_._3.startsWith("pool-")).toSeq
      assert(pooled.length == 8)
      pooled.foreach(j => assert(!j._2.contains(TieredQuery.ProbeTagPrefix),
        s"pooled job inherited a probe tag: ${j._2}"))
    } finally spark.sparkContext.removeSparkListener(jobs)
  }
}
