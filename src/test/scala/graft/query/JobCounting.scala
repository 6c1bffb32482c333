package graft.query

import graft.SparkSpecBase

/** Counts the Spark jobs a block starts on the calling thread: the block
  * runs under a fresh job group and a listener counts job starts per
  * group.
  */
trait JobCounting extends SparkSpecBase {

  private final class JobsByGroup extends org.apache.spark.scheduler.SparkListener {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]
    override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
      Option(s.properties).foreach { p =>
        Option(p.getProperty("spark.jobGroup.id")).foreach { g =>
          counts.merge(g, 1, (a: Integer, b: Integer) => a + b)
          counts.merge(s"$g/${p.getProperty("spark.job.description")}", 1,
            (a: Integer, b: Integer) => a + b)
        }
      }
  }

  private lazy val jobListener = {
    val l = new JobsByGroup
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    super.afterAll()
  }

  /** Spark jobs `body` starts on this thread. The listener bus delivers
    * in order, so once a sentinel job run afterwards is seen, every job
    * of `body` has been counted.
    */
  protected def jobsOf(body: => Unit): Int = countJobs(body)(None)

  /** (all, described): the Spark jobs `body` starts on this thread (and
    * the threads it starts), and those of them described `description`.
    */
  protected def describedJobsOf(description: String)(body: => Unit): (Int, Int) = {
    val n = countJobs(body)
    (n(None), n(Some(description)))
  }

  private def countJobs(body: => Unit): Option[String] => Int = {
    val sc = spark.sparkContext
    val tag = s"jobs-${java.util.UUID.randomUUID()}"
    jobListener
    sc.setJobGroup(tag, tag)
    try body finally sc.clearJobGroup()
    val sentinel = s"$tag-sentinel"
    sc.setJobGroup(sentinel, sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!jobListener.counts.containsKey(sentinel) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(jobListener.counts.containsKey(sentinel), "listener never saw the sentinel job")
    d => Option(jobListener.counts.get(d.fold(tag)(x => s"$tag/$x"))).fold(0)(_.intValue)
  }
}
