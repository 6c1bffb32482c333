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
      Option(s.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => counts.merge(g, 1, (a: Integer, b: Integer) => a + b))
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
  protected def jobsOf(body: => Unit): Int = {
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
    Option(jobListener.counts.get(tag)).fold(0)(_.intValue)
  }
}
