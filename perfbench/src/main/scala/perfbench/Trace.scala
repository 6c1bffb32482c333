package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call the harness made into a layer (or a phase of one): a span
  * with wall-clock bounds (for alignment with Spark's event times) and a
  * nanosecond duration.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    durNs: Long) {
  def endMs: Long = startMs + durNs / 1000000L
  def seconds: Double = durNs / 1e9
}

/** Task metrics summed over one stage. */
final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var recordsRead = 0L
}

final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long,
    stageIds: Seq[Int])

/** The benchmark's own Spark listener: jobs with the job group they ran
  * under, and task metrics summed per stage. Events arrive on Spark's
  * listener thread; everything is read after the session has stopped,
  * which drains the bus.
  */
final class Recorder extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  /** Nanoseconds spent in the callbacks below. */
  var selfNs = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    selfNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
      a.recordsRead += m.inputMetrics.recordsRead
    }
  }
}

/** Spans around the harness's calls into the program, kept in memory
  * and reduced when the run ends. A top-level span runs its call under a
  * job group of its own, so the recorder can attribute the Spark jobs
  * behind the call to it; jobs started from the program's own threads
  * carry no (or a stale) group and are attributed by time instead, which
  * is exact because the harness is a single client thread.
  *
  * With `enabled = false` no listener is registered and `span` only runs
  * its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val recorder = new Recorder
  if (enabled) sc.addSparkListener(recorder)

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Long, Long)]
  private var nextId = 1

  /** Id of the span closed last (0 before any). */
  var lastId: Int = 0
  /** Nanoseconds spent opening and closing spans. */
  private var spanNs = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val in0 = System.nanoTime()
      val id = nextId
      nextId += 1
      val parent = if (open.isEmpty) 0 else open.top._1
      if (parent == 0) sc.setJobGroup(groupOf(id), name)
      open.push((id, name, System.currentTimeMillis(), System.nanoTime()))
      spanNs += System.nanoTime() - in0
      try body
      finally {
        val (_, _, startMs, t0) = open.pop()
        val out0 = System.nanoTime()
        done += Span(id, parent, name, startMs, out0 - t0)
        lastId = id
        if (parent == 0) sc.clearJobGroup()
        spanNs += System.nanoTime() - out0
      }
    }

  /** Seconds the tracer's own code took: span bookkeeping on the client
    * thread plus the listener's callbacks on Spark's listener thread.
    */
  def ownSeconds: Double = (spanNs + recorder.synchronized(recorder.selfNs)) / 1e9

  private def groupOf(id: Int): String = s"perfbench-$id"

  def spans: Seq[Span] = done.toSeq

  private lazy val byId: Map[Int, Span] = done.map(s => s.id -> s).toMap

  private def topOf(s: Span): Span =
    if (s.parent == 0) s else topOf(byId(s.parent))

  private lazy val jobOwner: Map[Int, Int] = recorder.synchronized {
    val tops = done.filter(_.parent == 0).sortBy(_.startMs)
    val groups = tops.map(s => groupOf(s.id) -> s).toMap
    recorder.jobs.values.flatMap { j =>
      val byGroup = groups.get(j.group)
        .filter(s => j.startMs >= s.startMs && j.startMs <= s.endMs)
      val owner = byGroup.orElse(
        tops.find(s => j.startMs >= s.startMs && j.startMs <= s.endMs))
      owner.map(s => j.id -> s.id)
    }.toMap
  }

  /** Jobs attributed to `s`: its top-level span's jobs that started inside `s`. */
  def jobsOf(s: Span): Seq[JobRec] = recorder.synchronized {
    val top = topOf(s).id
    recorder.jobs.values.filter { j =>
      jobOwner.get(j.id).contains(top) && j.startMs >= s.startMs && j.startMs <= s.endMs
    }.toSeq
  }

  def stagesOf(s: Span): Seq[StageAgg] = recorder.synchronized {
    jobsOf(s).flatMap(_.stageIds).distinct.flatMap(recorder.stages.get)
  }

  /** Seconds of `s` during which none of its jobs was running. */
  def idleSeconds(s: Span): Double = {
    val iv = jobsOf(s).map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, s.seconds - covered / 1000.0)
  }

  /** Self time: the span's duration minus what its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - done.filter(_.parent == s.id).map(_.seconds).sum
}
