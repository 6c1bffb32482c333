package graft.index

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkSpecBase
import graft.corpus.Transcripts

/** Observed row counts survive task retries. A build runs in its own JVM
  * under `local[4,2]` (two attempts per task) with a lemma map whose
  * lookups fail partway through partition 0's first attempt of every
  * tokenizing stage — the docs write among them — so a task dies after
  * part of its rows passed the write's observation, and its retry
  * writes them again. The failed attempt's partial counts must not
  * reach any manifest or the meta: every `_manifest.json` `rows` equals
  * a fresh count of its directory, and the meta, dictionary and postings
  * equal a clean build of the same input.
  */
class WriteRetrySpec extends SparkSpecBase {

  /** Runs [[RetryBuildMain]] in a child JVM; returns its stdout. */
  private def runChild(flakyRoot: String, cleanRoot: String): String = {
    val log = Files.createTempFile("graft-retry", ".log")
    val jvmArgs = {
      val in = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toVector
      in.indices.flatMap { i =>
        if (in(i) == "--add-opens" && i + 1 < in.size) Seq(in(i), in(i + 1))
        else if (in(i).startsWith("--add-opens=")) Seq(in(i))
        else Nil
      }
    }
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java", "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"),
        RetryBuildMain.getClass.getName.stripSuffix("$"), flakyRoot, cleanRoot)
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log.toFile).start()
    val done = p.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) p.destroyForcibly()
    val out = new String(Files.readAllBytes(log), "UTF-8")
    Files.deleteIfExists(log)
    assert(done && p.exitValue() == 0,
      s"retry build failed:\n${out.linesIterator.toSeq.takeRight(40).mkString("\n")}")
    out
  }

  private def manifestDirs(root: String): Seq[String] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(_.getFileName.toString == "_manifest.json")
      .map(_.getParent.toString).toSeq.sorted

  private def rowsOf(dir: String): Long =
    "\"rows\":(\\d+)".r.findFirstMatchIn(
      new String(Files.readAllBytes(Paths.get(dir, "_manifest.json")), "UTF-8"))
      .map(_.group(1).toLong).getOrElse(fail(s"$dir manifest records no rows"))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("observed counts under task retries equal fresh counts and a clean build") {
    val flaky = tmpDir("graft-retry-flaky")
    val clean = tmpDir("graft-retry-clean")
    val out = runChild(flaky, clean)
    val failed = "FAILED_TASK_ATTEMPTS=(\\d+)".r.findFirstMatchIn(out)
      .map(_.group(1).toInt).getOrElse(fail(s"no attempt count in:\n$out"))
    assert(failed > 0, "no task attempt failed: the retry path was not exercised")

    val dirs = manifestDirs(flaky)
    assert(dirs.map(d => Paths.get(flaky).relativize(Paths.get(d)).toString).toSet
      .subsetOf(manifestDirs(clean).map(d =>
        Paths.get(clean).relativize(Paths.get(d)).toString).toSet))
    Seq("docs", "segments", "dictionary", "postings").foreach(t =>
      assert(dirs.contains(s"$flaky/$t"), s"no $t manifest"))
    dirs.foreach { d =>
      val fresh = spark.read.option("recursiveFileLookup", "true").parquet(d).count()
      assert(rowsOf(d) == fresh, s"$d: manifest rows ${rowsOf(d)}, table holds $fresh")
    }

    val (fm, cm) = (IndexBuilder.readMeta(flaky), IndexBuilder.readMeta(clean))
    assert(fm.n_docs == cm.n_docs && fm.n_terms == cm.n_terms &&
      fm.n_postings == cm.n_postings)
    assert(java.lang.Double.doubleToRawLongBits(fm.avgdl) ==
      java.lang.Double.doubleToRawLongBits(cm.avgdl))
    Seq(IndexPaths(_: String).dictionary, IndexPaths(_: String).postings).foreach { t =>
      def table(r: String) = spark.read.option("recursiveFileLookup", "true").parquet(t(r))
      assert(sameRows(table(flaky), table(clean)), s"${t(flaky)} differs from the clean build")
    }
  }
}

/** Lemma map whose lookups throw partway through the first attempt of
  * partition 0 of any task: after [[FailOnceLemmas.Lookups]] lookups in
  * that attempt, so the attempt has already emitted rows.
  */
final class FailOnceLemmas(underlying: Map[String, String])
    extends scala.collection.immutable.AbstractMap[String, String] with Serializable {
  def get(key: String): Option[String] = {
    val tc = TaskContext.get()
    if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0 &&
        FailOnceLemmas.seen(tc.taskAttemptId()) == FailOnceLemmas.Lookups)
      throw new IllegalStateException("injected first-attempt failure")
    underlying.get(key)
  }
  def iterator: Iterator[(String, String)] = underlying.iterator
  def removed(key: String): Map[String, String] = underlying.removed(key)
  def updated[V1 >: String](key: String, value: V1): Map[String, V1] =
    underlying.updated(key, value)
}

object FailOnceLemmas {
  val Lookups = 500
  private val counts = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Integer]
  /** Lookups so far in task attempt `id`, this one included. */
  def seen(id: Long): Int = counts.merge(id, 1, (a: Integer, b: Integer) => a + b)
}

/** Builds the spec corpus twice under `local[4,2]`: at args(0) with
  * [[FailOnceLemmas]], at args(1) with the plain lemma map. Prints the
  * number of failed task attempts.
  */
object RetryBuildMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4,2]")
      .appName("graft-retry")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failedAttempts = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskInfo.failed) { failedAttempts.incrementAndGet(); () }
    })
    import spark.implicits._
    val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
    val turns = spark.createDataset(Transcripts.generateLocal(40L))
    new IndexBuilder(spark, new FailOnceLemmas(Transcripts.lemmas), conf).build(turns, args(0))
    new IndexBuilder(spark, Transcripts.lemmas, conf).build(turns, args(1))
    // the listener bus is asynchronous; the injected failures happened
    // in the first build, long before the clean one ended
    Thread.sleep(500)
    println(s"FAILED_TASK_ATTEMPTS=${failedAttempts.get}")
    spark.stop()
  }
}
