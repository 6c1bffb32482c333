package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the tracer and what the
  * workload reports.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val nproc: Int,
    val dir: String, val seed: Long, val seconds: Double, val injectFailure: Boolean) {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Sizes and sample counts, printed beside the result. */
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  private var heapPeak = 0.0

  def traced: Boolean = tracer.enabled

  /** Runs `op` as one attempted operation; an exception counts as failed. */
  def attempt[T](op: => T): Option[T] = {
    attempted += 1
    try Some(op)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] operation failed: $e")
        None
    }
  }

  /** Heap still live after a full collection, summed over the heap pools'
    * collection usage; the run reports the largest such reading (taken
    * after the set-up and after the window).
    */
  def heapCheckpoint(): Unit = {
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    val live = pools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    heapPeak = math.max(heapPeak, live / 1048576.0)
  }

  def heapPeakMb: Double = heapPeak

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Stats {
  /** Linear-interpolated quantile (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Entry point: `perfbench.Main --workload <search|ingest> --seed <n>
  * --seconds <s> --trace <0|1> --dir <run dir> --nproc <n>
  * [--inject-failure]`. Prints an info line and, last, the result line.
  */
object Main {

  private def session(nproc: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      // small inputs, CPU-bound work: 1 MB splits keep every core busy
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (2 * 1024 * 1024).toString)
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = opts("dir")
    val nproc = opts("nproc").toInt
    val spark = session(nproc, dir)
    val tracer = new Tracer(spark.sparkContext, trace)
    val c = new Ctx(spark, tracer, nproc, dir, seed, opts("seconds").toDouble,
      injectFailure = args.contains("--inject-failure"))
    val sparkVersion = spark.version
    workload match {
      case "search" => Search.run(c)
      case "ingest" => Ingest.run(c)
      case other => sys.error(s"unknown workload $other")
    }
    spark.stop() // drains the listener bus before the trace is reduced
    if (trace) Layers.reduce(c)
    val metrics = if (trace) c.perLayer else c.endToEnd
    val rt = ManagementFactory.getRuntimeMXBean
    val xmx = rt.getInputArguments.asScala.filter(_.startsWith("-Xmx")).lastOption.getOrElse("")
    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "nproc" -> nproc,
      "driver_xmx" -> xmx, "jdk" -> System.getProperty("java.runtime.version"),
      "spark" -> sparkVersion) ++ c.info
    println("PERFBENCH_INFO " + json(info))
    println("PERFBENCH_RESULT " + json(Map(
      "correct" -> (c.failed == 0),
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> mutable.LinkedHashMap[String, Any]("value" -> v, "unit" -> u) })))
  }
}
