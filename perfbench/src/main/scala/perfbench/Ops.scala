package perfbench

import scala.collection.mutable
import scala.util.Random

/** The `ops/` layer (Dedup, TextOps, Pipeline, Similarity), timed in a
  * traced `search` run after the window, over the run's own turns as a
  * `documents(doc_id, text)` table (turn index as doc_id) with the first
  * [[Planted]] documents copied under new ids, and seeded embeddings.
  * Each call runs [[Reps]] times; its per-layer time is the median.
  * Every answer is checked against a driver-side computation.
  */
object Ops {
  val Reps = 3
  val Planted = 50
  val PlantedOffset = 1000000L
  val Dim = 32
  val PackBudget = 256
  val K = 10

  /** Seconds of each call, by per-layer metric name. */
  val seconds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Span ids of every call, for the jobs and shuffle bytes behind them. */
  val spanIds = mutable.ArrayBuffer.empty[Int]

  private def splitTokens(text: String): Array[String] = text.split(" ", -1)

  def run(c: Ctx, texts: Seq[String]): Unit = {
    val base = texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
    val docs = base ++ base.take(Planted).map { case (id, t) => (id + PlantedOffset, t) }
    val rnd = new Random(c.seed ^ 0x2545f491L)
    val vecs = base.map { case (id, _) => (id, Array.fill(Dim)(rnd.nextGaussian().toFloat)) }
    val docsPath = s"${c.dir}/ops/documents"
    val embPath = s"${c.dir}/ops/embeddings"
    Program.stageDocs(c.spark, docs, docsPath, c.nproc)
    Program.stageEmbeddings(c.spark, vecs, embPath, c.nproc)

    def call[T](metric: String)(op: => T)(ok: T => Boolean): Unit =
      (1 to Reps).foreach { _ =>
        val (r, s) = c.timed(c.attempt(c.tracer.span(metric)(op)))
        spanIds += c.tracer.lastId
        seconds.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += s
        if (r.exists(x => !ok(x))) {
          c.failed += 1
          System.err.println(s"[perfbench] wrong answer: $metric")
        }
      }

    val firstWithText = mutable.HashMap.empty[String, Long]
    docs.foreach { case (id, t) => firstWithText(t) = math.min(id, firstWithText.getOrElse(t, id)) }
    val isDup = docs.map { case (id, t) => id -> (firstWithText(t) != id) }.toMap
    call("ops.exact_dedup_s")(Program.exactDedup(c.spark, docsPath))(_ == isDup)

    val plantedPairs = base.take(Planted).collect {
      case (id, t) if splitTokens(t).length >= 3 => (id, id + PlantedOffset)
    }
    call("ops.minhash_lsh_s")(Program.minHashPairs(c.spark, docsPath))(
      pairs => plantedPairs.forall(pairs))

    val nTokens = docs.map { case (id, t) => id -> splitTokens(t).count(_.nonEmpty).toLong }
      .filter(_._2 > 0).toMap
    call("ops.token_stats_s")(Program.tokenStats(c.spark, docsPath))(_ == nTokens)

    val packed = {
      var cum = 0L
      docs.sortBy(_._1).map { case (id, t) =>
        val n = splitTokens(t).length
        val r = id -> ((n, cum / PackBudget, cum % PackBudget))
        cum += n
        r
      }.toMap
    }
    call("ops.pack_sequences_s")(Program.packSequences(c.spark, docsPath, PackBudget))(_ == packed)

    // cosines agree to the 4 places the call rounds to; ties at the
    // cut may order either way, so the k-th score is compared, not ids
    val (qId, q) = vecs.head
    def cos(v: Array[Float]): Double = {
      val dot = v.indices.map(i => v(i).toDouble * q(i)).sum
      dot / math.sqrt(v.map(x => x.toDouble * x).sum * q.map(x => x.toDouble * x).sum)
    }
    val exact = vecs.tail.map { case (id, v) => id -> cos(v) }.toMap
    val kth = exact.values.toVector.sorted.reverse(K - 1)
    call("ops.cosine_topk_s")(Program.cosineTopK(c.spark, embPath, q, qId, K)) { got =>
      got.size == K && got.map(_._2) == got.map(_._2).sorted.reverse &&
        got.forall { case (id, s) => exact.get(id).exists(e => math.abs(e - s) <= 1e-3) } &&
        got.last._2 >= kth - 1e-3
    }
  }
}
