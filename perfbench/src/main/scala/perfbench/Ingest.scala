package perfbench

import scala.collection.mutable
import scala.util.Random

import Program.{Engine, Turn}

/** `ingest`: the builder and the reader used as a hot-append LSM over a
  * generations root, one client. A base batch is appended as the first
  * generation. Each round then writes one upsert batch (new
  * conversations plus corrected turns of live ones), tombstones a seeded
  * id set, reopens the engine and serves a short bm25TopK/handleQuery
  * burst over the generations, then merges the two smallest generations
  * and collects the replaced one.
  */
object Ingest {
  val BaseConvs = 60
  val BatchConvs = 25
  val UpsertTurns = 30
  val DeleteIds = 30
  val BurstQueries = 8
  /** Kinds asked before and after each merge: the two burst kinds and
    * the positional path.
    */
  private val CheckKinds = Set("bm25TopK", "handleQuery", "phraseMatch")

  /** Wall seconds of one round's calls, by call. */
  final case class Round(upsert: Double, delete: Double, open: Double,
      firstQuery: Double, merge: Option[Double], gc: Option[Double], turns: Long) {
    def writes: Double = upsert + delete + merge.getOrElse(0.0) + gc.getOrElse(0.0)
    /** From the start of the upsert until the first query over the
      * reopened root returns, counting only calls into the program.
      */
    def freshness: Double = upsert + delete + open + firstQuery
  }

  val rounds = mutable.ArrayBuffer.empty[Round]
  /** Seconds of each `Generations.append` (the base batch). */
  val appends = mutable.ArrayBuffer.empty[Double]
  /** Bytes of the generations written by upserts and merges. */
  var bytesWritten = 0L
  var textBytesIngested = 0L
  val burstGenerations = mutable.ArrayBuffer.empty[Int]

  def run(c: Ctx): Unit = {
    val root = s"${c.dir}/ingest/root"
    val rnd = new Random(c.seed ^ 0x5bd1e995L)
    val baseTurns = Program.turns(0, BaseConvs, c.seed)
    val live = mutable.LinkedHashMap.empty[(String, Int), Turn]
    baseTurns.foreach(t => live((t.conv_id, t.turn_idx)) = t)
    var staged = 0
    def stage(ts: Seq[Turn]): String = {
      staged += 1
      val p = s"${c.dir}/ingest/in-$staged"
      Program.stage(c.spark, ts, p, c.nproc)
      p
    }

    val basePath = stage(baseTurns)
    val (baseGen, baseS) = c.timed(c.tracer.span("gen.append")(
      Program.append(c.spark, basePath, root, c.nproc)))
    Layers.builds += BuildRec.of(baseGen, baseS, c.tracer.lastId)
    appends += baseS

    Setup.measure(c, "gen.open")(Program.openMulti(c.spark, root))

    val bands = Inputs.bands(baseTurns)
    val burst = Inputs.stream(bands, c.seed, 7 * 3 * 4 * 10)
      .filter(q => q.kind == "bm25TopK" || q.kind == "handleQuery")
    val checks = Inputs.stream(bands, c.seed + 1, Program.Kinds.size)
      .filter(q => CheckKinds(q.kind))
    c.info ++= Seq("corpus_hash" -> Inputs.corpusHash(baseTurns),
      "stream_hash" -> Inputs.streamHash(burst), "base_turns" -> baseTurns.size)

    val ops = mutable.ArrayBuffer.empty[QueryOp]
    var nextConv = BaseConvs.toLong
    var q = 0
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var r = 0
    while (r == 0 || System.nanoTime() < deadline) {
      // 1. upsert: new conversations and corrected turns of live ones
      val fresh = Program.turns(nextConv, nextConv + BatchConvs, c.seed)
      nextConv += BatchConvs
      val keys = live.keys.toVector
      val donors = live.values.toVector
      val corrected = Seq.fill(UpsertTurns)(keys(rnd.nextInt(keys.size))).distinct.map { k =>
        Program.corrected(live(k), donors(rnd.nextInt(donors.size)).text)
      }
      val batch = fresh ++ corrected
      val upsertPath = stage(batch)
      val (upsertGen, upsertS) = c.timed(c.attempt(c.tracer.span("gen.upsert")(
        Program.upsert(c.spark, upsertPath, root, c.nproc))))
      upsertGen.foreach { g =>
        Layers.builds += BuildRec.of(g, upsertS, c.tracer.lastId)
        bytesWritten += Program.parquetBytes(g)
      }
      batch.foreach(t => live((t.conv_id, t.turn_idx)) = t)
      textBytesIngested += batch.map(_.text.getBytes("UTF-8").length.toLong).sum

      // 2. tombstone a seeded id set
      val total = Program.totalDocs(root)
      val ids = Seq.fill(DeleteIds)(1L + (rnd.nextDouble() * total).toLong).distinct
      val (_, deleteS) = c.timed(c.attempt(c.tracer.span("gen.delete")(
        Program.deleteDocs(c.spark, ids, root))))

      // 3. reopen, 4. burst over the generations
      val (eng, openS) = c.timed(c.tracer.span("gen.open")(Program.openMulti(c.spark, root)))
      val burstOps = (0 until BurstQueries).map { _ =>
        val op = Queries.run(c, eng, burst(q % burst.size), total)
        q += 1
        op
      }
      ops ++= burstOps
      burstGenerations ++= burstOps.map(_.generations)
      // the serving state: read while the engine is certainly still in use
      c.heapCheckpoint()

      // 5. merge the two smallest generations; answers must not move
      val (merge, gc) =
        if (Program.liveGenerations(root).size < 2) (None, None)
        else {
          val b = answers(c, eng, checks, total)
          // the self-test's injected failure: a corrupted pre-merge answer
          val before = if (c.injectFailure && r == 0) b.updated(0, b(0).map(_ :+ "injected")) else b
          val (mergeGen, mergeS) = c.timed(c.attempt(c.tracer.span("gen.merge")(
            Program.mergeSmallest(c.spark, root, c.nproc))))
          mergeGen.foreach(g => bytesWritten += Program.parquetBytes(g))
          val (_, gcS) = c.timed(c.attempt(c.tracer.span("gen.gc")(Program.gcReplaced(root))))
          before.zip(answers(c, Program.openMulti(c.spark, root), checks, total)).foreach {
            case (x, y) =>
              c.attempted += 1
              if (x.isEmpty || y.isEmpty || x != y) {
                c.failed += 1
                System.err.println("[perfbench] answers changed across mergeSmallest")
              }
          }
          (Some(mergeS), Some(gcS))
        }
      rounds += Round(upsertS, deleteS, openS, burstOps.head.seconds, merge, gc, batch.size)
      r += 1
    }

    val writeS = rounds.map(_.writes).sum
    c.endToEnd("index_turns_per_s") = (rounds.map(_.turns).sum / writeS, "turns/s")
    val liveTurns = live.values.toVector
    val liveText = liveTurns.map(_.text.getBytes("UTF-8").length.toLong).sum
    val servingBytes = Program.liveGenerations(root)
      .flatMap(Program.servingDirs).map(Program.parquetBytes).sum
    c.endToEnd("index_bytes_per_text_byte") = (servingBytes.toDouble / liveText, "B/B")
    Queries.reportLatency(c, ops.toSeq)
    c.endToEnd("freshness_p50_s") = (Stats.median(rounds.map(_.freshness).toSeq), "s")
    c.endToEnd("live_heap_peak_mb") = (c.heapPeakMb, "MB")
    Layers.timed ++= ops
    Layers.corpusTexts = baseTurns.map(_.text)
    c.info ++= Seq("rounds" -> rounds.size, "live_turns" -> liveTurns.size,
      "text_bytes" -> liveText, "serving_bytes" -> servingBytes,
      "generations" -> Program.liveGenerations(root).size,
      "base_build_s" -> baseS)
  }

  private def answers(c: Ctx, eng: Engine, qs: Seq[Program.Query],
      nDocs: Long): Seq[Option[Program.Answer]] =
    qs.map(q => Queries.run(c, eng, q, nDocs).answer)
}
