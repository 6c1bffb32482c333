package perfbench

import scala.collection.mutable

import Program.{Answer, Engine, Query}

/** One timed query: what ran, how long it took, and its answer (None if
  * it threw). `spanId` is the query's span in a traced run, 0 otherwise.
  */
final case class QueryOp(q: Query, band: String, seconds: Double,
    answer: Option[Answer], spanId: Int, generations: Int)

/** An index build the run made: the call's wall time and span, and each
  * stage's `_manifest.json` fields, read right after the build (a merge
  * may collect the generation before the run ends).
  */
final case class BuildRec(seconds: Double, spanId: Int, stages: Map[String, Map[String, Double]])

object BuildRec {
  def of(root: String, seconds: Double, spanId: Int): BuildRec =
    BuildRec(seconds, spanId, Program.stageDirs(root).map { case (n, d) => n -> Program.manifest(d) }.toMap)
}

object Queries {

  /** Runs one query in the closed loop: the df band is read first through
    * lookupTerms (outside the latency), then the call and the final
    * action are timed together.
    */
  def run(c: Ctx, eng: Engine, q: Query, nDocs: Long): QueryOp = {
    val band =
      if (!Inputs.TermKinds(q.kind)) "none"
      else Inputs.bandOf(c.tracer.span("query.lookup")(eng.lookupDf(q.text)), nDocs)
    val t0 = System.nanoTime()
    val ans = c.attempt(c.tracer.span(s"query.${q.kind}") {
      val df = c.tracer.span("query.plan")(eng.plan(q))
      c.tracer.span("query.collect")(eng.collect(q, df))
    })
    val dt = (System.nanoTime() - t0) / 1e9
    val op = QueryOp(q, band, dt, ans, if (c.traced) c.tracer.lastId else 0, eng.generations)
    Layers.queries += op
    op
  }

  /** Mean latency of the timed queries. The stream mixes kinds whose
    * latencies sit apart (suggest near 0.15 s, handleQuery near 1.5 s),
    * so its median falls in a sparse gap between them and jumps from
    * run to run; the mean does not. With one client in a closed loop the
    * mean is also the inverse of throughput. The median and the 90th
    * percentile are reported per layer; the latencies themselves go into
    * the info line.
    */
  def reportLatency(c: Ctx, ops: Seq[QueryOp]): Unit = {
    val lat = ops.map(_.seconds)
    c.endToEnd("query_mean_s") = (Stats.mean(lat), "s")
    c.info("queries") = ops.size
    c.info("query_s") = lat
  }
}

object Setup {
  /** The workload's set-up, repeated [[Search.Setups]] times: `setup_s`
    * is the median. Only the last engine is kept, so earlier ones do not
    * weigh on the heap during the window. Returns the engine and the
    * seconds of each set-up.
    */
  def measure[E](c: Ctx, span: String)(open: => E): (E, Seq[Double]) = {
    var last: Option[E] = None
    val times = (1 to Search.Setups).map { _ =>
      last = None
      val (e, s) = c.timed(c.tracer.span(span)(open))
      last = Some(e)
      s
    }
    c.endToEnd("setup_s") = (Stats.median(times), "s")
    c.info("setup_s") = times
    c.heapCheckpoint()
    (last.get, times)
  }
}

/** `search`: a warm single index in its deployment configuration
  * (dictionary in the driver, postings read from Parquet on every
  * query) under a seeded mixed stream of seven query kinds, one client.
  */
object Search {
  val NConvs = 150
  val Setups = 3

  def run(c: Ctx): Unit = {
    val turns = Program.turns(0, NConvs, c.seed)
    val turnsPath = s"${c.dir}/search/turns"
    val root = s"${c.dir}/search/index"
    Program.stage(c.spark, turns, turnsPath, c.nproc)

    val (_, buildS) = c.timed(c.tracer.span("index.build")(
      Program.build(c.spark, turnsPath, root, c.nproc)))
    Layers.builds += BuildRec.of(root, buildS, c.tracer.lastId)
    val textBytes = turns.map(_.text.getBytes("UTF-8").length.toLong).sum
    val servingBytes = Program.servingDirs(root).map(Program.parquetBytes).sum
    c.endToEnd("index_turns_per_s") = (turns.size / buildS, "turns/s")
    c.endToEnd("index_bytes_per_text_byte") = (servingBytes.toDouble / textBytes, "B/B")

    val (eng, openS) = Setup.measure(c, "query.open")(Program.openSingle(c.spark, root))

    val expected = new Program.Expected(turns)
    val bands = Inputs.bands(turns)
    val stream = Inputs.stream(bands, c.seed, 7 * 3 * 4 * 10)
    c.info ++= Seq("corpus_hash" -> Inputs.corpusHash(turns),
      "stream_hash" -> Inputs.streamHash(stream), "turns" -> turns.size,
      "text_bytes" -> textBytes, "serving_bytes" -> servingBytes,
      "postings_bytes" -> Program.parquetBytes(Program.postingsDir(root)),
      "dictionary_terms" -> Program.manifest(Program.stageDirs(root).toMap.apply("dictionary"))
        .getOrElse("rows", 0.0).toLong,
      "build_s" -> buildS)

    // one untimed pass over the seven kinds pays their first-use cost
    // (JIT, code generation); its first answer closes the freshness span
    val pass = Program.Kinds.size
    val warm = stream.take(pass).map(Queries.run(c, eng, _, bands.nDocs))

    // the timed window: closed loop, one client, whole cycles of 21
    // queries (each holds every kind and df band pair once), at least one,
    // so every run times the same mix
    val cycle = pass * Inputs.BandNames.size
    val ops = mutable.ArrayBuffer.empty[QueryOp]
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var i = pass
    while (i < stream.size &&
        (i < pass + cycle || (i - pass) % cycle != 0 || System.nanoTime() < deadline)) {
      ops += Queries.run(c, eng, stream(i), bands.nDocs)
      i += 1
    }
    c.heapCheckpoint()
    Queries.reportLatency(c, ops.toSeq)
    // a fresh deployment: build, open, first answer
    c.endToEnd("freshness_p50_s") = (buildS + openS.head + warm.head.seconds, "s")
    c.endToEnd("live_heap_peak_mb") = (c.heapPeakMb, "MB")
    Layers.timed ++= ops

    // correctness, outside the window: every answer against the oracle
    (warm ++ ops).zipWithIndex.foreach { case (op, j) =>
      val got = if (c.injectFailure && j == 0) op.answer.map(_ :+ "injected") else op.answer
      got.foreach { a =>
        if (a != expected.answer(op.q)) {
          c.failed += 1
          System.err.println(s"[perfbench] mismatch: ${op.q}")
        }
      }
    }
    Layers.corpusTexts = turns.map(_.text)
    if (c.traced) Ops.run(c, turns.map(_.text))
  }
}
