package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, reduced from the spans, the
  * recorder's jobs and task metrics, and the build manifests once the
  * session has stopped. Every metric is reported on every workload; a
  * layer the workload does not call reads 0.
  */
object Layers {
  val builds = mutable.ArrayBuffer.empty[BuildRec]
  /** Every query the run made (timed window and checks). */
  val queries = mutable.ArrayBuffer.empty[QueryOp]
  /** The queries of the timed window. */
  val timed = mutable.ArrayBuffer.empty[QueryOp]
  var corpusTexts: Seq[String] = Nil

  private val Stages = Seq("docs", "segments", "postings", "dict_by_len", "dictionary", "fuzzy")

  def reduce(c: Ctx): Unit = {
    val t = c.tracer
    val spans = t.spans.map(s => s.id -> s).toMap
    val out = c.perLayer
    def put(name: String, v: Double, unit: String): Unit = out(name) = (v, unit)

    put("core.tokenize_ns_per_token", tokenizeNsPerToken(), "ns")

    // index: medians over the run's builds
    val perBuild = builds.toSeq.map { b =>
      val stages = b.stages
      val wall = Stages.map(s => stages(s).getOrElse("wall_ms", 0.0) / 1000.0)
      val span = spans.get(b.spanId)
      val st = span.toSeq.flatMap(t.stagesOf)
      val runMs = st.map(_.runMs).sum.toDouble
      Map(
        "wall" -> wall,
        "gap" -> Seq(b.seconds - wall.sum),
        "busy" -> Seq(runMs / (b.seconds * 1000.0 * c.nproc)),
        "gc" -> Seq(if (runMs > 0) st.map(_.gcMs).sum / runMs else 0.0),
        "shuffle" -> Seq(st.map(_.shuffleWriteBytes).sum.toDouble),
        "spill" -> Seq(st.map(_.spillBytes).sum.toDouble),
        "jobs" -> Seq(span.map(s => t.jobsOf(s).size.toDouble).getOrElse(0.0)),
        "counts" -> Seq(stages("segments").getOrElse("rows", 0.0),
          stages("postings").getOrElse("bytes", 0.0),
          stages("dictionary").getOrElse("rows", 0.0),
          stages("segments").getOrElse("salted_terms", 0.0)))
    }
    def med(key: String, i: Int): Double = Stats.median(perBuild.map(_(key)(i)))
    Stages.zipWithIndex.foreach { case (s, i) => put(s"index.${s}_s", med("wall", i), "s") }
    put("index.driver_gap_s", med("gap", 0), "s")
    put("index.task_busy_frac", med("busy", 0), "frac")
    put("index.gc_frac", med("gc", 0), "frac")
    put("index.shuffle_write_bytes", med("shuffle", 0), "B")
    put("index.spill_bytes", med("spill", 0), "B")
    put("index.jobs", med("jobs", 0), "count")
    put("index.segments_rows", med("counts", 0), "count")
    put("index.postings_bytes", med("counts", 1), "B")
    put("index.dictionary_rows", med("counts", 2), "count")
    put("index.salted_terms", med("counts", 3), "count")

    // query: latency by kind and df band over every query; phases, jobs
    // and reads over the recorded ones
    Program.Kinds.foreach { k =>
      put(s"query.${k}_p50_s", Stats.median(queries.filter(_.q.kind == k).map(_.seconds).toSeq), "s")
    }
    put("query.p50_s", Stats.median(timed.map(_.seconds).toSeq), "s")
    put("query.p90_s", Stats.quantile(timed.map(_.seconds).toSeq, 0.9), "s")
    Inputs.BandNames.foreach { b =>
      put(s"query.df_band_p50_s.$b", Stats.median(queries.filter(_.band == b).map(_.seconds).toSeq), "s")
    }
    def spanSeconds(name: String) = t.spans.filter(_.name == name).map(_.seconds)
    put("query.lookup_s", Stats.median(spanSeconds("query.lookup")), "s")
    put("query.plan_s", Stats.median(spanSeconds("query.plan")), "s")
    put("query.collect_s", Stats.median(spanSeconds("query.collect")), "s")
    val recorded = queries.toSeq.flatMap(op => spans.get(op.spanId).map(op -> _))
    val jobs = recorded.map { case (_, s) => t.jobsOf(s).size.toDouble }
    val stagesPer = recorded.map { case (_, s) => t.stagesOf(s) }
    put("query.jobs_per_query", Stats.mean(jobs), "count")
    put("query.tasks_per_query", Stats.mean(stagesPer.map(_.map(_.tasks).sum.toDouble)), "count")
    put("query.idle_s", Stats.median(recorded.map { case (_, s) => t.idleSeconds(s) }), "s")
    val queryWall = recorded.map(_._2.seconds).sum
    put("query.task_busy_frac",
      if (queryWall == 0) 0.0 else stagesPer.map(_.map(_.runMs).sum).sum / (queryWall * 1000.0 * c.nproc),
      "frac")
    put("query.bytes_read_per_query", Stats.mean(stagesPer.map(_.map(_.bytesRead).sum.toDouble)), "B")
    val results = recorded.map(_._1.answer.map(_.size).getOrElse(0)).sum
    put("query.rows_read_per_result",
      stagesPer.map(_.map(_.recordsRead).sum).sum.toDouble / math.max(1, results), "ratio")

    // gen: the ingest rounds (0 on a workload without generations)
    val rounds = Ingest.rounds.toSeq
    put("gen.append_s", Stats.median(Ingest.appends.toSeq), "s")
    put("gen.upsert_s", Stats.median(rounds.map(_.upsert)), "s")
    put("gen.delete_s", Stats.median(rounds.map(_.delete)), "s")
    put("gen.merge_s", Stats.median(rounds.flatMap(_.merge)), "s")
    put("gen.gc_s", Stats.median(rounds.flatMap(_.gc)), "s")
    put("gen.open_s", Stats.median(rounds.map(_.open)), "s")
    put("gen.jobs_per_append",
      Stats.mean(t.spans.filter(_.name == "gen.append").map(s => t.jobsOf(s).size.toDouble)), "count")
    put("gen.write_amp",
      if (Ingest.textBytesIngested == 0) 0.0 else Ingest.bytesWritten.toDouble / Ingest.textBytesIngested,
      "ratio")
    put("gen.generations_mean", Stats.mean(Ingest.burstGenerations.map(_.toDouble).toSeq), "count")
    val timedRecorded = timed.toSeq.flatMap(op => spans.get(op.spanId))
    put("gen.jobs_per_query",
      if (rounds.isEmpty) 0.0 else Stats.mean(timedRecorded.map(s => t.jobsOf(s).size.toDouble)),
      "count")

    // ops: the traced search run's pass over the ops functions
    Seq("exact_dedup", "minhash_lsh", "token_stats", "pack_sequences", "cosine_topk").foreach { n =>
      put(s"ops.${n}_s", Stats.median(Ops.seconds.getOrElse(s"ops.${n}_s", Nil).toSeq), "s")
    }
    val opsSpans = Ops.spanIds.toSeq.flatMap(spans.get)
    put("ops.jobs", opsSpans.map(s => t.jobsOf(s).size).sum.toDouble, "count")
    put("ops.shuffle_write_bytes",
      opsSpans.flatMap(t.stagesOf).map(_.shuffleWriteBytes).sum.toDouble, "B")

    // tracing overhead: the time the tracer's own code took, and this
    // traced run's mean query latency, computed as the untraced run
    // computes `query_mean_s` (the same seed's untraced run is the
    // baseline to subtract)
    put("trace.self_s", t.ownSeconds, "s")
    put("trace.query_mean_s", Stats.mean(timed.map(_.seconds).toSeq), "s")
    c.info("trace_spans_file") = writeSpans(c)
  }

  /** Tokenizer alone, one thread, over the workload's own text: the
    * median of four passes after a warm-up pass.
    */
  private def tokenizeNsPerToken(): Double = {
    val passes = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      val n = corpusTexts.iterator.map(Program.tokenizeCount).sum
      (System.nanoTime() - t0).toDouble / math.max(1, n)
    }
    Stats.median(passes.drop(1))
  }

  /** Writes the spans, with self time and attributed jobs, as JSON lines
    * under the run directory's parent; returns the file.
    */
  private def writeSpans(c: Ctx): String = {
    val t = c.tracer
    val f = new java.io.File(new java.io.File(c.dir).getParentFile, "traces/" +
      s"${new java.io.File(c.dir).getName}.jsonl")
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try t.spans.foreach { s =>
      val st = t.stagesOf(s)
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs},""" +
        f""""dur_s":${s.seconds}%.6f,"self_s":${t.selfSeconds(s)}%.6f,"jobs":${t.jobsOf(s).size},""" +
        f""""tasks":${st.map(_.tasks).sum},"idle_s":${t.idleSeconds(s)}%.6f}""")
    } finally w.close()
    f.getPath
  }
}
