package graft

import graft.corpus.Transcripts

/** The spark-submit CLI surface: strict arg parsing (a typo'd option on
  * a cluster job must fail fast, not run for hours with defaults) and
  * each subcommand delegating to the same library calls the oracles pin
  * — an e2e thread through build -> query and append -> upsert ->
  * delete-where -> query -> compact -> query on a tiny corpus.
  */
class IndexCliSpec extends SparkSpecBase {
  import IndexCli.parseArgs

  test("parseArgs: options, flags, strictness") {
    val a = parseArgs(
      Seq("build", "--in", "/x", "--out", "/y", "--bigrams", "--num-parts", "8"),
      flagNames = Set("bigrams"))
    assert(a.cmd == "build")
    assert(a.opts == Map("in" -> "/x", "out" -> "/y", "num-parts" -> "8"))
    assert(a.flags == Set("bigrams"))
    // trailing flag
    assert(parseArgs(Seq("build", "--bigrams"), Set("bigrams")).flags == Set("bigrams"))
    // malformed: bare token, missing value, unknown subcommand at run time
    intercept[IllegalArgumentException](parseArgs(Seq("build", "oops"), Set.empty))
    intercept[IllegalArgumentException](parseArgs(Seq("build", "--in"), Set.empty))
    intercept[IllegalArgumentException](parseArgs(Seq.empty, Set.empty))
    // the fail-fast allowlist: a typo'd option (--num-part) or one that
    // belongs to another subcommand (--out on append) must error at
    // launch, not silently run a cluster job with defaults
    val typo = intercept[IllegalArgumentException](IndexCli.run(spark,
      Seq("build", "--in", "/x", "--out", "/y", "--num-part", "4096")))
    assert(typo.getMessage.contains("--num-part"))
    intercept[IllegalArgumentException](IndexCli.run(spark,
      Seq("append", "--in", "/x", "--root", "/r", "--out", "/y")))
    // flags are allowlisted per subcommand too: --bigrams on query would
    // parse but do nothing (query-side bigram use comes from index meta)
    val flagErr = intercept[IllegalArgumentException](IndexCli.run(spark,
      Seq("query", "--root", "/r", "--q", "x", "--bigrams")))
    assert(flagErr.getMessage.contains("--bigrams"))
  }

  test("CLI e2e: build/query, append/upsert/delete-where/query, compact") {
    val spark0 = spark
    import spark0.implicits._
    val turns = Transcripts.generateLocal(30L)
    val in = tmpDir("cli_in")
    turns.toDS().write.mode("overwrite").parquet(in)

    // ---- build -> query on the single index (out-parquet path)
    val idx = tmpDir("cli_idx") + "/root"
    IndexCli.run(spark, Seq("build", "--in", in, "--out", idx,
      "--num-parts", "4", "--skew-df", "300", "--salts", "4"))
    val qOut = tmpDir("cli_q") + "/res"
    val q = s"the ${Transcripts.contentWords(2)}"
    IndexCli.run(spark, Seq("query", "--root", idx, "--q", q,
      "--k", "5", "--out-parquet", qOut))
    val viaCli = spark.read.parquet(qOut)
      .orderBy($"tier", $"score".desc, $"doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val direct = new graft.query.QueryEngine(spark, idx)
      .handleQuery(q, 5)
      .orderBy($"tier", $"score".desc, $"doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaCli == direct && viaCli.nonEmpty)

    // ---- generations root: append twice, delete a conversation, query
    val gens = tmpDir("cli_gens") + "/root"
    val (b1, b2) = turns.splitAt(turns.size / 2)
    val in2 = tmpDir("cli_in2")
    b1.toDS().write.mode("overwrite").parquet(in)   // reuse in for batch 1
    b2.toDS().write.mode("overwrite").parquet(in2)
    IndexCli.run(spark, Seq("append", "--in", in, "--root", gens,
      "--num-parts", "4"))
    IndexCli.run(spark, Seq("append", "--in", in2, "--root", gens,
      "--num-parts", "4"))
    val delConv = turns.head.conv_id
    IndexCli.run(spark, Seq("delete-where", "--root", gens,
      "--predicate", s"conv_id = '$delConv'"))
    val gOut = tmpDir("cli_g") + "/res"
    IndexCli.run(spark, Seq("search", "--root", gens, "--q", q,
      "--k", "5", "--out-parquet", gOut))
    val gRows = spark.read.parquet(gOut)
    assert(gRows.count() > 0)
    assert(gRows.columns.toSet == Set("doc_id", "score", "first_pos", "snippet"))
    // the tombstoned conversation's docs never surface
    val deadIds = new graft.index.MultiGenEngine(spark, gens).engines
      .map(_.docs.filter($"conv_id" === delConv).select("doc_id"))
      .reduce(_ unionByName _).as[Long].collect().toSet
    assert(deadIds.nonEmpty)
    assert(!gRows.select("doc_id").as[Long].collect().exists(deadIds))

    // ---- upsert: corrected text for one turn supersedes it
    val corrected = turns.head.copy(text = "zzcorrected marker text only")
    val in3 = tmpDir("cli_in3")
    Seq(corrected).toDS().write.mode("overwrite").parquet(in3)
    IndexCli.run(spark, Seq("upsert", "--in", in3, "--root", gens,
      "--num-parts", "4"))

    // ---- compact -> query serves the same live corpus
    val cIdx = tmpDir("cli_cidx") + "/root"
    IndexCli.run(spark, Seq("compact", "--root", gens, "--out", cIdx,
      "--num-parts", "4"))
    val cOut = tmpDir("cli_c") + "/res"
    IndexCli.run(spark, Seq("query", "--root", cIdx, "--q",
      "zzcorrected marker", "--k", "5", "--out-parquet", cOut))
    val hits = spark.read.parquet(cOut).select("doc_id").as[Long].collect()
    assert(hits.length == 1, s"corrected doc should be the only match: ${hits.toSeq}")

    // ---- merge (tiered compaction) + gc through the CLI: the two
    // smallest generations collapse into one; retired dirs drop on gc;
    // the root serves identically (the upserted doc is still the only
    // live match)
    val nGensBefore = graft.index.Generations.genDirs(gens).size
    IndexCli.run(spark, Seq("merge", "--root", gens, "--smallest", "2",
      "--num-parts", "4"))
    assert(graft.index.Generations.genDirs(gens).size == nGensBefore - 1)
    IndexCli.run(spark, Seq("gc", "--root", gens))
    val mOut = tmpDir("cli_m") + "/res"
    IndexCli.run(spark, Seq("query", "--root", gens, "--q",
      "zzcorrected marker", "--k", "5", "--out-parquet", mOut))
    assert(spark.read.parquet(mOut).select("doc_id").as[Long].collect().length == 1)
    intercept[IllegalArgumentException](
      IndexCli.run(spark, Seq("merge", "--root", gens))) // needs --gens|--smallest

    intercept[IllegalArgumentException](
      IndexCli.run(spark, Seq("frobnicate", "--root", gens)))
    intercept[IllegalArgumentException](
      IndexCli.run(spark, Seq("query", "--root", tmpDir("cli_empty"),
        "--q", "x")))
  }

  test("CLI stream-ingest/stream-deletes: catch-up run lands a generation and a tombstone batch") {
    val spark0 = spark
    import spark0.implicits._
    val watched = tmpDir("cli_stream_in")
    Transcripts.generateLocal(8L).toDS().repartition(1)
      .write.mode("overwrite").parquet(watched)
    val root = tmpDir("cli_stream_root") + "/root"
    // AvailableNow (no --follow): indexes what's there, then returns
    IndexCli.run(spark, Seq("stream-ingest", "--in", watched, "--root", root,
      "--num-parts", "2"))
    val gens = graft.index.Generations.genDirs(root)
    assert(gens.nonEmpty, "stream-ingest committed no generation")
    val eng = new graft.index.MultiGenEngine(spark, root)
    assert(eng.nDocs > 0)
    // tombstone one doc through the delete stream
    val victim = eng.engines.head.docs.select("doc_id").as[Long].head()
    val delDir = tmpDir("cli_stream_del")
    Seq(victim).toDF("doc_id").repartition(1)
      .write.mode("overwrite").parquet(delDir)
    IndexCli.run(spark, Seq("stream-deletes", "--in", delDir, "--root", root))
    val eng2 = new graft.index.MultiGenEngine(spark, root)
    assert(eng2.deletedIds.map(_.as[Long].collect().toSet) == Some(Set(victim)))
    // stats is metadata-only and runs on both root shapes
    IndexCli.run(spark, Seq("stats", "--root", root))
  }

  /** What `stats` prints for `root`, line by line. */
  private def stats(root: String): Seq[String] = {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(out)(IndexCli.run(spark, Seq("stats", "--root", root)))
    out.toString("UTF-8").linesIterator.toSeq
  }

  /** The manifest fields `stats` prints for `table` of the index dir `dir`. */
  private def manifestFields(dir: String, table: String): String =
    Seq("rows", "bytes", "wall_ms").map(f =>
      s"$f=${graft.index.IndexBuilder.manifestLong(s"$dir/$table", f).get}").mkString(" ")

  test("CLI stats: each table's rows, bytes and wall_ms, or not written (first use)") {
    val spark0 = spark
    import spark0.implicits._
    import graft.index.{Generations, IndexBuilder, IndexConf}
    val turns = Transcripts.generateLocal(12L)
    val conf = IndexConf(numParts = 2)
    val single = tmpDir("cli_stats_single") + "/root"
    new IndexBuilder(spark, Transcripts.lemmas, conf).build(turns.toDS(), single)
    val core = Seq("docs", "segments", "dictionary", "postings")
    val derived = Seq("dict_by_len", "fuzzy_d*", "vsm_norms")
    val fresh = stats(single)
    assert(fresh.head.startsWith(s"single index $single: n_docs=${turns.size} "))
    assert(fresh.tail == core.map(t => s"  $t: ${manifestFields(single, t)}") ++
      derived.map(t => s"  $t: not written (first use)"), fresh.mkString("\n"))
    // a Spark lookup at d = 1 writes fuzzy_d1
    new graft.query.QueryEngine(spark, single, Transcripts.lemmas).fuzzyTerms("tabel", 1).collect()
    val after = stats(single)
    assert(after.contains(s"  fuzzy_d1: ${manifestFields(single, "fuzzy_d1")}"), after.mkString("\n"))
    assert(!after.exists(_.startsWith("  fuzzy_d*")))
    // a d = 4 lookup writes dict_by_len; under the bare dictionary token
    // (a table from before the unigram format) it reads as stale
    new graft.query.QueryEngine(spark, single, Transcripts.lemmas).fuzzyTerms("tabel", 4).collect()
    val byLen = s"  dict_by_len: ${manifestFields(single, "dict_by_len")}"
    assert(stats(single).contains(byLen))
    val dictToken = IndexBuilder.tableToken(s"$single/dictionary")
    val manifest = s"$single/dict_by_len/_manifest.json"
    graft.index.Fs.writeString(manifest, graft.index.Fs.readString(manifest).replace(
      s""""fingerprint":"$dictToken${IndexBuilder.DictByLenFormatTag}"""", s""""fingerprint":"$dictToken""""))
    val stale = stats(single)
    assert(stale.contains(s"$byLen stale (rewritten on first use)"), stale.mkString("\n"))

    val gens = tmpDir("cli_stats_gens") + "/root"
    turns.grouped(turns.size / 2 + 1).foreach(b =>
      Generations.append(spark, b.toDS(), gens, Transcripts.lemmas, conf))
    val lines = stats(gens)
    val dirs = Generations.genDirs(gens)
    assert(dirs.size == 2)
    val expected = dirs.flatMap { g =>
      val m = IndexBuilder.readMeta(g)
      s"${g.split('/').last}: n_docs=${m.n_docs} n_terms=${m.n_terms} n_postings=${m.n_postings}" +:
        (core.map(t => s"  $t: ${manifestFields(g, t)}") ++
          derived.map(t => s"  $t: not written (first use)"))
    }
    assert(lines.take(expected.size) == expected, lines.mkString("\n"))
    assert(lines.last.startsWith("total: 2 generations"))
  }
}
