package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.Transcripts
import graft.index.{IndexBuilder, IndexConf}
import graft.query.QueryEngine

/** Benchmark main. Prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}
  *
  * The queries map carries, beyond the per-catalog-query seconds:
  *  - index_build_turns_per_sec_c<L>: SPIMI+merge build throughput
  *    over the same deterministic synthetic transcript corpus at each
  *    level L of 2, N/4 and N cores, N = SPARK_GRAFT_CPUS (c2/c8/c32 at
  *    N = 32, c1/c2/c4 at N = 4; the sandbox stand-in for N vs 4N
  *    executors, BASELINE.json scaling rule);
  *  - scaling_efficiency_<a>_to_<b>: thr(b) / ((b / a) * thr(a)) for
  *    each pair of adjacent levels;
  *  - bm25_p50_sec / bm25_p95_sec: warm-index query latency over the
  *    frozen reference query set (k=10, WAND on).
  *
  * Every file it writes (the staged input, the indexes, Spark's local
  * dirs, the A/B baseline checkout) lands under one root: the first
  * argument, `/dev/shm/graft` when none is given.
  */
object Bench {

  /** The root every path lands under when no argument names one. */
  val DefaultRoot = "/dev/shm/graft"

  private def newSession(cpus: Int, root: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-$cpus")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      // local-bench split sizing: inputs are tens of MB but the work is
      // CPU-bound (tokenize/codec); default 128 MB splits + AQE advisory
      // coalescing would collapse to 1-2 tasks and serialize the build.
      // At production scale (TB inputs) the defaults are correct.
      .config("spark.sql.files.maxPartitionBytes", (1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (64 * 1024).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (2 * 1024 * 1024).toString)
      // shuffle + spill on tmpfs: the bench box has one virtio disk whose
      // jitter would otherwise dominate the scaling measurement (a real
      // cluster has NVMe/many disks per executor)
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def rmrf(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.exists()) {
      java.nio.file.Files.walk(f.toPath).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
  }

  /** Frozen reference query set (FIXTURES.md §2): deterministic mix of
    * stopwords, content words, and inflected variants.
    */
  def referenceQueries: Seq[String] = {
    val cw = Transcripts.contentWords
    val sw = Transcripts.stopwords
    (0 until 20).map { i =>
      val a = cw((i * 131) % cw.size)
      val b = cw((i * 977 + 13) % cw.size)
      val s = sw(i % sw.size)
      i % 4 match {
        case 0 => s"$a $b"
        case 1 => s"$s $a"
        case 2 => s"$a ${b}s $s"
        case 3 => s"$a $b $s the"
      }
    }
  }

  // ------------------------------------------------- interleaved A/B mode

  /** The round-3 verdict commit: the pinned baseline the interleaved A/B
    * below builds against, so a round-over-round build-throughput delta
    * in the driver artifact is attributable to CODE vs HOST NOISE inside
    * the artifact itself (the round-4 driver run measured c32 29% below
    * round 3 while the SAME run's c8 was FASTER — unpaired samples from
    * different host windows cannot distinguish the two). Overridable
    * via SPARK_GRAFT_BENCH_AB_BASE so a later round can pin its own
    * predecessor without a code change; the worktree is rev-parse
    * verified against whatever commit is in effect.
    */
  private val AbBaselineCommit =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_AB_BASE", "61ffc87")

  /** Run a subprocess; returns (exitCode, stdout). Stderr is inherited
    * (visible in the bench log, never on OUR stdout — Bench's contract
    * is one JSON line). Kills the process on timeout.
    */
  private def runProc(cmd: Seq[String], cwd: java.io.File,
      extraEnv: Map[String, String], timeoutSec: Long): (Int, String) = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.directory(cwd)
    pb.redirectError(ProcessBuilder.Redirect.INHERIT)
    extraEnv.foreach { case (k, v) => pb.environment().put(k, v) }
    val p = pb.start()
    val out = new java.lang.StringBuilder
    val gobbler = new Thread(() => {
      val src = scala.io.Source.fromInputStream(p.getInputStream, "UTF-8")
      try src.getLines().foreach { l => out.append(l).append('\n') }
      finally src.close()
    })
    gobbler.setDaemon(true)
    gobbler.start()
    val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) {
      p.destroyForcibly()
      p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      (-1, out.toString)
    } else {
      gobbler.join(5000)
      (p.exitValue(), out.toString)
    }
  }

  /** Interleaved A/B of the c{cpus} index build: HEAD vs the pinned
    * [[AbBaselineCommit]], N pairs alternating H,B,H,B,... within this
    * one bench session. Each sample is a fresh JVM running this same
    * Bench in single-level BUILD_ONLY mode (so both sides get identical
    * harness conditions: own warmup, best-of-3, same staged input
    * table). Host-window noise hits both sides of a pair equally and
    * cancels in the ratio; a real code regression shows in EVERY pair.
    * Emits ab_head/_base per pair + the median paired ratio. Soft-fails
    * (stderr note, no metrics) when git/sbt/the commit are unavailable;
    * SPARK_GRAFT_BENCH_AB=0 disables.
    */
  private def abBuildCompare(results: scala.collection.mutable.Map[String, Double],
      cpus: Int, root: String): Unit = {
    val pairs = sys.env.getOrElse("SPARK_GRAFT_BENCH_AB_PAIRS", "3").toInt
    val repo = Seq(System.getProperty("user.dir"), "/root/repo")
      .find(d => new java.io.File(d, ".git").exists())
      .getOrElse { System.err.println("[bench/ab] no git repo found; skipping"); return }
    val abDir = new java.io.File(s"$root/ab_base")
    // 1. worktree of the pinned commit. Reuse is VERIFIED, never assumed:
    // a surviving dir from an older run (or an AbBaselineCommit
    // bump since it was created) must not silently serve the wrong
    // baseline's classes under the pinned commit's name — the exact
    // measurement misattribution this stage exists to prevent.
    val atPinned = new java.io.File(abDir, "build.sbt").exists() && {
      val (c0, out0) = runProc(Seq("git", "rev-parse", "HEAD"), abDir,
        Map.empty, 60)
      c0 == 0 && out0.trim.startsWith(AbBaselineCommit)
    }
    if (!atPinned) {
      if (abDir.exists()) {
        runProc(Seq("git", "worktree", "remove", "-f", abDir.getAbsolutePath),
          new java.io.File(repo), Map.empty, 60)
        // worktree remove refuses non-worktree dirs; clear leftovers
        if (abDir.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete()
          }
          rm(abDir)
        }
      }
      val (c1, _) = runProc(Seq("git", "worktree", "add", "-f",
        abDir.getAbsolutePath, AbBaselineCommit),
        new java.io.File(repo), Map.empty, 120)
      if (c1 != 0) { System.err.println(s"[bench/ab] worktree add failed ($c1); skipping"); return }
    }
    // 2. compile it (offline coursier; skip when classes already built)
    val baseClasses = new java.io.File(abDir, "target/scala-2.13/classes")
    if (!new java.io.File(baseClasses, "graft/Bench.class").exists()) {
      val (c2, _) = runProc(Seq("sbt", "-batch", "compile"), abDir,
        Map("COURSIER_MODE" -> "offline"), 900)
      if (c2 != 0 || !new java.io.File(baseClasses, "graft/Bench.class").exists()) {
        System.err.println(s"[bench/ab] baseline compile failed ($c2); skipping"); return
      }
    }
    // 3. locate HEAD's classes from this very class's code source
    val headClasses = new java.io.File(
      Bench.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    // The sample's work scales with the INHERITED SPARK_GRAFT_BENCH_CONVS
    // (warmup + best-of-3 builds): a fixed timeout sized for the 20k-conv
    // default would kill every sample of a 200k-conv run in a slow host
    // window — losing the ab_* metrics exactly when they are needed.
    // ~0.6 s/1000 convs per c32 build x4 builds, x10 slow-window slack,
    // min 600 s; heap follows SPARK_DRIVER_MEM (8g is this rig's sweet
    // spot, see BENCH.md — but a parent tuned differently must agree).
    val sampleConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "20000").toLong
    val sampleTimeoutSec = math.max(600L, sampleConvs / 1000 * 24)
    val sampleHeap = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
    def sample(classes: java.io.File): Option[Double] = {
      val cp = s"${classes.getAbsolutePath}:/opt/spark/jars/*"
      val (code, out) = runProc(
        Seq(javaBin) ++ addOpens ++ Seq(s"-Xmx$sampleHeap",
          "-Dspark.ui.enabled=false", "-cp", cp, "graft.Bench", root),
        new java.io.File(repo),
        Map("SPARK_GRAFT_BENCH_LEVELS" -> cpus.toString,
          "SPARK_GRAFT_BENCH_BUILD_ONLY" -> "1",
          "SPARK_GRAFT_BENCH_AB" -> "0", // no recursion
          "SPARK_GRAFT_CPUS" -> cpus.toString), sampleTimeoutSec)
      if (code != 0) { System.err.println(s"[bench/ab] sample exited $code"); None }
      else s""""index_build_turns_per_sec_c$cpus":([0-9.E+-]+)""".r
        .findFirstMatchIn(out).map(_.group(1).toDouble)
    }
    val ratios = (1 to pairs).flatMap { i =>
      val h = sample(headClasses)
      val b = sample(baseClasses)
      (h, b) match {
        case (Some(ht), Some(bt)) =>
          results(s"ab_head_c${cpus}_tps_p$i") = ht
          results(s"ab_base_c${cpus}_tps_p$i") = bt
          Some(ht / bt)
        case _ => None
      }
    }
    if (ratios.nonEmpty) {
      val sorted = ratios.sorted
      results("ab_pairs") = ratios.size.toDouble
      results("ab_ratio_head_over_base_median") = sorted(sorted.size / 2)
      results("ab_ratio_head_over_base_min") = sorted.head
      results("ab_ratio_head_over_base_max") = sorted.last
    }
  }

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(DefaultRoot)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val lowCpus = math.max(1, cpus / 4)
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONVS", "20000").toLong
    // dev knobs (unset in driver runs): restrict build levels / skip stages
    val levelsOverride = sys.env.get("SPARK_GRAFT_BENCH_LEVELS")
      .map(_.split(",").map(_.trim.toInt).toSeq)
    val buildOnly = sys.env.contains("SPARK_GRAFT_BENCH_BUILD_ONLY")

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$root/spark-local"))

    // ---- stage the input table once (in production the input IS a
    // table on disk; corpus generation is not part of build throughput)
    val turnsPath = s"$root/bench_turns_$nConvs"
    if (!new java.io.File(s"$turnsPath/_SUCCESS").exists()) {
      val s = newSession(cpus, root)
      Transcripts.generate(s, nConvs, partitions = cpus * 4)
        .write.mode("overwrite").parquet(turnsPath)
      s.stop()
    }

    // ---- index-build scaling: same input at 2, N/4 and N cores.
    // The N/16 -> N/4 pair (2 -> 8 here) is the north-rule N -> 4N
    // criterion measured inside the VM's linear region; a raw-CPU control
    // (BENCH.md) shows this box tops out at ~0.68 efficiency from 8 -> 32
    // threads for pure arithmetic, so the 8 -> 32 pair is reported with
    // that hardware ceiling alongside.
    // All levels run in THIS one JVM (sessions recreated per master) so
    // JIT-compiled code is shared — the analog of a long-lived cluster's
    // warm executors. One small untimed build warms the hot paths first.
    var nTurns = 0L
    val levels = levelsOverride.getOrElse(Seq(2, lowCpus, cpus).distinct.sorted)
    rmrf(s"$root/warmup_idx")
    val warm = newSession(cpus, root)
    new IndexBuilder(warm, Transcripts.lemmas, IndexConf(numParts = cpus))
      .build(Transcripts.generate(warm, math.max(200L, nConvs / 25),
        partitions = cpus), s"$root/warmup_idx")
    warm.stop()
    // best-of-3 per level, INTERLEAVED by round (2,8,32, 2,8,32, ...):
    // the sandbox shares its host and single runs swing >30%; a
    // per-level best-of-3 in blocked order still absorbs a slow host
    // window unevenly across levels (the round-4 driver run's c8>r3 /
    // c32<r3 inversion) — interleaving spreads any window across ALL
    // levels, and the per-level max/min spread is reported so the
    // artifact itself shows how noisy the session was.
    val reuse = sys.env.contains("SPARK_GRAFT_BENCH_REUSE_IDX") // dev knob
    val buildRounds = if (reuse) 1 else 3
    val buildTimes =
      scala.collection.mutable.Map.empty[Int, List[Double]].withDefault(_ => Nil)
    (1 to buildRounds).foreach { _ =>
      levels.foreach { c =>
        val s = newSession(c, root)
        val turns = s.read.parquet(turnsPath).as(
          org.apache.spark.sql.Encoders.product[graft.corpus.Turn])
        val dir = s"$root/bench_idx_c$c"
        if (!reuse) rmrf(dir)
        val builder = new IndexBuilder(s, Transcripts.lemmas,
          IndexConf(numParts = math.max(c, 8), skewDfThreshold = 20000L, nSalts = 8))
        val t0 = System.nanoTime()
        val meta = builder.build(turns, dir)
        nTurns = meta.n_docs
        buildTimes(c) = ((System.nanoTime() - t0) / 1e9) :: buildTimes(c)
        s.stop()
      }
    }
    levels.foreach { c =>
      val ts = buildTimes(c)
      results(s"index_build_sec_c$c") = ts.min
      results(s"index_build_turns_per_sec_c$c") = nTurns / ts.min
      // like catalog_spread_max_ratio: how far apart this level's
      // samples were within THIS session
      results(s"build_spread_max_ratio_c$c") = ts.max / ts.min
    }
    def thr(c: Int) = results(s"index_build_turns_per_sec_c$c")
    levels.sliding(2).foreach {
      case Seq(a, b) =>
        results(s"scaling_efficiency_${a}_to_$b") =
          thr(b) / ((b.toDouble / a) * thr(a))
      case _ => ()
    }

    if (buildOnly || !levels.contains(cpus)) {
      // query stages need the cpus-level index; a LEVELS override that
      // omits it implies a build-scaling-only run
      val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      println(s"""{"metric":"total","value":0,"unit":"sec","queries":$qs,"sf":"$sfDir","bench_turns":$nTurns}""")
      return
    }

    // ---- BM25 query latency over the frozen query set (warm index)
    val spark = newSession(cpus, root) // same session as high-parallelism build
    val engine = new QueryEngine(spark, s"$root/bench_idx_c$cpus",
      Transcripts.lemmas)
    // driver-hash-map dictionary (n_terms-gated; falls back to the
    // cached distributed probe above dictLocalCap) + the OPT-IN postings
    // cache — the cache is valid here because the bench index fits; a
    // 100 TB deployment calls warmDictionaryLocal() only, whose gate
    // then yields cached distributed probes (QueryEngine scaladoc)
    engine.warmDictionaryLocal()
    engine.cachePostings()
    // best-of-2 per query: single runs swing >30% on this shared-host VM
    val lat = referenceQueries.map { q =>
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        engine.bm25TopK(q, 10).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
    }.sorted
    results("bm25_p50_sec") = lat(lat.length / 2)
    // nearest-rank p95: the ceil(0.95n)-th order statistic. The former
    // (n*0.95).toInt indexed the MAXIMUM of the 20-query set, so rounds
    // 1-3 reported worst-case latency under the p95 name — the fixed
    // value can only be <= those (comparison note in BENCH.md).
    results("bm25_p95_sec") =
      lat(math.min(lat.length - 1, math.ceil(lat.length * 0.95).toInt - 1))

    // ---- north-rule rank identity across parallelism levels: the
    // indexes built at N and 4N cores must answer every reference query
    // with IDENTICAL doc_ids AND bit-identical Double scores
    if (levels.contains(lowCpus) && lowCpus != cpus) {
      val engineLow = new QueryEngine(spark,
        s"$root/bench_idx_c$lowCpus", Transcripts.lemmas)
      val matched = referenceQueries.count { q =>
        val a = engine.bm25TopK(q, 10).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val b = engineLow.bm25TopK(q, 10).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
        a == b
      }
      results("rank_identity_queries_matched") = matched.toDouble
      results("rank_identity_queries_total") = referenceQueries.size.toDouble
    }

    // ---- MaxScore mid-df worst case: a mid-df content term (dense
    // candidates, the pruning-hostile shape) plus a stopword tail, with
    // the block-max path forced on, vs the direct path on the same query.
    val midQ = Seq(Transcripts.contentWords(2), "the", "of", "and")
    val forced = engine.withConfig(_.copy(localMaxPostings = 0L, wandMinPostings = 1L))
    val direct = forced.withConfig(_.copy(wandMinPostings = Long.MaxValue))
    results("bm25_middf_wand_sec") = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      forced.bm25TopKForTerms(midQ, 10).collect()
      (System.nanoTime() - t0) / 1e9
    }.min
    results("bm25_middf_direct_sec") = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      direct.bm25TopKForTerms(midQ, 10).collect()
      (System.nanoTime() - t0) / 1e9
    }.min

    // ---- stopword-led phrase: exercises the ascending-df positional
    // join order (a query-order join would drag the stopword's full
    // positional lists through the chain).
    results("phrase_stopword_sec") = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      engine.phraseMatch(Seq("the", Transcripts.contentWords(2))).count()
      (System.nanoTime() - t0) / 1e9
    }.min

    // ---- serving surface: filtered search (both selectivity routes on
    // the same predicate — the routing knob, not the filter, picks the
    // plan), result-page snippets, and prefix suggest.
    {
      import org.apache.spark.sql.functions.col
      val servQ = s"the ${Transcripts.contentWords(5)}"
      val pred = col("doc_len") % 10 === 0 // ~10% of docs
      results("filtered_topk_candidates_sec") = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        engine.bm25ScoresFiltered(engine.queryTerms(servQ), pred,
          candidateCap = Int.MaxValue - 1)
          .orderBy(col("score").desc, col("doc_id").asc).limit(10).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      results("filtered_topk_semijoin_sec") = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        engine.bm25ScoresFiltered(engine.queryTerms(servQ), pred,
          candidateCap = 0)
          .orderBy(col("score").desc, col("doc_id").asc).limit(10).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      results("search_snippets_sec") = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        engine.searchWithSnippets(servQ, 10).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
      results("suggest_sec") = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        engine.suggest(Transcripts.contentWords(5).take(2), 8).collect()
        (System.nanoTime() - t0) / 1e9
      }.min
    }

    // ---- rare-term + stopword phrase: the candidate-pruned positional
    // plan (doc-id intersection first; the stopword's positional blobs
    // are read only for chunks containing the few intersection docs).
    results("phrase_rare_sec") = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      engine.phraseMatch(Seq(Transcripts.contentWords(3900), "the")).count()
      (System.nanoTime() - t0) / 1e9
    }.min

    // ---- the driver catalog over sfDir. benchQueries = the production
    // hash family (xxhash64) for the sketch queries; the oracle catalog
    // pins md5 for DuckDB parity and is timed by Verify, not here.
    // Per-query min-of-2 (this host swings >30%, BENCH.md): run the
    // whole catalog twice interleaved-by-pass and keep minima, so
    // round-over-round regressions are attributable; the worst
    // run2/run1 spread is surfaced as catalog_spread_max_ratio.
    val catalog =
      if (sys.env.contains("SPARK_GRAFT_BENCH_SKIP_CATALOG")) Seq.empty
      else sys.env.get("SPARK_GRAFT_BENCH_ONLY_QUERY") match { // dev knob
        case Some(prefixes) => // comma-separated prefixes; blank = all
          val ps = prefixes.split(',').map(_.trim).filter(_.nonEmpty)
          GraftQueries.benchQueries.toSeq
            .filter(q => ps.isEmpty || ps.exists(q._1.startsWith))
            .sortBy(_._1)
        case None => GraftQueries.benchQueries.toSeq.sortBy(_._1)
      }
    // Materialize one-time lazily-backfilled index infrastructure (the
    // q47 vsm_norms table) UNTIMED: the catalog times query latency, and
    // a deterministic first-use backfill inside pass 1 would both
    // inflate that row's pass-1 time ~10x and make
    // catalog_spread_max_ratio (a HOST-NOISE signal) read as noise.
    if (catalog.exists(_._1.startsWith("q47")))
      // "window" is in the documents vocabulary at every sf (the q47
      // term set); an absent term would short-circuit before the
      // norms table and skip the backfill
      try GraftQueries.engineFor(spark, sfDir).vsmScores(Seq("window")).count()
      catch { case scala.util.control.NonFatal(t) =>
        System.err.println(s"[bench] vsm_norms warmup failed: $t") }
    val passes: Seq[Map[String, Option[Double]]] = (1 to 2).map { _ =>
      catalog.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true } catch {
          case t: Throwable =>
            System.err.println(s"[bench] catalog query $name FAILED: $t")
            false
        }
        name -> (if (ok) Some((System.nanoTime() - t0) / 1e9) else None)
      }.toMap
    }
    var maxSpread = 1.0
    var maxSpreadQuery = "" // named in a stderr note: the JSON is numeric
    var failedQueries = 0
    catalog.foreach { case (name, _) =>
      val ts = passes.flatMap(_(name))
      // catalog_failures counts distinct failing QUERIES (not failing
      // passes); a query that failed every pass is OMITTED from
      // results/catalog_total entirely — its near-zero elapsed time
      // must never read as a round-over-round speedup
      if (ts.length < passes.length) failedQueries += 1
      if (ts.nonEmpty) {
        results(name) = ts.min
        if (ts.length == passes.length && ts.min > 0.05) {
          val r = ts.max / ts.min
          if (r > maxSpread) { maxSpread = r; maxSpreadQuery = name }
        }
      }
    }
    if (catalog.nonEmpty) {
      results("catalog_spread_max_ratio") = maxSpread
      results("catalog_failures") = failedQueries.toDouble
      if (maxSpreadQuery.nonEmpty)
        System.err.println(
          f"[bench] catalog_spread_max_ratio $maxSpread%.2f from " +
            s"$maxSpreadQuery (passes: " +
            passes.flatMap(_(maxSpreadQuery)).map(t => f"$t%.3f").mkString(", ") + " s)")
    }

    // ---- interleaved A/B vs the pinned round-3 commit (head/base paired
    // build-throughput ratios; see abBuildCompare). Last so a failure
    // here can never cost the metrics above; soft-fails on its own.
    if (sys.env.getOrElse("SPARK_GRAFT_BENCH_AB", "1") != "0") {
      spark.stop() // the samples are whole fresh JVMs; free this one's slots
      try abBuildCompare(results, cpus, root)
      catch { case t: Throwable =>
        System.err.println(s"[bench/ab] skipped: $t") }
    }

    val total = catalog.flatMap { case (n, _) => results.get(n) }.sum
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","bench_turns":$nTurns}""")
    spark.stop()
  }
}
