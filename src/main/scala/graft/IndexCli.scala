package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import graft.core.Tokenizer
import graft.corpus.Turn
import graft.index.{Compactor, Generations, IndexBuilder, IndexConf}
import graft.query.QueryEngine

/** spark-submit entry point — the deployable surface of the library
  * (north rule: "run via spark-submit on multi-executor clusters").
  * Thin by design: every subcommand is one call into the library, so
  * cluster runs exercise exactly the code the tests and oracles pin.
  *
  * {{{
  * spark-submit --class graft.IndexCli <jar> build \
  *   --in hdfs:///corpora/turns --out hdfs:///indexes/main \
  *   --num-parts 4096 --bigrams
  * spark-submit --class graft.IndexCli <jar> append \
  *   --in hdfs:///corpora/new_batch --root hdfs:///indexes/incr
  * spark-submit --class graft.IndexCli <jar> query \
  *   --root hdfs:///indexes/incr --q "table scan" --k 10
  * }}}
  *
  * Subcommands: build | append | upsert | delete-where | compact |
  * query | search. `--root` auto-detects a single index
  * (index_meta.json present) vs a generations root (gen-* dirs) on the
  * read paths; the master/deploy-mode/executor topology comes from
  * spark-submit, never from here (the session is getOrCreate()).
  * Input tables are the (conv_id, turn_idx, role, text, tool, ts)
  * transcript shape (BASELINE.json input_hint).
  */
object IndexCli {

  final case class Args(cmd: String, opts: Map[String, String],
      flags: Set[String])

  /** `--key value` pairs + bare `--flag`s after the subcommand. Strict:
    * an unknown or malformed token fails with usage, never a silent
    * default — a cluster job launched with a typo'd option must not
    * quietly build a default-configured index for hours.
    */
  def parseArgs(argv: Seq[String], flagNames: Set[String]): Args = {
    require(argv.nonEmpty, usage)
    val cmd = argv.head
    var rest = argv.tail.toList
    val opts = Map.newBuilder[String, String]
    val flags = Set.newBuilder[String]
    while (rest.nonEmpty) {
      val k = rest.head
      if (!k.startsWith("--"))
        throw new IllegalArgumentException(s"expected --option, got '$k'\n$usage")
      if (flagNames(k.drop(2))) { flags += k.drop(2); rest = rest.tail }
      else rest.tail match {
        case v :: tail => opts += (k.drop(2) -> v); rest = tail
        case Nil =>
          throw new IllegalArgumentException(s"missing value for $k\n$usage")
      }
    }
    Args(cmd, opts.result(), flags.result())
  }

  /** Options each subcommand accepts — the fail-fast allowlist: a typo'd
    * or misplaced option (`--num-part`, `--out` on append) errors at
    * launch instead of silently running with defaults.
    */
  private val IndexingOpts = Set("num-parts", "skew-df", "salts", "k1", "b",
    "fuzzy-d", "lemmas")
  private val KnownOpts: Map[String, Set[String]] = Map(
    "build" -> (IndexingOpts + "in" + "out"),
    "append" -> (IndexingOpts + "in" + "root"),
    "upsert" -> (IndexingOpts + "in" + "root"),
    "delete-where" -> Set("root", "predicate"),
    "compact" -> (IndexingOpts + "root" + "out"),
    "merge" -> Set("root", "gens", "smallest", "num-parts", "fuzzy-d", "lemmas"),
    "gc" -> Set("root"),
    "query" -> Set("root", "q", "k", "lemmas", "out-parquet"),
    "search" -> Set("root", "q", "k", "window", "lemmas", "out-parquet"),
    "stream-ingest" -> (IndexingOpts + "in" + "root" + "follow"),
    "stream-deletes" -> Set("in", "root", "follow"),
    "stats" -> Set("root"))

  /** Flags each subcommand accepts — the indexing subcommands only.
    * `--bigrams` on `query` would parse but do nothing (query-side
    * bigram use is driven by the INDEX's meta, not a CLI switch), so it
    * fails at launch like a typo'd option does.
    */
  private val KnownFlags: Map[String, Set[String]] = Map(
    "build" -> Set("bigrams"), "append" -> Set("bigrams"),
    "upsert" -> Set("bigrams"), "compact" -> Set("bigrams"),
    "stream-ingest" -> Set("bigrams")).withDefaultValue(Set.empty)

  private def checkKnown(a: Args): Unit = {
    KnownOpts.get(a.cmd).foreach { known =>
      val unknown = a.opts.keySet.diff(known)
      if (unknown.nonEmpty)
        throw new IllegalArgumentException(
          s"unknown option(s) for ${a.cmd}: " +
            unknown.toSeq.sorted.map("--" + _).mkString(", ") + s"\n$usage")
    }
    val badFlags = a.flags.diff(KnownFlags(a.cmd))
    if (badFlags.nonEmpty)
      throw new IllegalArgumentException(
        s"flag(s) not accepted by ${a.cmd}: " +
          badFlags.toSeq.sorted.map("--" + _).mkString(", ") + s"\n$usage")
  }

  val usage: String =
    """usage: graft.IndexCli <subcommand> [options]
      |  build          --in <turns parquet> --out <index root>
      |  append         --in <turns parquet> --root <generations root>
      |  upsert         --in <turns parquet> --root <generations root>
      |  delete-where   --root <generations root> --predicate "<SQL over docs cols>"
      |  compact        --root <generations root> --out <index root>
      |  merge          --root <generations root> (--gens g1,g2,... | --smallest K)
      |  gc             --root <generations root>   (drop merged-away gen dirs)
      |  query          --root <index|generations root> --q "<text>" [--k N]
      |  search         --root <index|generations root> --q "<text>" [--k N] [--window N]
      |  stream-ingest  --in <watched parquet dir> --root <generations root>
      |  stream-deletes --in <watched doc_id parquet dir> --root <generations root>
      |  stats          --root <index|generations root>
      |build/append/upsert/compact/stream-ingest options: --num-parts N --skew-df N
      |  --salts N --k1 X --b X --bigrams --fuzzy-d N --lemmas <local csv file>
      |query/search options: --out-parquet <dir> (default: show on stdout)
      |stream-* options: --follow <seconds> (micro-batch cadence; default:
      |  catch up on available input, then exit — the AvailableNow trigger)
      |""".stripMargin

  private def confFrom(o: Map[String, String], flags: Set[String],
      defaultParts: Int): IndexConf = {
    val base = IndexConf(numParts = o.get("num-parts").map(_.toInt)
      .getOrElse(defaultParts))
    base.copy(
      skewDfThreshold = o.get("skew-df").map(_.toLong).getOrElse(base.skewDfThreshold),
      nSalts = o.get("salts").map(_.toInt).getOrElse(base.nSalts),
      k1 = o.get("k1").map(_.toDouble).getOrElse(base.k1),
      b = o.get("b").map(_.toDouble).getOrElse(base.b),
      indexBigrams = flags("bigrams") || base.indexBigrams,
      fuzzyMaxDistance = o.get("fuzzy-d").map(_.toInt).getOrElse(base.fuzzyMaxDistance))
  }

  private def lemmasFrom(o: Map[String, String]): Map[String, String] =
    o.get("lemmas").map(Tokenizer.loadLemmasFile).getOrElse(Map.empty)

  private def turnsFrom(spark: SparkSession, o: Map[String, String]) = {
    val in = o.getOrElse("in", throw new IllegalArgumentException(s"--in required\n$usage"))
    val turn = org.apache.spark.sql.Encoders.product[Turn]
    spark.read.schema(turn.schema).parquet(in).as(turn)
  }

  private def req(o: Map[String, String], k: String): String =
    o.getOrElse(k, throw new IllegalArgumentException(s"--$k required\n$usage"))

  /** Results go to parquet when `--out-parquet` is given (the cluster
    * shape — a driver stdout table is useless to a pipeline), else to
    * stdout for interactive runs.
    */
  private def emit(df: DataFrame, o: Map[String, String]): Unit =
    o.get("out-parquet") match {
      case Some(dir) => df.write.mode("overwrite").parquet(dir)
      case None => df.show(100, truncate = false)
    }

  /** True = `root` is a single compacted/built index; false = a
    * generations root. Anything else fails fast.
    */
  private def isSingleIndex(root: String): Boolean =
    if (graft.index.Fs.exists(graft.index.IndexPaths(root).meta)) true
    else if (Generations.genDirs(root).nonEmpty) false
    else throw new IllegalArgumentException(
      s"$root holds neither index_meta.json nor complete gen-* directories")

  def run(spark: SparkSession, argv: Seq[String]): Unit = {
    val a = parseArgs(argv, flagNames = Set("bigrams"))
    checkKnown(a)
    val o = a.opts
    a.cmd match {
      case "build" =>
        val conf = confFrom(o, a.flags, spark.sparkContext.defaultParallelism)
        val meta = new IndexBuilder(spark, lemmasFrom(o), conf)
          .build(turnsFrom(spark, o), req(o, "out"))
        println(s"built ${req(o, "out")}: n_docs=${meta.n_docs} " +
          s"n_terms=${meta.n_terms} n_postings=${meta.n_postings}")
      case "append" =>
        val conf = confFrom(o, a.flags, spark.sparkContext.defaultParallelism)
        val dir = Generations.append(spark, turnsFrom(spark, o), req(o, "root"),
          lemmasFrom(o), conf)
        println(s"appended generation $dir")
      case "upsert" =>
        val conf = confFrom(o, a.flags, spark.sparkContext.defaultParallelism)
        val dir = Generations.upsert(spark, turnsFrom(spark, o), req(o, "root"),
          lemmasFrom(o), conf)
        println(s"upserted as generation $dir")
      case "delete-where" =>
        val dir = Generations.deleteWhere(spark, req(o, "root"),
          expr(req(o, "predicate")))
        // empty batches never commit (deleteDocsAt returns the dir
        // without creating it) — don't report a batch that isn't there:
        // takedown tooling audits this output
        if (graft.index.Fs.exists(s"$dir/del_meta.json"))
          println(s"tombstoned batch $dir")
        else println("predicate matched no docs — no tombstone batch committed")
      case "compact" =>
        val conf = confFrom(o, a.flags, spark.sparkContext.defaultParallelism)
        val meta = Compactor.compact(spark, req(o, "root"), req(o, "out"),
          lemmasFrom(o), conf)
        println(s"compacted -> ${req(o, "out")}: n_docs=${meta.n_docs} " +
          s"n_terms=${meta.n_terms}")
      case "merge" =>
        // partial (tiered) compaction: --gens names OR --smallest K;
        // k1/b come from the source metas, never from options
        val root = req(o, "root")
        val conf = confFrom(o, a.flags, spark.sparkContext.defaultParallelism)
        val dir = (o.get("gens"), o.get("smallest")) match {
          case (Some(names), None) =>
            Compactor.mergeGenerations(spark, root,
              names.split(',').toSeq.map(n => s"$root/${n.trim}"),
              lemmasFrom(o), conf)
          case (None, Some(k)) =>
            Compactor.mergeSmallest(spark, root, k.toInt, lemmasFrom(o), conf)
          case _ => throw new IllegalArgumentException(
            s"merge needs exactly one of --gens or --smallest\n$usage")
        }
        println(s"merged -> $dir")
      case "gc" =>
        val dropped = Compactor.gcReplaced(req(o, "root"))
        println(s"gc dropped ${dropped.size} replaced generation dir(s)" +
          (if (dropped.isEmpty) "" else dropped.mkString(": ", ", ", "")))
      case "query" | "search" =>
        val root = req(o, "root")
        val q = req(o, "q")
        val k = o.get("k").map(_.toInt).getOrElse(10)
        val lem = lemmasFrom(o)
        val window = o.get("window").map(_.toInt).getOrElse(3)
        val e = new QueryEngine(spark, root, lem)
        emit(if (a.cmd == "query") e.handleQuery(q, k)
          else e.searchWithSnippets(q, k, window), o)
      case "stats" =>
        // operational inventory, metadata-only: generation metas +
        // tombstone markers (one small read each), no table scans
        val root = req(o, "root")
        if (isSingleIndex(root)) {
          val m = IndexBuilder.readMeta(root)
          println(s"single index $root: n_docs=${m.n_docs} " +
            s"n_terms=${m.n_terms} n_postings=${m.n_postings} " +
            f"avgdl=${m.avgdl}%.2f k1=${m.k1} b=${m.b}")
        } else {
          val gens = Generations.genDirs(root)
          gens.foreach { g =>
            val m = IndexBuilder.readMeta(g)
            println(s"${g.split('/').last}: n_docs=${m.n_docs} " +
              s"n_terms=${m.n_terms} n_postings=${m.n_postings}")
          }
          val dels = Generations.delDirs(root)
          dels.foreach { d =>
            println(s"${d.split('/').last}: " +
              graft.index.Fs.readString(s"$d/del_meta.json"))
          }
          val retired = Generations.retiredDirs(root)
          println(s"total: ${gens.size} generations, " +
            s"n_docs=${Generations.totalDocs(root)}, ${dels.size} tombstone batches" +
            (if (retired.isEmpty) ""
             else s", ${retired.size} retired dir(s) awaiting gc"))
        }
      case "stream-ingest" | "stream-deletes" =>
        // the long-running deployable shape: a spark-submit job that
        // tails a directory. --follow N keeps it up on an N-second
        // micro-batch cadence; without it the AvailableNow trigger
        // indexes everything already there and exits (catch-up runs,
        // and the testable form). Exactly-once is StreamIngest's
        // batchId-keyed generation/tombstone protocol either way.
        import org.apache.spark.sql.streaming.Trigger
        val trigger = o.get("follow")
          .map(s => Trigger.ProcessingTime(s.toLong * 1000L))
          .getOrElse(Trigger.AvailableNow())
        val sq =
          if (a.cmd == "stream-ingest")
            graft.streaming.StreamIngest.start(spark, req(o, "in"),
              req(o, "root"), lemmasFrom(o),
              confFrom(o, a.flags, spark.sparkContext.defaultParallelism),
              trigger)
          else
            graft.streaming.StreamIngest.startDeletes(spark, req(o, "in"),
              req(o, "root"), trigger)
        sq.awaitTermination()
      case other =>
        throw new IllegalArgumentException(s"unknown subcommand '$other'\n$usage")
    }
  }

  def main(argv: Array[String]): Unit = {
    // master/deploy mode/executors come from spark-submit; only the
    // session-level SQL defaults the library expects are set here (and
    // only when the submitter didn't override them)
    val b = SparkSession.builder()
    if (!sys.props.contains("spark.sql.shuffle.partitions"))
      b.config("spark.sql.shuffle.partitions",
        math.max(32, Runtime.getRuntime.availableProcessors * 2).toString)
    if (!sys.props.contains("spark.sql.session.timeZone"))
      b.config("spark.sql.session.timeZone", "UTC")
    val spark = b.getOrCreate()
    try run(spark, argv.toSeq)
    finally spark.stop()
  }
}
