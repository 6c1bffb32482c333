package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.Tokenizer
import graft.corpus.Transcripts
import graft.index.{Compactor, Generations, IndexBuilder, IndexConf, IndexPaths, MultiGenEngine}
import graft.oracle.Oracle
import graft.ops.{Dedup, Pipeline, Similarity, TextOps}
import graft.query.QueryEngine

/** The benchmark's one door into the program. Every call the harness
  * makes into `graft` goes through this file, and only through public
  * entry points. Nothing here writes an engine's tuning `var`s or reads
  * its `last*` diagnostic slots, so the harness keeps working when those
  * give way to an immutable config and returned traces.
  */
object Program {

  type Turn = graft.corpus.Turn

  /** The transcript generator's lemma table: every index the benchmark
    * builds lemmatizes, and the queries are lemmatized with the same map.
    */
  val lemmas: Map[String, String] = Transcripts.lemmas

  val stopwords: Seq[String] = Transcripts.stopwords

  /** One build configuration for every index the benchmark makes, so the
    * index a build writes is the index the readers serve: the one the
    * program's catalog deploys for its lemmatized, bigram-indexed engine
    * (`GraftQueries.engineLemmaFor`), with one partition per core.
    */
  def conf(nproc: Int): IndexConf =
    IndexConf(numParts = nproc, skewDfThreshold = 100000L, nSalts = 8,
      indexBigrams = true)

  // ------------------------------------------------------------ inputs

  /** Turns of conversations [lo, hi) of the seeded transcript corpus. */
  def turns(lo: Long, hi: Long, seed: Long): Vector[Turn] =
    (lo until hi).iterator.flatMap(i => Transcripts.turnsFor(i, seed)).toVector

  /** The same turn with corrected text (an upsert's payload). */
  def corrected(t: Turn, text: String): Turn = t.copy(text = text)

  /** Writes `turns` as a Parquet table at `path`: the input a build reads. */
  def stage(spark: SparkSession, turns: Seq[Turn], path: String, nproc: Int): Unit = {
    import spark.implicits._
    spark.createDataset(turns).repartition(nproc).write.parquet(path)
  }

  private def readTurns(spark: SparkSession, path: String) = {
    import spark.implicits._
    spark.read.parquet(path).as[Turn]
  }

  /** (position, term) of each surviving token, as the index sees it. */
  def tokens(text: String): Seq[(Int, String)] =
    Tokenizer.tokenize(text, lemmas).map(t => (t.position, t.term))

  /** Token count of one document tokenization; used to time the
    * tokenizer alone on one thread.
    */
  def tokenizeCount(text: String): Int = Tokenizer.tokenize(text, lemmas).size

  /** Distinct query terms (lemmatized unigrams). */
  def queryTerms(text: String): Seq[String] =
    Tokenizer.tokenizeQuery(text, lemmas).unigrams.map(_.term).distinct

  /** The phrase sequence handleQuery and phraseMatch match on. */
  def phraseTerms(text: String): Seq[String] =
    Tokenizer.tokenizeQuery(text, lemmas).unigrams.map(_.term)

  /** Terms of one document as the dictionary holds them (unigrams and,
    * with bigram indexing, bigrams).
    */
  def dictTerms(text: String): Seq[String] =
    Tokenizer.tokenizeWithBigrams(text, lemmas).map(_.term)

  val utf8Ordering: Ordering[String] = Tokenizer.utf8Ordering

  // ------------------------------------------------------------ writes

  def build(spark: SparkSession, turnsPath: String, root: String, nproc: Int): Unit =
    new IndexBuilder(spark, lemmas, conf(nproc)).build(readTurns(spark, turnsPath), root)

  def append(spark: SparkSession, turnsPath: String, root: String, nproc: Int): String =
    Generations.append(spark, readTurns(spark, turnsPath), root, lemmas, conf(nproc))

  def upsert(spark: SparkSession, turnsPath: String, root: String, nproc: Int): String =
    Generations.upsert(spark, readTurns(spark, turnsPath), root, lemmas, conf(nproc))

  def deleteDocs(spark: SparkSession, ids: Seq[Long], root: String): String = {
    import spark.implicits._
    Generations.deleteDocs(spark, spark.createDataset(ids), root)
  }

  def mergeSmallest(spark: SparkSession, root: String, nproc: Int): String =
    Compactor.mergeSmallest(spark, root, 2, lemmas, conf(nproc))

  def gcReplaced(root: String): Int = Compactor.gcReplaced(root).size

  def liveGenerations(root: String): Seq[String] = Generations.genDirs(root)

  def totalDocs(root: String): Long = Generations.totalDocs(root)

  // ----------------------------------------------------- index layout

  /** Build stages in the order the builder runs them, with the directory
    * whose `_manifest.json` records each one's wall time.
    */
  def stageDirs(root: String): Seq[(String, String)] = {
    val p = IndexPaths(root)
    Seq("docs" -> p.docs, "segments" -> p.segments, "postings" -> p.postings,
      "dict_by_len" -> p.dictByLen, "dictionary" -> p.dictionary,
      "fuzzy" -> p.fuzzy(conf(1).fuzzyMaxDistance))
  }

  /** The tables a reader serves from (docs, postings, dictionary,
    * dict_by_len, fuzzy).
    */
  def servingDirs(root: String): Seq[String] = stageDirs(root).collect {
    case (name, dir) if name != "segments" => dir
  }

  def postingsDir(root: String): String = IndexPaths(root).postings

  /** Bytes of the Parquet files under `dir`, recursively (0 if absent). */
  def parquetBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter((f: Path) => f.toString.endsWith(".parquet"))
        .mapToLong((f: Path) => Files.size(f)).sum()
      finally s.close()
    }
  }

  /** Fields of a stage's `_manifest.json`: wall_ms, rows, bytes and, on
    * the segments stage, salted_terms. Missing fields are absent.
    */
  def manifest(dir: String): Map[String, Double] = {
    val f = Paths.get(dir, "_manifest.json")
    if (!Files.exists(f)) Map.empty
    else {
      val s = new String(Files.readAllBytes(f), "UTF-8")
      Seq("wall_ms", "rows", "bytes", "salted_terms").flatMap { k =>
        s""""$k":"?(\\d+)""".r.findFirstMatchIn(s).map(m => k -> m.group(1).toDouble)
      }.toMap
    }
  }

  // ----------------------------------------------------------- readers

  /** A query as the benchmark issues it. `text` holds the query string,
    * the phrase, the suggest prefix or the misspelled term, by kind.
    */
  final case class Query(kind: String, text: String)

  val Kinds: Vector[String] = Vector("bm25TopK", "handleQuery", "phraseMatch",
    "searchWithSnippets", "bm25TopKFiltered", "suggest", "fuzzyTerms")

  val K = 10
  private val SuggestN = 10
  private val FuzzyD = 1
  private def filterPred = col("role") === "user"

  /** Canonical answer: one line per result row, doubles as their exact
    * bit pattern, in the order the kind defines (rank order for ranked
    * kinds, sorted for set kinds). Two answers are equal iff they agree
    * bit for bit.
    */
  type Answer = Vector[String]

  private def bits(d: Double): String = java.lang.Long.toHexString(
    java.lang.Double.doubleToRawLongBits(d))

  /** The serving surface shared by the single-index and the
    * multi-generation engine.
    */
  sealed trait Engine {
    /** The call that returns the DataFrame (driver-side probes included). */
    def plan(q: Query): DataFrame
    /** Summed dictionary df of the query's terms, through lookupTerms. */
    def lookupDf(text: String): Long
    /** Live generations behind this engine. */
    def generations: Int

    /** The final action, normalized to an [[Answer]]. */
    def collect(q: Query, df: DataFrame): Answer = {
      val rows = df.collect().toVector
      q.kind match {
        case "bm25TopK" | "bm25TopKFiltered" =>
          rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
            .sortBy { case (d, s) => (-s, d) }.map { case (d, s) => s"$d ${bits(s)}" }
        case "handleQuery" =>
          rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"), r.getAs[Int]("tier")))
            .sortBy { case (d, s, t) => (t, -s, d) }
            .map { case (d, s, t) => s"$d ${bits(s)} $t" }
        case "searchWithSnippets" =>
          rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"),
            Option(r.getAs[java.lang.Integer]("first_pos")).map(_.intValue).getOrElse(-1)))
            .sortBy { case (d, s, _) => (-s, d) }
            .map { case (d, s, p) => s"$d ${bits(s)} $p" }
        case "phraseMatch" =>
          rows.map(_.getAs[Long]("doc_id")).distinct.sorted.map(_.toString)
        case "suggest" =>
          rows.map(r => (r.getAs[String]("term"), r.getAs[Long]("df")))
            .sortBy { case (t, d) => (-d, t) }(Ordering.Tuple2(Ordering.Long, utf8Ordering))
            .map { case (t, d) => s"$t\t$d" }
        case "fuzzyTerms" =>
          rows.map(_.getAs[String]("term")).distinct.sorted
      }
    }
  }

  final class Single(spark: SparkSession, root: String) extends Engine {
    private val e = new QueryEngine(spark, root, lemmas)
    e.warmDictionaryLocal()
    def generations: Int = 1
    def lookupDf(text: String): Long = e.lookupTerms(queryTerms(text)).map(_.df).sum
    def plan(q: Query): DataFrame = q.kind match {
      case "bm25TopK" => e.bm25TopK(q.text, K)
      case "handleQuery" => e.handleQuery(q.text, K)
      case "phraseMatch" => e.phraseMatch(phraseTerms(q.text))
      case "searchWithSnippets" => e.searchWithSnippets(q.text, K)
      case "bm25TopKFiltered" => e.bm25TopKFiltered(q.text, K, filterPred)
      case "suggest" => e.suggest(q.text, SuggestN)
      case "fuzzyTerms" => e.fuzzyTerms(q.text, FuzzyD)
    }
  }

  final class Multi(spark: SparkSession, root: String) extends Engine {
    private val m = new MultiGenEngine(spark, root, lemmas).warmDictionariesLocal()
    def generations: Int = m.gens.size
    def lookupDf(text: String): Long = {
      val terms = queryTerms(text)
      m.engines.map(_.lookupTerms(terms).map(_.df).sum).sum
    }
    def plan(q: Query): DataFrame = q.kind match {
      case "bm25TopK" => m.bm25TopK(q.text, K)
      case "handleQuery" => m.handleQuery(q.text, K)
      case "phraseMatch" => m.phraseMatch(phraseTerms(q.text))
      case "searchWithSnippets" => m.searchWithSnippets(q.text, K)
      case "bm25TopKFiltered" => m.bm25TopKFiltered(q.text, K, filterPred)
      case "suggest" => m.suggest(q.text, SuggestN)
      case "fuzzyTerms" => m.fuzzyTerms(q.text, FuzzyD)
    }
  }

  /** Opens the single-index engine in its deployment configuration: the
    * dictionary warmed into the driver, postings read from Parquet on
    * every query (no postings cache).
    */
  def openSingle(spark: SparkSession, root: String): Engine = new Single(spark, root)

  /** Opens one engine over every live generation of `root`, dictionaries
    * warmed into the driver.
    */
  def openMulti(spark: SparkSession, root: String): Engine = new Multi(spark, root)

  // ------------------------------------------------------------ oracle

  /** Expected answers from the scalar oracle over the same turns, plus
    * the dictionary df the suggest kind ranks by.
    */
  final class Expected(turns: Seq[Turn]) {
    private val o = new Oracle(turns, lemmas, indexBigrams = true)

    /** term -> df over unigrams and bigrams, as the dictionary holds it. */
    private lazy val dictDf: Map[String, Long] = {
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      turns.foreach(t => dictTerms(t.text).distinct.foreach(x => m(x) = m.getOrElse(x, 0L) + 1L))
      m.toMap
    }

    private def role(docId: Long): String = o.docsSorted((docId - 1).toInt).role

    private def firstPos(terms: Seq[String], docId: Long): Int =
      terms.flatMap(t => o.postings.get(t).flatMap(_.find(_._1 == docId)).map(_._3.head))
        .reduceOption(_ min _).getOrElse(-1)

    def answer(q: Query): Answer = q.kind match {
      case "bm25TopK" =>
        o.bm25TopK(q.text, K).map { case (d, s) => s"$d ${bits(s)}" }.toVector
      case "handleQuery" =>
        o.handleQuery(q.text, K).map { case (d, s, t) => s"$d ${bits(s)} $t" }.toVector
      case "phraseMatch" =>
        o.phraseMatch(phraseTerms(q.text)).toVector.sorted.map(_.toString)
      case "searchWithSnippets" =>
        val terms = queryTerms(q.text)
        o.bm25TopKForTerms(terms, K).map { case (d, s) =>
          s"$d ${bits(s)} ${firstPos(terms, d)}" }.toVector
      case "bm25TopKFiltered" =>
        o.bm25TopKForTerms(queryTerms(q.text), Int.MaxValue).iterator
          .filter { case (d, _) => role(d) == "user" }.take(K)
          .map { case (d, s) => s"$d ${bits(s)}" }.toVector
      case "suggest" =>
        dictDf.iterator.filter(_._1.startsWith(q.text)).toVector
          .sortBy { case (t, d) => (-d, t) }(Ordering.Tuple2(Ordering.Long, utf8Ordering))
          .take(SuggestN).map { case (t, d) => s"$t\t$d" }
      case "fuzzyTerms" =>
        o.fuzzyTerms(q.text, FuzzyD).toVector.sorted
    }
  }

  // --------------------------------------------------------------- ops

  /** Writes (doc_id, text) rows as a Parquet table at `path`: the
    * `documents` shape the ops functions take.
    */
  def stageDocs(spark: SparkSession, docs: Seq[(Long, String)], path: String, nproc: Int): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text").repartition(nproc).write.parquet(path)
  }

  /** Writes (vec_id, embedding) rows as a Parquet table at `path`. */
  def stageEmbeddings(spark: SparkSession, vecs: Seq[(Long, Array[Float])], path: String,
      nproc: Int): Unit = {
    import spark.implicits._
    vecs.toDF("vec_id", "embedding").repartition(nproc).write.parquet(path)
  }

  /** Exact-duplicate groups: doc_id -> is_dup. */
  def exactDedup(spark: SparkSession, docsPath: String): Map[Long, Boolean] =
    Dedup.exactDedup(spark.read.parquet(docsPath)).select("doc_id", "is_dup").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap

  /** MinHash LSH candidate pairs (3-shingles, 32 hashes, 8 bands of 4),
    * as GraftQueries' production catalog asks them.
    */
  def minHashPairs(spark: SparkSession, docsPath: String): Set[(Long, Long)] = {
    val sigs = Dedup.minHashSignatures(spark.read.parquet(docsPath), k = 3, nHashes = 32)
    Dedup.minHashCandidates(sigs, bands = 8, rowsPerBand = 4, minEstJaccard = 0.5)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  /** Per-document token statistics: doc_id -> n_tokens. */
  def tokenStats(spark: SparkSession, docsPath: String): Map[Long, Long] =
    TextOps.tokenStats(spark.read.parquet(docsPath)).select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Sequence packing: doc_id -> (n_tokens, pack_id, pack_pos). */
  def packSequences(spark: SparkSession, docsPath: String, budget: Int): Map[Long, (Int, Long, Long)] =
    Pipeline.packSequences(spark.read.parquet(docsPath), budget)
      .select("doc_id", "n_tokens", "pack_id", "pack_pos").collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap

  /** Exact cosine top-k against vector `queryId`, excluding it:
    * (vec_id, cosine rounded to 4 places) in rank order.
    */
  def cosineTopK(spark: SparkSession, embPath: String, query: Array[Float], queryId: Long,
      k: Int): Seq[(Long, Double)] =
    Similarity.bruteForceTopK(spark.read.parquet(embPath), query, k, excludeId = Some(queryId))
      .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
}
