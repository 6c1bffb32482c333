package graft.query

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.index.{Compactor, Generations, IndexBuilder, IndexConf, MultiGenEngine}
import graft.oracle.Oracle

/** Seeded randomized differential testing of the flagship entry point:
  * `handleQuery` must answer IDENTICALLY (tier/rank/bit-identical
  * scores) from every serving shape — a fresh single index, an
  * uncompacted three-generation root, and the same root after a partial
  * merge — and match the scalar oracle, for machine-generated queries
  * that mix corpus terms, inflected forms, near-miss typos and absent
  * junk. Hand-picked oracle rows exercise the paths we thought of;
  * the seeded generator walks the ones we didn't (absent-term claim
  * handling, single-term phrases, all-junk queries, duplicate terms).
  * Failures reproduce exactly: the query list is a pure function of the
  * fixed seed.
  */
class RandomizedParitySpec extends SparkSpecBase {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300,
    nSalts = 4, indexBigrams = true)
  private lazy val allTurns = Transcripts.generateLocal(40L)
  private lazy val oracle = new Oracle(allTurns, lemmas, indexBigrams = true)

  /** Corpus vocabulary (post-tokenizer, so lemma-folded): the honest
    * pool for in-domain draws.
    */
  private lazy val vocab: Vector[String] =
    allTurns.take(80).flatMap(t =>
      graft.core.Tokenizer.tokenize(t.text, lemmas).map(_.term))
      .distinct.sorted.toVector

  private lazy val single: QueryEngine = {
    val dir = tmpDir("graft-fuzzq-single")
    import spark.implicits._
    new IndexBuilder(spark, lemmas, conf)
      .build(spark.createDataset(allTurns), dir)
    new QueryEngine(spark, dir, lemmas)
  }

  private lazy val root: String = {
    val dir = tmpDir("graft-fuzzq-root")
    import spark.implicits._
    val (b1, rest) = allTurns.splitAt(allTurns.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    dir
  }

  // dev soak knobs (CI defaults fixed → deterministic): e.g.
  //   GRAFT_FUZZ_QUERIES=300 GRAFT_FUZZ_SEED=7 sbt "testOnly *RandomizedParitySpec"
  private val fuzzQueries =
    sys.env.get("GRAFT_FUZZ_QUERIES").map(_.toInt).getOrElse(30)
  private val fuzzSeed =
    sys.env.get("GRAFT_FUZZ_SEED").map(_.toLong).getOrElse(20260818L)

  test("handleQuery: seeded random queries identical across single / 3-gen / merged / oracle") {
    val queries =
      RandomQueries.queries(vocab, new scala.util.Random(fuzzSeed), fuzzQueries)

    val mPre = new MultiGenEngine(spark, root, lemmas).warmDictionaries()
    assert(mPre.gens.size == 3)
    // the per-generation union form rides along: every query also runs
    // through fusedRead=false on the 3-gen root, so the randomized walk
    // differentials the fused read too
    val mPreLegacy = new MultiGenEngine(spark, root, lemmas).warmDictionaries()
    mPreLegacy.fusedRead = false
    // partial merge AFTER mPre is constructed: mPre keeps serving the
    // retired (still-on-disk) sources — the documented reader contract
    val merged = Compactor.mergeGenerations(spark, root,
      mPre.gens.take(2), lemmas, conf)
    val mPost = new MultiGenEngine(spark, root, lemmas).warmDictionaries()
    assert(mPost.gens == Seq(s"$root/gen-00002", merged))

    queries.foreach { q =>
      val want = oracle.handleQuery(q, 10)
      def got(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double, Int)] =
        df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
      val s = got(single.handleQuery(q, 10))
      assert(s == want, s"single vs oracle drift for '$q'\n got=$s\nwant=$want")
      val pre = got(mPre.handleQuery(q, 10))
      assert(pre == want, s"3-gen vs oracle drift for '$q'\n got=$pre\nwant=$want")
      val leg = got(mPreLegacy.handleQuery(q, 10))
      assert(leg == want, s"3-gen legacy-read drift for '$q'\n got=$leg\nwant=$want")
      val post = got(mPost.handleQuery(q, 10))
      assert(post == want, s"merged vs oracle drift for '$q'\n got=$post\nwant=$want")
    }
  }

  test("serving surface: seeded random filtered/snippets/suggest walks identical across shapes") {
    // The hand-picked serving rows (q51-q53, ServingSpec) exercise the
    // predicates and prefixes we thought of; this walk draws random
    // ones. Fresh root (the sibling test partially merges `root`
    // mid-test); contiguous batches keep doc_ids aligned with the
    // single index, so results must match row-for-row across shapes.
    import spark.implicits._
    val dir = tmpDir("graft-fuzzq-serving")
    val (b1, rest) = allTurns.splitAt(allTurns.size / 3)
    val (b2, b3) = rest.splitAt(rest.size / 2)
    Seq(b1, b2, b3).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    val multi = new MultiGenEngine(spark, dir, lemmas).warmDictionaries()
    val legacy = new MultiGenEngine(spark, dir, lemmas).warmDictionaries()
    legacy.fusedRead = false

    val rnd = new scala.util.Random(fuzzSeed + 1)
    def word(): String = vocab(rnd.nextInt(vocab.size))
    val n = math.max(10, fuzzQueries / 3)
    (1 to n).foreach { _ =>
      val q = Seq.fill(1 + rnd.nextInt(3))(word()).mkString(" ")
      val k = 1 + rnd.nextInt(10)
      rnd.nextInt(3) match {
        case 0 => // filtered top-k under a random metadata predicate
          val m = 2 + rnd.nextInt(4)
          val pred = org.apache.spark.sql.functions.col("doc_len") % m ===
            rnd.nextInt(m)
          def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
            .map(r => (r.getLong(0), r.getDouble(1))).toSeq
          val s = rows(single.bm25TopKFiltered(q, k, pred))
          assert(rows(multi.bm25TopKFiltered(q, k, pred)) == s,
            s"filtered drift: '$q' k=$k mod=$m")
          assert(rows(legacy.bm25TopKFiltered(q, k, pred)) == s,
            s"filtered legacy drift: '$q' k=$k mod=$m")
        case 1 => // result page with snippets at a random window
          val w = 1 + rnd.nextInt(5)
          def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
            .map(r => (r.getLong(0), r.getDouble(1),
              Option(r.get(2)), Option(r.get(3)))).toSeq
          val s = rows(single.searchWithSnippets(q, k, w))
          assert(rows(multi.searchWithSnippets(q, k, w)) == s,
            s"snippets drift: '$q' k=$k w=$w")
          assert(rows(legacy.searchWithSnippets(q, k, w)) == s,
            s"snippets legacy drift: '$q' k=$k w=$w")
        case _ => // typeahead on a random in-vocab prefix (or junk)
          val base = word()
          val prefix =
            if (rnd.nextInt(5) == 0) "zzq" // absent
            else base.take(1 + rnd.nextInt(math.max(1, base.length)))
          def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
            .map(r => (r.getString(0), r.getLong(1))).toSeq
          val s = rows(single.suggest(prefix, k))
          assert(rows(multi.suggest(prefix, k)) == s,
            s"suggest drift: prefix='$prefix' n=$k")
      }
    }
  }
}
