package graft.query

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.index.{Generations, IndexBuilder, IndexConf, MultiGenEngine}
import graft.ops.{Dedup, Pipeline, Sessions, Similarity, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the things that make the design hold at
  * 100 TB must be visible in `explain` — predicate pushdown into the
  * postings Parquet scan, column pruning, whole-stage codegen on the
  * scoring path, and the join, exchange and top-k shapes of the serving
  * and corpus operators. Inputs are parquet-backed: a local relation
  * constant-folds its projections away and hides the plan under test.
  */
class PlanSpec extends SparkSpecBase {

  private lazy val indexDir: String = {
    val dir = tmpDir("graft-plan-index")
    new IndexBuilder(spark, Transcripts.lemmas, IndexConf(numParts = 4))
      .build(Transcripts.generate(spark, 30L), dir)
    dir
  }
  private lazy val engine = new QueryEngine(spark, indexDir, Transcripts.lemmas)

  private def planOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def countOf(pattern: String, plan: String): Int =
    pattern.r.findAllIn(plan).size

  private def textDocs: DataFrame = engine.docs.select(col("doc_id"), col("text"))

  /** `rows` written to a fresh parquet directory and read back. */
  private def parquetOf(rows: DataFrame): DataFrame = {
    val dir = tmpDir("graft-plan-input") + "/t"
    rows.write.parquet(dir)
    spark.read.parquet(dir)
  }

  test("term_id predicate pushes down to the postings Parquet scan") {
    val plan = planOf(engine.postings.filter(col("term_id") === 7L))
    assert(plan.contains("PushedFilters") &&
      plan.contains("EqualTo(term_id,7)"), s"no pushdown in:\n$plan")
  }

  test("fuzzy lookup is a keyed probe of the deletion index, not a dictionary scan") {
    val plan = planOf(engine.fuzzyTerms("alba", 1))
    // the SymSpell path probes the persisted variant table with a pushed
    // IN filter (row-group pruned: the table is sorted by variant)
    assert(plan.contains("PushedFilters") && plan.contains("In(variant"),
      s"no variant-IN pushdown in:\n$plan")
    assert(!plan.contains("pos_blob"), "fuzzy probe must not touch postings columns")
  }

  test("fuzzy d=2 is ALSO a pushed variant-IN probe (lazy-backfilled table)") {
    val plan = planOf(engine.fuzzyTerms("alba", 2))
    assert(plan.contains("PushedFilters") && plan.contains("In(variant"),
      s"d=2 should probe a variant table, got:\n$plan")
    assert(!plan.contains("pos_blob"), "fuzzy probe must not touch postings columns")
  }

  test("fuzzy d=4 (above the variant-table cap) is a PUSHED cp_len range probe") {
    val plan = planOf(engine.fuzzyTerms("alba", 4))
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(cp_len") &&
      plan.contains("LessThanOrEqual(cp_len"),
      s"d=4 should push a cp_len range into the dict_by_len scan, got:\n$plan")
    assert(!plan.contains("In(variant"), "d=4 must not probe a variant table")
    assert(!plan.contains("pos_blob"), "fuzzy probe must not touch postings columns")
  }

  test("fuzzy beyond MaxTermLen ALSO takes the cp_len range probe (not a full scan)") {
    val longQ = "a" * (graft.core.Fuzzy.MaxTermLen + 1)
    val plan = planOf(engine.fuzzyTerms(longQ, 1))
    assert(plan.contains("GreaterThanOrEqual(cp_len"),
      s"over-long query should range-probe dict_by_len:\n$plan")
    assert(!plan.contains("In(variant"), "over-long query must not probe the variant table")
    assert(!plan.contains("pos_blob"), "fuzzy probe must not touch postings columns")
  }

  test("dictionary layout: term IN pushdown over a term-sorted, range-partitioned table") {
    val plan = planOf(engine.dictionary.filter(col("term").isin("the", "alba")))
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"no term-IN pushdown in:\n$plan")
    // layout: every parquet file covers a disjoint term range (so the
    // pushed filter prunes to O(query terms) row groups at any lexicon
    // size) and is sorted within
    val perFile = spark.read.parquet(s"$indexDir/dictionary")
      .select(col("term"), input_file_name().as("f"))
      .groupBy("f").agg(min("term").as("lo"), max("term").as("hi"))
      .collect().map(r => (r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(perFile.nonEmpty)
    perFile.sliding(2).foreach {
      case Array(a, b) => assert(a._2 <= b._1,
        s"dictionary files overlap in term ranges: $a vs $b")
      case _ => ()
    }
  }

  test("scoring path pruned: decode reads only the needed columns") {
    val entries = engine.lookupTerms(Seq("the"))
    val plan = planOf(
      engine.postings.filter(col("term_id").isin(entries.map(_.term_id): _*))
        .select(col("term_id"), col("n_postings"), col("doc_gaps"),
          col("tfs"), col("dls")))
    assert(plan.contains("ReadSchema") && !plan.contains("pos_blob"),
      s"scoring scan should not read pos_blob:\n$plan")
  }

  test("top-k plans as TakeOrderedAndProject (bounded heap, no full sort)") {
    val scored = engine.bm25Scores(Seq("the", "alba"))
    val plan = planOf(scored.orderBy(col("score").desc, col("doc_id").asc).limit(10))
    assert(plan.contains("TakeOrderedAndProject"), s"expected bounded top-k in:\n$plan")
  }

  test("conjunctive chain broadcasts the rare side") {
    val plan = planOf(engine.conjunctive(Seq("the", "alba")))
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }

  test("conjunctive chain hints ONE BroadcastExchange total, not one per join step") {
    // hinting the ACCUMULATED join result each step (the round-4 shape)
    // would re-broadcast the shrinking accumulator at every join; only
    // the first (rarest) relation carries the hint, later steps are
    // AQE's call at runtime. Auto-broadcast is disabled so the static
    // plan shows hint-driven exchanges ONLY.
    val terms = engine.dictionary
      .filter(col("df") >= 2).orderBy(col("term")).limit(3)
      .collect().map(_.getAs[String]("term")).toSeq
    assert(terms.size == 3, "corpus too small for a 3-term conjunctive")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(engine.conjunctive(terms))
      val n = "BroadcastExchange".r.findAllIn(plan).size
      assert(n == 1,
        s"expected exactly 1 hint-driven BroadcastExchange for 3 rare terms, got $n in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("semi-join conjunctive chain joins by LeftSemi only") {
    // q30's shape beside q04's inner-join chain: the rarest term's doc
    // ids drive a chain of LEFT SEMI joins against the other terms'
    val terms = engine.dictionary
      .filter(col("df") >= 2).orderBy(col("term")).limit(3)
      .collect().map(_.getAs[String]("term")).toSeq
    assert(terms.size == 3, "corpus too small for a 3-term conjunctive")
    val plan = planOf(engine.conjunctiveSemi(terms))
    assert(countOf("LeftSemi", plan) == 2, s"expected 2 LeftSemi joins in:\n$plan")
    assert(!plan.contains("Inner"), s"expected no inner join in:\n$plan")
  }

  test("whole-stage codegen covers the quality-scoring expressions") {
    // parquet-backed input (a literal local relation constant-folds away)
    val docs = engine.docs.select(col("doc_id"), col("text"))
    val plan = planOf(graft.ops.TextOps.qualityScore(docs))
    // executedPlan.toString renders WholeStageCodegen stages as "*(n)"
    assert(plan.contains("*(1)"), s"no codegen span in:\n$plan")
  }

  test("multi-generation scoring reads every generation's postings in ONE scan") {
    import spark.implicits._
    val root = tmpDir("graft-plan-gens")
    val turns = Transcripts.generateLocal(30L)
    turns.grouped((turns.size + 2) / 3).foreach(b =>
      Generations.append(spark, spark.createDataset(b), root, Transcripts.lemmas,
        IndexConf(numParts = 4)))
    val multi = new MultiGenEngine(spark, root, Transcripts.lemmas,
      EngineConfig(localMaxPostings = 0L))
    assert(multi.gens.size == 3)
    val plan = planOf(multi.bm25TopKForTerms(Seq("the", "of"), 10))
    assert(countOf("FileScan parquet", plan) == 1, s"expected one scan in:\n$plan")
    assert(plan.contains("InMemoryFileIndex(3 paths)") && plan.contains("gen-00000/postings"),
      s"the scan should cover the 3 generations' postings:\n$plan")
    // the owning generation comes from the file path inside the decode
    assert(plan.contains("input_file_name()"), s"no file-path column in:\n$plan")
  }

  test("broad filtered route: the allowed docs LeftSemi the impacts below the per-doc fold") {
    val shut = engine.withConfig(_.copy(localMaxPostings = 0L))
    val plan = planOf(shut.bm25ScoresFiltered(Seq("the", "alba"),
      col("doc_len") >= 10, candidateCap = 0))
    val semi = plan.indexOf("LeftSemi")
    val fold = plan.indexOf("partial_collect_list")
    assert(semi >= 0 && fold >= 0 && fold < semi,
      s"expected a LeftSemi below the per-doc aggregate in:\n$plan")
    assert(plan.contains("FileScan parquet [doc_id") && plan.contains("doc_len"),
      s"the predicate should run in a pruned docs scan:\n$plan")
  }

  test("VSM scoring joins the persisted norms table, not a recomputation from postings") {
    val plan = planOf(engine.vsmScores(Seq("the", "alba")))
    assert(plan.contains("/vsm_norms]"), s"no vsm_norms scan in:\n$plan")
    assert(countOf("FileScan parquet \\[term_id", plan) == 1, s"one postings scan expected:\n$plan")
    assert(plan.contains("PushedFilters: [In(term_id"), s"no term_id-IN pushdown in:\n$plan")
  }

  test("contamination screen broadcasts the benchmark shingles into a LeftSemi") {
    val docs = engine.docs.select(col("doc_id"), col("conv_id").as("text"))
    // auto-broadcast off: only the operator's own hint can broadcast, as
    // at a corpus scale no size estimate would
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = planOf(Pipeline.contaminationCheck(docs, docs.limit(5), 3))
      assert("BroadcastHashJoin .*LeftSemi, BuildRight".r.findFirstIn(plan).nonEmpty,
        s"expected a broadcast LeftSemi in:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("duplicateSpans: two partially combined aggregations, no join") {
    val plan = planOf(Dedup.duplicateSpans(textDocs, n = 8))
    assert(!plan.contains("Join"), s"unexpected join in:\n$plan")
    assert(countOf("Exchange hashpartitioning", plan) == 2, s"two shuffles expected:\n$plan")
    assert(countOf("Aggregate\\(keys?=\\[[^\\]]*\\], functions=\\[partial_", plan) == 2,
      s"each shuffle should follow a map-side partial aggregate:\n$plan")
  }

  test("sessionizeEvents: both window passes and the aggregate share ONE exchange") {
    import spark.implicits._
    val events = parquetOf((0L until 50L).map(i =>
        (i, new java.sql.Timestamp(i * 60000), i % 5, (i % 7).toDouble))
      .toDF("event_id", "ts", "user_id", "value"))
    val plan = planOf(Sessions.sessionizeEvents(events, gapMs = 10 * 60 * 1000L))
    assert(countOf("Exchange", plan) == 1, s"expected exactly one exchange in:\n$plan")
    assert(countOf("Window \\[", plan) == 2, s"expected two window passes in:\n$plan")
  }

  test("redact and stratifiedSample run with no exchange") {
    val redacted = planOf(TextOps.redact(textDocs))
    assert(!redacted.contains("Exchange") && redacted.contains("*(1)"),
      s"redact should be one codegen stage over the scan:\n$redacted")
    val sampled = planOf(Pipeline.stratifiedSample(
      engine.docs.select(col("doc_id"), col("role").as("stratum")), "stratum",
      Map("user" -> 0.5, "article" -> 1.0)))
    assert(!sampled.contains("Exchange"), s"stratifiedSample should not shuffle:\n$sampled")
  }

  test("bruteForceTopK ends in TakeOrderedAndProject over one scan") {
    import spark.implicits._
    val emb = parquetOf((0L until 50L)
      .map(i => (i, Seq.tabulate(8)(d => (i + d).toFloat))).toDF("vec_id", "embedding"))
    val plan = planOf(Similarity.bruteForceTopK(emb, Array.tabulate(8)(_.toFloat), 5))
    assert(plan.startsWith("TakeOrderedAndProject(limit=5"), s"no bounded top-k in:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("clusterDocs under the edge cap: a driver assignment relation, no window") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val plan = planOf(Dedup.clusterDocs(engine.docs.select(col("doc_id")), pairs))
    assert("LocalTableScan \\[doc_id#\\d+L, component#\\d+L, cluster_size#".r
      .findFirstIn(plan).nonEmpty, s"no driver-built assignment in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("Window"),
      s"expected a broadcast join back and no window in:\n$plan")
  }

  test("topKPerGroup: the first window is keyed on (group, partition id)") {
    val docs = engine.docs.select(col("doc_id"),
      pmod(col("doc_id"), lit(4)).as("grp"), length(col("text")).cast("double").as("score"))
    val plan = planOf(Pipeline.topKPerGroup(docs, "grp", "score", "doc_id", 5))
    assert(countOf("Window \\[", plan) == 2, s"expected two window passes in:\n$plan")
    assert("Exchange hashpartitioning\\(grp#\\d+L, __pid#".r.findFirstIn(plan).nonEmpty,
      s"phase 1 should be keyed on the partition id:\n$plan")
    // each shuffle carries at most k rows per key: the limit runs before it
    assert(countOf("WindowGroupLimit .*Partial", plan) == 2,
      s"expected a partial group limit below each shuffle:\n$plan")
  }

  /** Joins keyed on an LSH band whose two sides are both raw bucket
    * members (neither is an aggregate): each emits every member pair of
    * a bucket, quadratic in its size.
    */
  private def bucketJoins(df: DataFrame): (Int, Int) = {
    def aggregated(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case Project(_, c) => aggregated(c)
      case Filter(_, c) => aggregated(c)
      case _ => false
    }
    val banded = df.queryExecution.optimizedPlan.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "band")) => j
    }
    (banded.size, banded.count(j => !aggregated(j.left) && !aggregated(j.right)))
  }

  test("star edges join members to a per-bucket aggregate, never a bucket self-join") {
    val sim = Dedup.simHash(textDocs)
    val sigs = Dedup.minHashSignatures(textDocs, k = 3, nHashes = 32)
    Seq(Dedup.simHashStarEdges(sim, maxHam = 3),
        Dedup.minHashStarEdges(sigs, bands = 8, rowsPerBand = 4)).foreach { star =>
      val (keyed, selfJoins) = bucketJoins(star)
      assert(keyed == 1 && selfJoins == 0,
        s"$keyed band-keyed joins, $selfJoins of them self-joins:\n${star.queryExecution.optimizedPlan}")
    }
    // the check sees the quadratic shape: all-pairs candidates self-join
    assert(bucketJoins(Dedup.simHashCandidates(sim, maxHam = 3, maxBucket = Int.MaxValue))
      ._2 == 1)
  }
}
