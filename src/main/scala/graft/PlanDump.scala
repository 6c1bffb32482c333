package graft
import org.apache.spark.sql.functions._
import graft.corpus.Transcripts
import graft.index.{IndexBuilder, IndexConf}
import graft.query.{EngineConfig, QueryEngine}

/** Writes docs/PLANS.md: `explain("formatted")` captures of the headline
  * physical plans, with the scale-relevant features annotated.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.driver.host", "localhost")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/tmp/graft_plan_index"
    if (!new java.io.File(s"$dir/index_meta.json").exists())
      new IndexBuilder(spark, Transcripts.lemmas, IndexConf(numParts = 8))
        .build(Transcripts.generate(spark, 100L), dir)
    val eng = new QueryEngine(spark, dir, Transcripts.lemmas)
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline operators\n\n")
    sb.append("Auto-generated by `graft.PlanDump` over a 100-conv index; ")
    sb.append("re-run with `sbt \"runMain graft.PlanDump\"`.\n")
    def cap(title: String, note: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      sb.append(s"\n## $title\n\n$note\n\n```\n")
      sb.append(df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      sb.append("```\n")
    }
    cap("Pruned postings scan",
      "`PushedFilters` carries term_id to the Parquet reader; row-group " +
      "min/max on the (term_id, chunk_seq)-sorted table skips everything else.") {
      eng.postings.filter(col("term_id") === 7L)
        .select("term_id", "chunk_seq", "n_postings")
    }
    cap("BM25 exact scoring + top-k",
      "Ends in TakeOrderedAndProject (distributed bounded heap); the fold " +
      "over sort_array(collect_list(...)) fixes the per-term summation order.") {
      eng.bm25Scores(Seq("the", "alba"))
        .orderBy(col("score").desc, col("doc_id").asc).limit(10)
    }
    cap("Rarest-first conjunctive intersection",
      "Join chain ordered by ascending df; the rare accumulator is " +
      "broadcast (BroadcastHashJoin), so no shuffle of the big posting list.") {
      eng.conjunctive(Seq("the", "alba"))
    }
    def delRoot(): String = {
      val root = "/tmp/graft_plan_delroot"
      if (!graft.index.Fs.exists(s"$root/gen-00000/index_meta.json"))
        graft.index.Generations.appendAt(spark,
          Transcripts.generate(spark, 50L), root, s"$root/gen-00000",
          Transcripts.lemmas, IndexConf(numParts = 8))
      if (graft.index.Generations.delDirs(root).isEmpty) {
        val spark0 = spark
        import spark0.implicits._
        graft.index.Generations.deleteDocsAt(spark,
          spark.createDataset(Seq(1L, 2L, 3L)), root, s"$root/del-00000")
      }
      root
    }
    cap("Tombstoned (deleted) docs excluded from a query (default: liveDocs filter)",
      "Tombstone sets under liveDocsCap are collected ONCE and probed " +
      "by a broadcast binary-search filter fused into the fold stage — " +
      "no join, no per-query broadcast-relation build (the anti-join " +
      "form measured 2.2x median query latency at 4.2M turns / 420k " +
      "tombstones). Deleted docs never reach theta/candidate selection; " +
      "statistics stay pre-delete (Lucene liveDocs). Roots without " +
      "deletes carry no filter at all (plan-asserted in the spec).") {
      new graft.index.MultiGenEngine(spark, delRoot(), Transcripts.lemmas)
        .conjunctive(Seq("the"))
    }
    cap("Fused multi-generation scoring read",
      "ONE multi-path scan over every generation's postings dir (the " +
      "pushed term_id IN is the union of the generations' local ids; " +
      "the owning generation is recovered from the file path inside " +
      "the decode, so invalid (gen, term_id) rows drop before any blob " +
      "byte is decoded). Before the fusion this was one typed sub-plan " +
      "PER GENERATION and warm p50 grew near-linearly with fan-out " +
      "(3.73 s @8 gens -> 0.86 s, BENCH.md round-5 addendum).") {
      // the distributed read, not the driver-local gate
      new graft.index.MultiGenEngine(spark, delRoot(), Transcripts.lemmas,
        EngineConfig(localMaxPostings = 0L))
        .bm25TopKForTerms(Seq("the", "of"), 10)
    }
    cap("Takedown-wave fallback (tombstones above liveDocsCap)",
      "Above the cap the filter becomes a distributed anti-join against " +
      "the del-* parquet (BroadcastHashJoin LeftAnti while the wave " +
      "fits the broadcast threshold — AQE-routed, shuffled beyond it).") {
      new graft.index.MultiGenEngine(spark, delRoot(), Transcripts.lemmas,
        EngineConfig(liveDocsCap = 0L))
        .conjunctive(Seq("the"))
    }
    cap("Exact dedup",
      "groupBy(content_hash) with map-side partial aggregation + join " +
      "back — no Window, so a single boilerplate hash with 10^8 copies " +
      "never funnels through one task (AQE can skew-split the join).") {
      graft.ops.Dedup.exactDedup(
        eng.docs.select(col("doc_id"), col("text")))
    }
    cap("Brute-force cosine top-k",
      "Single scan; the dot product is a codegen'd aggregate(zip_with) " +
      "expression; TakeOrderedAndProject caps memory at k.") {
      val spark0 = spark
      import spark0.implicits._
      val emb = (0L until 50L).map(i => (i, Seq.tabulate(8)(d => (i + d).toFloat)))
        .toDF("vec_id", "embedding")
      graft.ops.Similarity.bruteForceTopK(emb, Array.tabulate(8)(_.toFloat), 5)
    }
    cap("SymSpell fuzzy probe",
      "A pushed `variant IN (...)` over the persisted deletion-" +
      "neighborhood table (sorted by variant -> row-group pruned), then " +
      "exact levenshtein verification on the handful of candidates — " +
      "O(|q|) row groups instead of a full-lexicon scan.") {
      eng.fuzzyTerms("alba", 1)
    }
    cap("Dictionary term probe",
      "`term IN (...)` pushed into a term-sorted, range-partitioned " +
      "table: O(query terms) row groups at any lexicon size.") {
      eng.dictionary.filter(col("term").isin("the", "alba"))
    }
    cap("Benchmark-contamination screen",
      "The (small) benchmark shingle set broadcasts into a LEFT SEMI " +
      "join against the corpus shingles — no shuffle of the big side.") {
      val docs = eng.docs.select(col("doc_id"),
        col("conv_id").as("text")) // any text-ish column works for the plan
      graft.ops.Pipeline.contaminationCheck(docs, docs.limit(5), 3)
    }
    cap("Cross-document duplicated spans",
      "explode -> two hash-partitioned aggregations, both with map-side " +
      "partial combine (HashAggregate pairs); no joins, no pair " +
      "enumeration — boilerplate spans stay O(1) rows each.") {
      graft.ops.Dedup.duplicateSpans(
        eng.docs.select(col("doc_id"), col("text")), n = 8)
    }
    cap("Gap-based event sessionization",
      "Both window passes and the final aggregation share ONE exchange " +
      "by user_id (a single Sort + Window chain feeds the aggregate); " +
      "per-key state is one lag/sum row, never a session list.") {
      val spark0 = spark
      import spark0.implicits._
      val ev = (0L until 50L).map(i =>
        (i, new java.sql.Timestamp(i * 60000), i % 5, (i % 7).toDouble))
        .toDF("event_id", "ts", "user_id", "value")
      graft.ops.Sessions.sessionizeEvents(ev, gapMs = 10 * 60 * 1000L)
    }
    cap("Vector-space scoring (A9) over the persisted norms table",
      "Query-term postings come through the same pruned scan as BM25; " +
      "the per-doc numerator folds in fixed term_id order; the join " +
      "against the doc_id-sorted vsm_norms table touches only candidate " +
      "rows (norms are backfilled once per index, never per query).") {
      eng.vsmScores(Seq("the", "alba"))
    }
    cap("PII-style redaction",
      "Pure codegen'd regexp_replace/regexp_extract_all projection — " +
      "one WholeStageCodegen span over the scan, zero exchanges; " +
      "embarrassingly parallel at any corpus size.") {
      graft.ops.TextOps.redact(eng.docs.select(col("doc_id"), col("text")))
    }
    cap("Duplicate-cluster assembly (after connected components)",
      "Edge sets under ccLocalMaxEdges (a cap-bounded limit(cap+1) " +
      "collect) are solved with driver union-find and joined back as " +
      "one small relation — the plan below: assignment LocalRelation " +
      "joined to the node universe, sized with map-side-combined " +
      "HashAggregates, never a component-partitioned window. Above the " +
      "cap, connectedComponents iterates eagerly (one job per " +
      "large-star/small-star round, each a groupBy(min) + join keyed " +
      "on node id — AQE-skew-splittable, no adjacency lists, lineage " +
      "truncated per round via localCheckpoint or a reliable " +
      "checkpointDir).") {
      val spark0 = spark
      import spark0.implicits._
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
      graft.ops.Dedup.clusterDocs(
        eng.docs.select(col("doc_id")), pairs)
    }
    cap("Skew-safe per-group top-k",
      "Two window passes: the first keyed on (group, physical partition " +
      "id) prunes each group to k rows per input partition WITHOUT " +
      "shuffling the relation onto the group key alone, so a boilerplate " +
      "bucket never funnels through one task; the second ranks the " +
      "<= k*nPartitions survivors per group. Output is independent of " +
      "the physical layout (the heap property makes phase 1 lossless).") {
      val docs = eng.docs.select(col("doc_id"),
        pmod(col("doc_id"), lit(4)).as("grp"),
        length(col("text")).cast("double").as("score"))
      graft.ops.Pipeline.topKPerGroup(docs, "grp", "score", "doc_id", 5)
    }
    cap("Filtered search (broad-filter path)",
      "The metadata predicate is column-pruned into the docs scan; the " +
      "allowed doc_ids LEFT SEMI the per-posting impacts BEFORE the " +
      "per-doc fold — join and aggregation both hash by doc_id, so the " +
      "postings shuffle once. (The selective-filter path instead " +
      "collects the ids and decodes only the chunks whose doc range " +
      "contains a candidate — same results, plan-routed by one count.)") {
      eng.bm25ScoresFiltered(Seq("the", "alba"),
        col("doc_len") >= 10, candidateCap = 0)
    }
    cap("Keyword-in-context snippets",
      "first_pos comes from the positional index via the candidate-" +
      "pruned chunk decode (O(k) chunks per term for a top-k input); " +
      "the text join touches k rows of the doc_id-sorted docs parquet; " +
      "the window slice is a codegen'd slice/array_join projection.") {
      eng.snippetsFor(Seq("the"), Array(1L, 2L, 3L), window = 3)
    }
    cap("Prefix suggest (typeahead)",
      "StringStartsWith pushes into the term-sorted dictionary " +
      "(contiguous row-group range); TakeOrderedAndProject bounds " +
      "memory at n; postings are never touched.") {
      eng.suggest("th", 5)
    }
    cap("Star-edge near-dup (uncapped linear cluster feed)",
      "The at-scale LSH dedup shape (q55-q57): bucket reps are a " +
      "map-side-combined groupBy(min) over (band, key); members join " +
      "their rep and dedup to DISTINCT (doc_id, rep) BEFORE signatures " +
      "join back for the verify — every stage linear in bucket size " +
      "(no per-bucket self-join anywhere in the plan), so the bucket " +
      "cap is optional and a 10^6-member boilerplate bucket costs 10^6 " +
      "rows, not 10^12 pairs.") {
      graft.ops.Dedup.simHashStarEdges(
        graft.ops.Dedup.simHash(eng.docs.select(col("doc_id"), col("text"))),
        maxHam = 3)
    }
    cap("Deterministic stratified sample",
      "md5-derived keep decision is a pure codegen'd filter — no " +
      "sampling state, no RNG, reproducible at any parallelism.") {
      val docs = eng.docs.select(col("doc_id"),
        col("role").as("stratum"))
      graft.ops.Pipeline.stratifiedSample(docs, "stratum",
        Map("user" -> 0.5, "article" -> 1.0))
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("docs"))
    java.nio.file.Files.writeString(java.nio.file.Paths.get("docs/PLANS.md"), sb.toString)
    println("PLANDUMP wrote docs/PLANS.md " + sb.length + " chars")
    spark.stop()
  }
}
