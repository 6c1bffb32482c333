package graft.query

/** The serving engine's tuning values, fixed when a [[QueryEngine]] is
  * built: `new QueryEngine(spark, root, lemmas, EngineConfig(...))`, or
  * `engine.withConfig(_.copy(...))` for a second engine over the same
  * root that shares the first one's readers and warmed dictionaries and
  * leaves the first one unchanged. No value changes a query's result:
  * each picks a plan (driver-local, pruned, exact) or bounds driver
  * memory, and the specs pin the plans bit-identical.
  *
  * A value is a field only for one of three reasons, named in its
  * scaladoc: a caller outside the specs sets it; it is a driver-memory
  * budget a deployment sizes; or it is a threshold whose other side no
  * spec-sized corpus reaches, so a spec lowers it to test that side.
  * Every other plan choice is a constant rule on sizes the engine
  * already knows (e.g. [[QueryEngine.PositionalPruneDensity]],
  * [[TieredQuery.GuessFloor]], [[graft.index.MaxInLiterals]]). A read
  * restricted to candidate docs is not a choice either: it reads the
  * terms' chunks and skips, undecoded, every chunk whose doc range holds
  * no candidate (BENCH.md, "Candidate reads without the survivor
  * pre-pass").
  */
final case class EngineConfig(

    /** DRIVER BUDGET (a deployment sizes it; no main sets it, and
      * GenerationDeleteSpec and TombstoneWarmSpec set it to test both
      * sides). Tombstone sets up to this size
      * are collected ONCE (at warm-up, in one scan job when the
      * batches' recorded sizes sum to at most this) and served as a
      * broadcast sorted array (the Lucene liveDocs form) —
      * above it, takedown-wave scale, the per-query filter falls back to
      * a distributed anti-join and the driver-local gate stays shut. The
      * array is the right default: a measured 4.2M-turn probe with 420k
      * tombstones paid a 2.2× median per-query latency through the
      * anti-join (every fold rebuilds the broadcast hashed relation from
      * the del-* parquet), vs ~parity for the one-time collected array
      * probed by binary search inside the fold stage. 2M ids ≈ 16 MB
      * broadcast, re-shipped per executor like any task broadcast.
      */
    liveDocsCap: Long = 2000000L,

    /** DRIVER BUDGET. Lexicon-row cap for
      * [[QueryEngine.warmDictionaryLocal]], per reader — gated on
      * `meta.n_terms` (no job runs to decide). DRIVER
      * SIZING (round-5 verdict finding #5): a resident DictRow costs
      * ~(2 x term chars + 40 B fields + ~64 B String/entry overhead) ≈
      * 120-150 B for the 10-30-char terms natural-language lexicons
      * produce, so the 4M default budgets ~500-600 MB of driver heap —
      * sized for this rig's 8 GB driver; set ~n_terms x 150 B <= 5-10%
      * of driver heap when deploying (a standard 8-16 GB production
      * driver keeps the default; a 2 GB driver should lower it to ~1M).
      * The gate is a row count rather than bytes because the meta
      * carries no term-length statistic — a corpus with pathological
      * multi-KB "terms" (binary spill, no tokenizer cleaning)
      * underestimates, so lower the cap there. A 100 TB corpus lexicon
      * (~10^8 terms) fails the gate and lookups stay distributed pushed
      * probes.
      */
    dictLocalCap: Long = 4000000L,

    /** CALLERS: q24 and Bench force the block-max path with 1; the exact
      * fold is `Long.MaxValue`. Below this many total postings across the
      * query's terms, block-max pruning costs more Spark jobs than it
      * saves — score directly. WAND engages for stopword-scale terms,
      * exactly where it pays off.
      */
    wandMinPostings: Long = 100000L,

    /** DRIVER BUDGET (q24 and Bench shut it with 0). The
      * driver-local gate: when the total df of every term a call
      * decodes (unigrams and bigrams together) is at most this, the call
      * takes those terms' chunk rows from every reader (from the
      * resident postings, when the readers' recorded postings bytes fit
      * a share of the driver heap, else by a term_id-pruned collect in
      * ONE Spark job; see `QueryEngine.residentBudget`) and answers on
      * the driver through
      * [[LocalServing]] — the exact same formulas, fold order and
      * tie-breaks, so results are bit-identical (LocalServingSpec). It
      * covers `bm25TopK`, `handleQuery`, `phraseMatch`,
      * `searchWithSnippets` (plus one pushed `doc_id IN` job for the
      * result text) and `bm25ScoresFiltered` / `bm25TopKFiltered` (plus
      * one pushed job that runs the predicate over the docs those
      * postings hold), on single and generation roots alike; tombstoned
      * docs are dropped at decode (the gate stays shut above
      * [[liveDocsCap]]). A call's decoded postings are bounded by this
      * many; collected per call, the positional kinds (phrase, tiered,
      * snippets) also ship `pos_blob`, whose size grows with the collected terms' cf. 0
      * disables: every call then runs its distributed plan.
      */
    localMaxPostings: Long = 20000L,

    /** DRIVER BUDGET. Max tier-1 MaxScore candidates worth broadcasting
      * for chunk skipping; above it the exact unpruned plan is cheaper.
      * The guard is
      * a `limit(cap + 1).collect()` — a CollectLimit whose driver transfer
      * is BOUNDED BY THE CAP (cap+1 rows, ~tens of MB at the default),
      * never the candidate relation's full size: an essential mid-df term
      * (df ~ 10^9 at 10^12 docs) ships at most cap+1 of its rows before
      * the fallback fires, and the success path collects the same rows
      * anyway (routing + materialization in one job). Raising the value
      * raises the driver bill linearly — it is a driver-memory budget, not
      * a free threshold. Tests lower it to force the fallback.
      */
    wandCandidateCap: Long = 2000000L,

    /** UNREACHED AT SPEC SCALE: spec corpora never reach 20,000 tier-1
      * candidates, so specs set 0 to refine on every pruned query (the
      * refined cut must stay rank-identical to the exact path at ANY
      * candidate count). Tier-1 candidate count above which the
      * theta-refinement pass runs (with a 50·k floor). Kept by the
      * gate-shut A/B (BENCH.md, "Serving forks above the driver-local
      * gate", row "θ-refine gate"): refining from the 50·k floor alone
      * (1) ran 3–4 more jobs on the mid-df query (15 more per query set
      * at 420k turns) and was slower at 420k turns.
      */
    refineMinCandidates: Long = 20000L,

    /** DRIVER BUDGET. Claimed-doc cap for handleQuery's PRUNED tier
      * construction: when the phrase + bigram-conjunctive doc sets are each within this
      * bound they are collected and the unigram tier runs through the
      * block-max top-k machinery; above it the full exact-scoring form
      * runs (a query whose phrase matches millions of docs is scoring
      * stopword-scale sets anyway). Driver memory bound: two collects of
      * <= cap+1 longs (~2.4 MB each at the default). 300k measured ~20%
      * faster than the exact form for a 125k-claimed stopword-led phrase
      * at 4.2M docs (pruned+adaptive tier 2, bit-identical results —
      * BENCH.md round 5). -1 forces the exact form.
      */
    handleQueryClaimCap: Int = 300000,

    /** DRIVER BUDGET. Max doc-intersection size for the candidate-pruned
      * positional plan, whose candidates are collected on the driver;
      * above it (an all-stopword phrase over most of the corpus) the plan
      * falls back to the shuffle-join form instead of a driver collect.
      */
    phraseMaxCandidates: Long = 2000000L)
