package graft.ops

import graft.SparkSpecBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpecBase {
  import org.apache.spark.sql.Row

  private def docsDf(rows: Seq[(Long, String)]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("doc_id", "text")
  }

  private lazy val docs = docsDf(Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "the quick brown fox jumps over the lazy dog",        // exact dup of 1
    3L -> "the quick brown fox jumps over the lazy cat",        // near dup of 1
    4L -> "completely different text about spark and parquet",
    5L -> "spark and parquet make completely different text",   // permuted 4
    6L -> "unrelated words entirely here nothing shared at all"))

  test("exactDedup groups identical texts, keeps min doc_id") {
    val res = Dedup.exactDedup(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(res(1L) == ((2L, 1L, false)))
    assert(res(2L) == ((2L, 1L, true)))
    assert(res(4L)._1 == 1L && !res(4L)._3)
  }

  test("exactDedup: skew-safe plan (HashAggregate, no Window) on a planted 100k-copy group") {
    val spark0 = spark
    import spark0.implicits._
    // one boilerplate text duplicated 100k times + a handful of singletons:
    // the shape that makes a content_hash-partitioned window a one-task
    // sort/spill hotspot at web scale
    val big = spark0.range(0, 100000).select(col("id").as("doc_id"),
      lit("boilerplate cookie banner text repeated everywhere").as("text"))
    val small = docsDf(Seq(200001L -> "unique alpha", 200002L -> "unique beta"))
    val res = Dedup.exactDedup(big.union(small))
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), s"expected hash aggregate in:\n$plan")
    assert(!plan.contains("Window"), s"window (skew hotspot) in plan:\n$plan")
    val byId = res.filter(col("doc_id").isin(0L, 99999L, 200001L))
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("group_size"), r.getAs[Long]("rep_id"), r.getAs[Boolean]("is_dup"))).toMap
    assert(byId(0L) == ((100000L, 0L, false)))
    assert(byId(99999L) == ((100000L, 0L, true)))
    assert(byId(200001L) == ((1L, 200001L, false)))
  }

  test("shingles: correct 3-gram count and content") {
    val sh = Dedup.shingles(docsDf(Seq(1L -> "a b c d")), 3)
      .collect().map(_.getString(1)).toSet
    assert(sh == Set("a b c", "b c d"))
  }

  test("jaccardAdjacent matches hand-computed jaccard") {
    val res = Dedup.jaccardAdjacent(docs, 3).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(res((1L, 2L)) == 1.0) // identical docs
    // docs 1 vs... pair (2,3): near dup, 7 shingles each, 6 shared
    assert(res((2L, 3L)) > 0.5 && res((2L, 3L)) < 1.0)
    assert(res((5L, 6L)) == 0.0)
  }

  test("minhash LSH finds exact and near dups, skips unrelated") {
    val sigs = Dedup.minHashSignatures(docs, k = 3, nHashes = 32)
    val cands = Dedup.minHashCandidates(sigs, bands = 8, rowsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cands((1L, 2L)) == 1.0, "exact dup must collide in every band")
    assert(cands.contains((1L, 3L)), "near dup should be a candidate")
    assert(!cands.contains((1L, 6L)), "unrelated docs should not collide")
    // verification step: exact jaccard on candidates
    val verified = Dedup.jaccardForPairs(docs,
      Dedup.minHashCandidates(sigs, 8, 4).select("doc_a", "doc_b"), 3)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(verified((1L, 2L)) == 1.0)
  }

  test("exactDedup keeps null-text docs (null hashes as empty text)") {
    val spark0 = spark
    import spark0.implicits._
    val withNull = Seq((1L, Option("same text")), (2L, Option("same text")),
      (3L, None: Option[String]), (4L, Option(""))).toDF("doc_id", "text")
    val res = Dedup.exactDedup(withNull).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(4))).toMap
    // null row must NOT vanish (a null-keyed equi-join would drop it
    // from BOTH the dup and non-dup partitions)
    assert(res.keySet == Set(1L, 2L, 3L, 4L), s"rows lost: ${res.keySet}")
    // null and "" conflate deliberately: both are "no content"
    assert(res(3L)._1 == 2 && res(4L)._1 == 2)
    assert(!res(3L)._2 && res(4L)._2, "rep = lowest doc_id of the group")
  }

  test("minHashBanded drops bands that slice past the signature (no degenerate shared bucket)") {
    // 32 hashes but 8x8 = 64 requested: bands 4-7 would hash an EMPTY
    // slice, putting every doc in one shared bucket and blowing the
    // self-join to O(n^2); they must be dropped instead
    val sigs = Dedup.minHashSignatures(docs, k = 3, nHashes = 32)
    val banded = Dedup.minHashBanded(sigs, bands = 8, rowsPerBand = 8).collect()
    assert(banded.map(_.getInt(2)).max == 3, "only complete bands 0-3 survive")
    val cands = Dedup.minHashCandidates(sigs, bands = 8, rowsPerBand = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cands.contains((1L, 6L)),
      "unrelated docs must not pair via an overflow band's shared bucket")
    assert(cands.contains((1L, 2L)), "exact dups still collide in valid bands")
  }

  test("LSH bucket cap bounds degenerate buckets, keeps small-bucket dups") {
    // 60 identical boilerplate docs (one degenerate bucket) + one true dup
    // pair + filler: the cap must drop the boilerplate B^2 blowup while
    // keeping the small-bucket dup pair.
    val boiler = (100L until 160L).map(i =>
      i -> "terms of service apply to all users of this web site today")
    val rare = Seq(
      900L -> "rare unique duplicated sentence appears exactly twice here yes",
      901L -> "rare unique duplicated sentence appears exactly twice here yes")
    val filler = (200L until 220L).map(i =>
      i -> s"filler document number $i with its own distinct words ${i * 7}")
    val df = docsDf(boiler ++ rare ++ filler)
    val sigs = Dedup.minHashSignatures(df, k = 3, nHashes = 32)
    val uncapped = Dedup.minHashCandidates(sigs, 8, 4).count()
    assert(uncapped >= 60L * 59 / 2, s"uncapped should blow up: $uncapped")
    val capped = Dedup.minHashCandidates(sigs, 8, 4, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((900L, 901L)), "small-bucket dup must survive the cap")
    assert(!capped.exists { case (a, b) => a >= 100 && a < 160 && b < 160 },
      "degenerate-bucket pairs must be dropped")
    // and the dropped buckets are observable for reporting
    val over = Dedup.oversizedBuckets(
      Dedup.minHashBanded(sigs, 8, 4), Seq("band", "bucket"), 10)
      .collect()
    assert(over.nonEmpty && over.forall(_.getLong(2) == 60L))
  }

  test("simhash: identical docs have distance 0; near dups small distance") {
    val sim = Dedup.simHash(docs)
    val m = sim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == m(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(6L)),
      s"near-dup distance ${ham(m(1L), m(3L))} should be < unrelated ${ham(m(1L), m(6L))}")
    val cands = Dedup.simHashCandidates(sim, maxHam = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
  }

  test("simhash block layout and band combos: disjoint full cover, lexicographic") {
    val layout = Dedup.blockLayout(6)
    assert(layout.map(_._2).sum == 64)
    assert(layout == Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10)))
    assert(Dedup.blockLayout(4) == Seq((0, 16), (16, 16), (32, 16), (48, 16)))
    val combos = Dedup.bandCombos(6, 3)
    assert(combos.size == 20 && combos.head == Seq(0, 1, 2) && combos.last == Seq(3, 4, 5))
    assert(combos.distinct.size == 20)
    assert(Dedup.bandCombos(4, 3) == Seq(Seq(0), Seq(1), Seq(2), Seq(3)))
    // a 5-block/ham-0 layout would need a 5-block key: rejected, not truncated
    intercept[IllegalArgumentException](Dedup.bandCombos(5, 0))
  }

  test("simhash wide banding (blocks=6): recall 1.0 at ham<=3, same candidates as blocks=4") {
    val spark0 = spark
    import spark0.implicits._
    // seeded signature pairs at every hamming distance 0..3 (flip
    // positions spread across blocks — the pigeonhole worst case is
    // flips in 3 DIFFERENT blocks) + two far pairs that must not chain
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 24).map { i =>
      val base = rnd.nextLong()
      val flips = i % 4 // hamming distance
      val mutated = (0 until flips).foldLeft(base) { (s, j) =>
        s ^ (1L << ((j * 21 + i * 5) % 64)) // distinct positions mod 64
      }
      (i.toLong * 2, base, i.toLong * 2 + 1, mutated)
    }
    val sim = pairs.flatMap { case (ia, sa, ib, sb) => Seq((ia, sa), (ib, sb)) }
      .toDF("doc_id", "simhash")
    val expected = pairs.collect {
      case (ia, sa, ib, sb) if java.lang.Long.bitCount(sa ^ sb) <= 3 => (ia, ib)
    }.toSet
    def candSet(blocks: Int) =
      Dedup.simHashCandidates(sim, maxHam = 3, blocks = blocks).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = candSet(6)
    assert(expected.subsetOf(wide), s"wide banding missed ${expected -- wide}")
    // random 64-bit sigs are ~ham 32 apart, so both schemes' candidate
    // sets should be exactly the planted close pairs
    assert(wide == candSet(4), "blocks=6 and blocks=4 must verify to the same set")
    // 20 banded rows per doc under blocks=6
    val perDoc = Dedup.simHashBanded(sim, blocks = 6, maxHam = 3)
      .groupBy("doc_id").count().select("count").distinct().collect()
    assert(perDoc.map(_.getLong(0)).toSeq == Seq(20L))
  }

  test("star edges: linear output on a mega-cluster, same clusters as all-pairs") {
    val spark0 = spark
    import spark0.implicits._
    // 80 identical docs (one near-dup cluster) + isolated filler: the
    // all-pairs form emits 80*79/2 = 3160 verified pairs, the star form
    // at most (#buckets the cluster spans) * 79 DISTINCT edges = 79 here
    // (identical sigs share every bucket; distinct collapses bands)
    val boiler = (0L until 80L).map(i => i -> "same boilerplate text in every copy of this doc")
    val filler = (500L until 505L).map(i => i -> s"distinct filler number $i words ${i * 13}")
    val df = docsDf(boiler ++ filler)
    val sim = Dedup.simHash(df)
    assert(Dedup.simHashCandidates(sim, maxHam = 3).count() == 3160L)
    val star = Dedup.simHashStarEdges(sim, maxHam = 3, blocks = 6)
    val starRows = star.collect()
    assert(starRows.length == 79, s"star edges should be linear: ${starRows.length}")
    assert(starRows.forall(r => r.getLong(1) == 0L && r.getLong(2) == 0L),
      "every member links to the min-id rep at hamming 0")
    // cluster parity with the quadratic pair form
    val viaStar = Dedup.clusterDocs(df, star.select("doc_id", "rep"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaPairs = Dedup.clusterDocs(df,
      Dedup.simHashCandidates(sim, maxHam = 3).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar == viaPairs)
    // minhash star form: same linear shape, est_jaccard 1.0 to the rep
    val msigs = Dedup.minHashSignatures(df, k = 3, nHashes = 32)
    val mstar = Dedup.minHashStarEdges(msigs, bands = 8, rowsPerBand = 4,
      minEstJaccard = 0.9).collect()
    assert(mstar.length == 79, s"minhash star edges: ${mstar.length}")
    assert(mstar.forall(r => r.getLong(1) == 0L && r.getDouble(2) == 1.0))
    // star edges are UNCAPPED by default (every stage linear in bucket
    // size, so the mega-cluster survives); an explicit finite cap still
    // drops its buckets — both code paths exercised
    assert(Dedup.simHashStarEdges(sim, maxHam = 3, blocks = 6,
      maxBucket = 10).count() == 0L, "explicit cap must drop the 80-doc bucket")
    assert(Dedup.minHashStarEdges(msigs, bands = 8, rowsPerBand = 4,
      maxBucket = 10).count() == 0L)
  }

  test("duplicateSpans finds cross-doc n-gram spans with correct stats") {
    // docs 1 and 2 are identical 9-token texts -> two 8-token windows,
    // each in BOTH docs; doc 3 shares only the first 8-token window (its
    // 9th token differs); short doc 7 must contribute nothing.
    val res = Dedup.duplicateSpans(
      docs.union(docsDf(Seq(7L -> "too short"))), n = 8, minDocs = 2)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    val spark0 = spark
    import spark0.implicits._
    def fpOf(s: String): Long = Seq(s).toDF("s")
      .select(graft.core.HashFamily.default.h60Col(col("s"))).head().getLong(0)
    val w0 = fpOf("the quick brown fox jumps over the lazy")   // docs 1,2,3 @ pos 0
    val w1 = fpOf("quick brown fox jumps over the lazy dog")   // docs 1,2   @ pos 1
    assert(res(w0) == ((3L, 3L, 1L, 0L)), s"w0 stats: ${res.get(w0)}")
    assert(res(w1) == ((2L, 2L, 1L, 1L)), s"w1 stats: ${res.get(w1)}")
    assert(res.size == 2, s"unexpected extra spans: $res")
    // intra-doc repetition alone must NOT qualify (distinct-doc count)
    val rep = Dedup.duplicateSpans(
      docsDf(Seq(10L -> "a b c d e f g h a b c d e f g h")), n = 8, minDocs = 2)
    assert(rep.count() == 0L)
  }

  test("spanDedupCoverage: interval union of duplicated windows") {
    // docs 1,2: both 8-windows duplicated -> union covers all 9 tokens
    // (pos 0 contributes min(8, 1-0) = 1, pos 1 the full 8);
    // doc 3 shares only the pos-0 window -> 8 of 9 tokens;
    // docs 4,5 are sub-8-token (no windows); doc 6's one window is unique.
    val res = Dedup.spanDedupCoverage(docs, n = 8, minDocs = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(res(1L) == ((9L, 9L, 1.0)))
    assert(res(2L) == ((9L, 9L, 1.0)))
    assert(res(3L) == ((9L, 8L, 0.8889)))
    assert(res(4L) == ((7L, 0L, 0.0)))
    assert(res(5L) == ((7L, 0L, 0.0)))
    assert(res(6L) == ((8L, 0L, 0.0)))
    assert(res.size == 6)
  }

  private def edgesDf(pairs: Seq[(Long, Long)]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    pairs.toDF("a", "b")
  }

  private def ccMap(res: DataFrame): Map[Long, Long] =
    res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents: path graph contracts to min id (both paths)") {
    // worst case for naive propagation: a 9-hop path
    val path = edgesDf((1L to 9L).map(i => (i, i + 1)))
    Seq(0L, 1000L).foreach { cap => // distributed rounds, then local union-find
      val cc = ccMap(Dedup.connectedComponents(path, localMaxEdges = cap))
      assert(cc.size == 10)
      assert(cc.values.forall(_ == 1L))
    }
  }

  test("connectedComponents: multiple components, isolated nodes, dup/self edges (both paths)") {
    val edges = edgesDf(Seq(
      (5L, 3L), (3L, 7L),          // comp 3 (direction mixed)
      (10L, 11L), (11L, 10L),      // comp 10, duplicate both ways
      (20L, 20L)))                 // self loop only -> singleton
    val nodes = { val s = spark; import s.implicits._
      Seq(99L, 5L).toDF("id") }    // 99 isolated; 5 already present
    Seq(0L, 1000L).foreach { cap =>
      val cc = ccMap(Dedup.connectedComponents(edges, Some(nodes),
        localMaxEdges = cap))
      assert(cc == Map(3L -> 3L, 5L -> 3L, 7L -> 3L,
        10L -> 10L, 11L -> 10L, 20L -> 20L, 99L -> 99L))
    }
  }

  test("connectedComponents: empty edge set yields singleton components (both paths)") {
    val empty = edgesDf(Seq.empty)
    val nodes = { val s = spark; import s.implicits._
      Seq(1L, 2L, 3L).toDF("id") }
    Seq(0L, 1000L).foreach { cap =>
      val cc = ccMap(Dedup.connectedComponents(empty, Some(nodes),
        localMaxEdges = cap))
      assert(cc == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))
    }
  }

  test("connectedComponents matches scalar union-find on a seeded random graph (all modes)") {
    val rnd = new scala.util.Random(42)
    val n = 60
    val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    // scalar union-find oracle with min-id components
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    val nodes = { val s = spark; import s.implicits._
      (0L until n.toLong).toDF("id") }
    // distributed rounds, the driver union-find fast path, and the cap
    // boundary: cap == |canonical edges| takes the local path, cap one
    // below must fall through to the distributed rounds (limit(cap+1)
    // returns cap+1 rows)
    val nCanon = edges.map { case (a, b) => (math.max(a, b), math.min(a, b)) }
      .filter(p => p._1 != p._2).distinct.size.toLong
    Seq(0L, 2000000L, nCanon, nCanon - 1).foreach { cap =>
      val cc = ccMap(Dedup.connectedComponents(edgesDf(edges), Some(nodes),
        localMaxEdges = cap))
      assert(cc == expected, s"localMaxEdges=$cap drifts from union-find oracle")
      if (cap == nCanon - 1) assert(Dedup.lastCcRounds > 0,
        "cap below canonical edge count must take the distributed rounds")
      if (cap == nCanon) assert(Dedup.lastCcRounds == 0,
        "cap at canonical edge count must take the local path")
    }
  }

  test("connectedComponents reliable-checkpoint mode matches localCheckpoint mode") {
    val rnd = new scala.util.Random(7)
    val n = 40
    val edges = Seq.fill(45)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val dir = tmpDir("graft-cc-ckpt")
    // localMaxEdges = 0 so BOTH runs take the iterative rounds — the
    // checkpoint mode is what differs
    val viaLocal = ccMap(Dedup.connectedComponents(edgesDf(edges),
      localMaxEdges = 0L))
    val localRounds = Dedup.lastCcRounds
    val viaReliable = ccMap(Dedup.connectedComponents(edgesDf(edges),
      localMaxEdges = 0L, checkpointDir = Some(dir)))
    assert(viaReliable == viaLocal, "reliable-checkpoint mode drifts")
    assert(Dedup.lastCcRounds == localRounds,
      "checkpoint mode must not change round count")
    assert(new java.io.File(dir).listFiles != null &&
      new java.io.File(dir).listFiles.nonEmpty,
      "reliable mode must actually write checkpoints")
  }

  test("connectedComponents unpersists intermediate round checkpoints") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val path = edgesDf((1L to 9L).map(i => (i, i + 1)))
    Dedup.connectedComponents(path, localMaxEdges = 0L).count()
    assert(Dedup.lastCcRounds >= 2) // multi-round run, so rounds 1..n-1 had checkpoints to free
    val after = spark.sparkContext.getPersistentRDDs.size
    // only the final converged round's checkpoint may remain (the
    // returned plan reads it); earlier rounds must be freed eagerly,
    // not left to ContextCleaner GC cadence
    assert(after <= before + 1, s"persistent RDDs grew $before -> $after")
  }

  test("clusterDocs: transitive closure of pair edges, min-id representative") {
    // pairs (1,2) and (2,3) never emit (1,3); the cluster must still be {1,2,3}
    val pairs = edgesDf(Seq((1L, 2L), (2L, 3L)))
    val res = Dedup.clusterDocs(docs, pairs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(res(1L) == ((1L, 3L, true)))
    assert(res(2L) == ((1L, 3L, false)))
    assert(res(3L) == ((1L, 3L, false)))
    assert(res(4L) == ((4L, 1L, true)))
    assert(res.size == 6)
  }

  test("clusterDocs: local driver-sizes path row-identical to the distributed shape") {
    // the round-6 local path folds CLUSTER SIZES into the driver map
    // (every multi-node-component member is an edge endpoint); it must
    // be row-for-row identical to the distributed groupBy+join shape —
    // including endpoints OUTSIDE docs (edge 100-101) and isolated docs
    val spark0 = spark
    import spark0.implicits._
    val someDocs = docsDf((1L to 12L).map(i => i -> s"doc $i"))
    val rnd = new scala.util.Random(11)
    val pairs = edgesDf(
      Seq.fill(9)((rnd.nextInt(12).toLong + 1, rnd.nextInt(12).toLong + 1)) ++
        Seq((100L, 101L), (5L, 100L)))
    def rows(cap: Long) = Dedup.clusterDocs(someDocs, pairs, localMaxEdges = cap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val local = rows(2000000L)
    assert(Dedup.lastCcRounds == 0, "default cap must take the local path")
    val distributed = rows(0L)
    assert(Dedup.lastCcRounds > 0, "cap 0 must take the distributed rounds")
    assert(local == distributed, "local clusterDocs drifts from distributed")
    // out-of-docs endpoints carried through, sized with their component
    // (>= {5, 100, 101}; random edges may enlarge it via node 5)
    val m = local.map(t => t._1 -> t).toMap
    assert(m(100L)._2 <= 5L && m(100L)._3 >= 3L && !m(100L)._4)
    assert(m(101L)._2 == m(100L)._2 && m(101L)._3 == m(100L)._3)
  }

  test("minHashSignatures: zero-shuffle per-doc kernel is bit-identical to the relational shape (both families)") {
    val spark0 = spark
    import spark0.implicits._
    // shaped corpus: sub-k docs and a null text must emit NO row;
    // trailing/double spaces (split keeps empties), duplicate shingles
    val shaped = Seq(
      (1L, Option("a b c d e")),
      (2L, Option("a b c d e")),
      (3L, Option("x y")),              // sub-k: absent from output
      (4L, None: Option[String]),       // null text: absent
      (5L, Option("a b c a b c a b c")), // duplicate shingles
      (6L, Option("p q  r s ")),        // double + trailing space
      (7L, Option(""))                  // empty text: absent
    ).toDF("doc_id", "text")
    Seq(graft.core.HashFamily.Xx64, graft.core.HashFamily.Md5).foreach { fam =>
      def sigMap(df: DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
      val local = sigMap(Dedup.minHashSignatures(shaped, k = 3, nHashes = 8,
        family = fam))
      val relational = sigMap(Dedup.minHashSignaturesRelational(shaped, k = 3,
        nHashes = 8, family = fam))
      assert(local.keySet == Set(1L, 2L, 5L, 6L),
        s"${fam.name}: doc universe drifts: ${local.keySet}")
      assert(local == relational, s"${fam.name}: signatures drift")
    }
  }
}

class SimilaritySpec extends SparkSpecBase {

  private val dim = 16
  private def vec(id: Long): Array[Float] = {
    // deterministic unit-ish vectors with planted clusters
    val base = (id % 5).toInt
    Array.tabulate(dim) { d =>
      val centre = if (d % 5 == base) 1.0f else 0.0f
      centre + 0.05f * ((graft.corpus.Transcripts.mix(id * 31 + d) % 100) / 100.0f)
    }
  }

  private lazy val embeddings: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    (0L until 200L).map(i => (i, vec(i).toSeq)).toDF("vec_id", "embedding")
  }

  test("bruteForceTopK: exact cosine against scalar computation") {
    val q = vec(0)
    val got = Similarity.bruteForceTopK(embeddings, q, 5, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = (0 until dim).map(i => a(i).toDouble * b(i).toDouble).sum
      val na = math.sqrt((0 until dim).map(i => a(i).toDouble * a(i).toDouble).sum)
      val nb = math.sqrt((0 until dim).map(i => b(i).toDouble * b(i).toDouble).sum)
      dot / (na * nb)
    }
    val want = (1L until 200L).map(i => (i, math.rint(cos(q, vec(i)) * 10000) / 10000))
      .sortBy { case (id, c) => (-c, id) }.take(5)
    assert(got.map(_._1).toSeq == want.map(_._1))
  }

  test("annTopK recall >= 0.6 vs brute force on clustered vectors") {
    val q = vec(0)
    val exact = Similarity.bruteForceTopK(embeddings, q, 10, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.annTopK(embeddings, q, 10, nPlanes = 10,
      probeHamming = 2, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"ANN recall too low: $recall")
  }

  test("IVF ANN: deterministic training, recall >= 0.6 vs brute force") {
    val model1 = Similarity.trainIvf(embeddings, k = 8)
    val model2 = Similarity.trainIvf(embeddings, k = 8)
    assert(model1.centroids.map(_.toSeq).toSeq == model2.centroids.map(_.toSeq).toSeq,
      "k-means training must be deterministic")
    val cells = Similarity.withIvfCell(embeddings, model1)
    assert(cells.select("cell").distinct().count() > 1)
    val q = vec(0)
    val exact = Similarity.bruteForceTopK(embeddings, q, 10, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSet
    val approx = Similarity.ivfTopK(cells, model1, q, 10, nProbe = 3,
      excludeId = Some(0L)).collect().map(_.getLong(0)).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall too low: $recall")
  }

  test("trainIvf tolerates ragged embedding dims (min-length accumulate)") {
    val spark0 = spark
    import spark0.implicits._
    // first rows 16-dim, one rogue 20-dim row: the centroid accumulator
    // is sized from the first sample and must not overrun
    val ragged = embeddings.select(col("vec_id"), col("embedding"))
      .union(Seq((9999L, (0 until 20).map(_.toFloat)))
        .toDF("vec_id", "embedding"))
    val m = Similarity.trainIvf(ragged, k = 4)
    assert(m.centroids.nonEmpty)
  }

  test("annCandidates rejects probeHamming outside the enumerated range") {
    val q = vec(0)
    intercept[IllegalArgumentException] {
      Similarity.annCandidates(embeddings, q, nPlanes = 8, probeHamming = 3)
    }
  }

  test("knnJoin returns <=k neighbors per vector, cosine-ranked") {
    val res = Similarity.knnJoin(embeddings, k = 3, nPlanes = 8, bands = 2, dim = dim)
    val byVec = res.collect().groupBy(_.getLong(0))
    assert(byVec.values.forall(_.length <= 3))
    byVec.values.foreach { rows =>
      val coss = rows.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(coss.zip(coss.tail).forall { case (a, b) => a >= b })
    }
  }

  test("embeddingNearDups finds planted duplicates") {
    val spark0 = spark
    import spark0.implicits._
    val withDup = embeddings.union(
      Seq((9999L, vec(7).toSeq)).toDF("vec_id", "embedding"))
    val dups = Dedup.embeddingNearDups(withDup, minCos = 0.999,
      nPlanes = 10, bands = 2, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dups.contains((7L, 9999L)), s"planted dup not found: $dups")
  }

  test("embeddingStarEdges: planted dup links to its cluster rep; cap paths") {
    val spark0 = spark
    import spark0.implicits._
    // vec 9999 duplicates vec 7; vec 0 is the GLOBAL min id, so every
    // bucket containing its dup 8888 has rep 0 exactly — the edge
    // (8888 -> 0, cos 1.0) is guaranteed regardless of hash noise
    val withDup = embeddings.union(
      Seq((9999L, vec(7).toSeq), (8888L, vec(0).toSeq))
        .toDF("vec_id", "embedding"))
    val star = Dedup.embeddingStarEdges(withDup, minCos = 0.999,
      nPlanes = 10, bands = 2, dim = dim)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(2)))
    assert(star.contains((0L, 8888L, 1.0)), s"guaranteed star edge missing: ${star.toSeq}")
    // every verified edge meets the threshold, and candidates superset
    // the verified edges (the two-stage split the q57 oracle re-scores)
    assert(star.forall(_._3 >= 0.999))
    val cand = Dedup.embeddingStarCandidates(withDup, nPlanes = 10,
      bands = 2, dim = dim)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(star.map(e => (e._1, e._2)).toSet.subsetOf(cand))
    // an explicit finite cap still drops oversized buckets
    assert(Dedup.embeddingStarEdges(withDup, minCos = 0.0, nPlanes = 10,
      bands = 2, dim = dim, maxBucket = 1).count() == 0L)
  }

  test("banded embedding LSH finds PERTURBED near-dups, not just identical") {
    val spark0 = spark
    import spark0.implicits._
    // plant 40 perturbed copies (small per-dim noise => cos ~0.995-0.9999)
    def perturbed(id: Long): Array[Float] = {
      val v = vec(id)
      Array.tabulate(dim)(d =>
        v(d) + 0.01f * ((graft.corpus.Transcripts.mix(id * 7 + d) % 100) / 100.0f))
    }
    val all = (0L until 200L).map(i => (i, vec(i).toSeq)) ++
      (0L until 40L).map(i => (1000L + i, perturbed(i).toSeq))
    val df = all.toDF("vec_id", "embedding")
    def cosS(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = (0 until dim).map(i => a(i).toDouble * b(i).toDouble).sum
      dot / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val minCos = 0.995
    val exactPairs = (for {
      i <- all.indices; j <- (i + 1) until all.length
      if math.rint(cosS(all(i)._2, all(j)._2) * 10000) / 10000 >= minCos
    } yield (math.min(all(i)._1, all(j)._1), math.max(all(i)._1, all(j)._1))).toSet
    assert(exactPairs.size >= 30, s"test setup: want many near-dup pairs, got ${exactPairs.size}")
    assert(exactPairs.exists { case (a, b) => b == a + 1000 },
      "test setup: perturbed copies must qualify")
    val found = Dedup.embeddingNearDups(df, minCos = minCos,
      nPlanes = 24, bands = 3, dim = dim)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found.subsetOf(exactPairs), "no false positives (exact verify step)")
    val recall = (found intersect exactPairs).size.toDouble / exactPairs.size
    assert(recall >= 0.85, s"banded recall too low: $recall over ${exactPairs.size} pairs")
  }
}

class TextOpsSpec extends SparkSpecBase {

  private lazy val docs: DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    Seq(
      (1L, "the quick fox and the lazy dog"),
      (2L, "der hund und die katze ist nicht hier"),
      (3L, "el perro y la casa de que los una"),
      (4L, "xyzzy plugh abracadabra")).toDF("doc_id", "text")
  }

  test("tokens: positions are split indices") {
    val t = TextOps.tokens(docs.limit(1)).collect()
      .map(r => (r.getInt(1), r.getString(2)))
    assert(t.take(3).toSeq == Seq((0, "the"), (1, "quick"), (2, "fox")))
  }

  test("termDf counts docs, not occurrences") {
    val df = TextOps.termDf(docs).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(df("the") == ((1L, 2L))) // 1 doc, 2 occurrences
  }

  test("langId picks marker-matching language, und for no match") {
    val res = TextOps.langId(docs).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(res(2L) == "de")
    assert(res(3L) == "es")
    assert(res(4L) == "und")
  }

  test("qualityScore gives null-text docs a NON-NULL quality (threshold-gate safe)") {
    val spark0 = spark
    import spark0.implicits._
    val withNull = Seq((1L, Option("real text here with words")),
      (2L, None: Option[String])).toDF("doc_id", "text")
    val rows = TextOps.qualityScore(withNull).collect()
      .map(r => r.getLong(0) -> r.getAs[Any]("quality")).toMap
    // a null quality passes neither side of a threshold gate — the doc
    // would silently vanish from both partitions of a quality split
    assert(rows(2L) != null, "null text must score (as empty), not null out")
    assert(rows(2L).asInstanceOf[Double] <= rows(1L).asInstanceOf[Double])
  }

  test("quality + fingerprints deterministic") {
    val q1 = TextOps.qualityScore(docs).collect().map(_.toSeq).toSeq
    val q2 = TextOps.qualityScore(docs).collect().map(_.toSeq).toSeq
    assert(q1 == q2)
    val f = TextOps.fingerprintMd5(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f(1L).length == 32)
    val rf = TextOps.rollingFingerprint(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // order sensitivity: permuted text gives different rolling fingerprint
    val spark0 = spark
    import spark0.implicits._
    val permuted = Seq((1L, "quick the fox and the lazy dog")).toDF("doc_id", "text")
    val rfP = TextOps.rollingFingerprint(permuted).collect().head.getLong(1)
    assert(rf(1L) != rfP)
  }

  test("redact: emails, IPv4, long digit runs replaced in sequence; counts on raw text") {
    val spark0 = spark
    import spark0.implicits._
    val rows = Seq(
      (1L, "mail a.b+c%d@sub.example.org then 10.0.0.255 and 12345678 done"),
      (2L, "digits-in-local 9876543@x.co stay one EMAIL not a NUM"),
      (3L, "short 123456 number and 999.999.999.999 odd quad"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val res = TextOps.redact(rows).collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(res(1L) == (("mail <EMAIL> then <IP> and <NUM> done", 1L, 1L, 1L)))
    // the 7-digit local part is consumed by the email replacement first,
    // but the raw-text count still sees it
    assert(res(2L) == (("digits-in-local <EMAIL> stay one EMAIL not a NUM", 1L, 0L, 1L)))
    // 6 digits is below the run threshold; 999.999.999.999 still matches
    // the dotted-quad shape (syntactic redaction, no range validation)
    assert(res(3L) == (("short 123456 number and <IP> odd quad", 0L, 1L, 0L)))
    assert(res(4L) == (("", 0L, 0L, 0L)))
  }
}

class MultimodalSpec extends SparkSpecBase {

  test("extractFeatures: deterministic, fixed dim, kind preserved") {
    val media = Multimodal.synthesize(spark, 30L)
    val f1 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    val f2 = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.forall(_.features.length == Multimodal.FeatureDim))
    assert(f1.map(_.kind).distinct.sorted.toSeq == Seq("audio", "image", "video"))
    assert(f1.forall(_.n_bytes >= 256))
  }

  test("sampleFrames: one row per sampled offset, videos only") {
    val media = Multimodal.synthesize(spark, 30L)
    val frames = Multimodal.sampleFrames(media, everyMs = 500L)
    val kinds = frames.join(media.toDF(), Seq("media_id"))
      .select("kind").distinct().collect().map(_.getString(0)).toSeq
    assert(kinds == Seq("video"))
    val one = media.filter(_.kind == "video").head()
    val expected = one.duration_ms / 500L + 1L
    val got = frames.filter(org.apache.spark.sql.functions.col("media_id") ===
      one.media_id).count()
    assert(got == expected)
  }
}

class PipelineSpec extends SparkSpecBase {
  import org.apache.spark.sql.functions._

  private def docsDf(rows: Seq[(Long, String)]) = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("doc_id", "text")
  }

  test("topKPerGroup matches scalar selection and is partition-independent") {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(7)
    // skewed: group 0 holds ~80% of rows; scores collide to force
    // tie-breaks through the two-phase path
    val rows = (0L until 400L).map { id =>
      (id, if (rnd.nextInt(10) < 8) 0L else 1L + rnd.nextInt(3), rnd.nextInt(12).toDouble)
    }
    val expected = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.sortBy(r => (-r._3, r._1)).take(5).zipWithIndex
        .map { case (r, i) => (g, r._1) -> (i + 1) }
    }
    Seq(1, 7, 32).foreach { parts =>
      val df = rows.toDF("doc_id", "grp", "score").repartition(parts)
      val got = Pipeline.topKPerGroup(df, "grp", "score", "doc_id", 5)
        .collect().map(r => (r.getAs[Long]("grp"), r.getAs[Long]("doc_id")) ->
          r.getAs[Int]("rank")).toMap
      assert(got == expected, s"parts=$parts")
    }
  }

  test("topKPerGroup rejects inputs with reserved column names") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, 0L, 1.0, 9L)).toDF("doc_id", "grp", "score", "rank")
    val e = intercept[IllegalArgumentException] {
      Pipeline.topKPerGroup(df, "grp", "score", "doc_id", 5)
    }
    assert(e.getMessage.contains("reserves"))
  }

  test("packSequences: concatenate-and-slice layout with straddling docs") {
    val docs = docsDf(Seq(
      1L -> Seq.fill(100)("a").mkString(" "),  // cum_before 0
      2L -> Seq.fill(200)("b").mkString(" "),  // cum_before 100
      3L -> Seq.fill(60)("c").mkString(" ")))  // cum_before 300
    val got = Pipeline.packSequences(docs, budget = 128).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((100, 0L, 0L)))
    assert(got(2L) == ((200, 0L, 100L))) // starts in pack 0, straddles into 1-2
    assert(got(3L) == ((60, 2L, 44L)))   // 300 / 128 = 2, 300 % 128 = 44
  }

  test("packSequencesSharded: independent pack streams per shard") {
    val docs = docsDf(Seq(
      1L -> Seq.fill(100)("a").mkString(" "),
      2L -> Seq.fill(200)("b").mkString(" "),
      3L -> Seq.fill(60)("c").mkString(" ")))
      .withColumn("shard", when(col("doc_id") <= 2, 0).otherwise(1))
    val got = Pipeline.packSequencesSharded(docs, 128, "shard").collect()
      .map(r => r.getLong(1) -> (r.getInt(0), r.getLong(3), r.getLong(4))).toMap
    assert(got(1L) == ((0, 0L, 0L)))
    assert(got(2L) == ((0, 0L, 100L)))
    assert(got(3L) == ((1, 0L, 0L)), "shard 1 restarts its own stream")
  }

  test("stratifiedSample: deterministic, rate-faithful, rate-1 keeps all") {
    val docs = docsDf((0L until 400L).map(i =>
      i -> s"w$i")).withColumn("stratum",
      when(col("doc_id") < 200, "half").otherwise("all"))
    val rates = Map("half" -> 0.5, "all" -> 1.0)
    val a = Pipeline.stratifiedSample(docs, "stratum", rates)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Pipeline.stratifiedSample(docs, "stratum", rates)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "sampling must be deterministic")
    assert((200L until 400L).forall(a), "rate 1.0 must keep every doc")
    val kept = a.count(_ < 200L)
    assert(kept > 60 && kept < 140, s"rate 0.5 wildly off: $kept/200")
    // unknown stratum -> rate 0
    val none = Pipeline.stratifiedSample(
      docs.withColumn("stratum", lit("other")), "stratum", rates).count()
    assert(none == 0L)
  }

  test("repetitionScore: repeated shingles detected, short docs score 0") {
    val docs = docsDf(Seq(
      1L -> "a b c a b c a b c",  // 7 shingles, 3 distinct
      2L -> "all distinct words here now",
      3L -> "a b"))               // shorter than k
    val got = TextOps.repetitionScore(docs, 3).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(got(1L) == ((7, 3, math.rint((1.0 - 3.0 / 7) * 10000) / 10000)))
    assert(got(2L)._3 == 0.0)
    assert(got(3L) == ((0, 0, 0.0)))
  }

  test("contaminationCheck flags only docs sharing a k-gram with the benchmark") {
    val bench = docsDf(Seq(
      100L -> "what is the capital of france and when was it founded"))
    val docs = docsDf(Seq(
      1L -> "today we ask what is the capital of france in this quiz", // overlap
      2L -> "completely unrelated text about spark shuffle partitions here",
      3L -> "what is the capital city here"))                          // no 5-gram overlap
    val got = Pipeline.contaminationCheck(docs, bench, 5).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.contains(1L) && got(1L) >= 1L)
    assert(!got.contains(2L))
    assert(!got.contains(3L), s"4-token overlap must not trigger k=5: $got")
  }
}

class SessionsSpec extends graft.SparkSpecBase {

  test("sessionizeEvents splits at the gap, numbers sessions per user") {
    val spark0 = spark
    import spark0.implicits._
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val events = Seq(
      (0L, ts(0L), 1L, 1.5),     // user 1, session 0
      (1L, ts(500L), 1L, 2.0),   // gap 500 <= 1000 -> same session
      (2L, ts(1600L), 1L, 3.0),  // gap 1100 > 1000 -> session 1
      (3L, ts(1700L), 1L, 0.5),
      (4L, ts(100L), 2L, 9.0))   // user 2, own numbering
      .toDF("event_id", "ts", "user_id", "value")
    val res = Sessions.sessionizeEvents(events, gapMs = 1000L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    assert(res((1L, 0L)) == ((2L, 0L, 500L, 500L, 3.5)))
    assert(res((1L, 1L)) == ((2L, 1600L, 1700L, 100L, 3.5)))
    assert(res((2L, 0L)) == ((1L, 100L, 100L, 0L, 9.0)))
    assert(res.size == 3)
  }
}
