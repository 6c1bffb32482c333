package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, over
  * `documents(doc_id, text)`. Scale notes per operator:
  *
  *  - exact: one hash-aggregate shuffle on a 128-bit content hash —
  *    embarrassingly scalable.
  *  - MinHash+LSH / SimHash: candidate generation via band-bucket
  *    self-joins — only docs sharing a band bucket ever meet, so the
  *    shuffle is keyed on (band, bucket), never a cross join.
  *  - n-gram Jaccard: exact verification on candidate pairs only.
  */
object Dedup {

  /** Exact dedup: md5 of content; keep = lowest doc_id in the group.
    * At 100 TB this is a single groupBy on the digest (map-side partial
    * aggregation applies); no text comparison ever shuffles.
    *
    * Shape: `groupBy(content_hash).agg(count, min)` + join back — NOT a
    * `content_hash`-partitioned window. A boilerplate hash with 10^8
    * copies would put the entire group through one WindowExec task
    * (sort + buffer + spill); the aggregate reduces each hash to one row
    * with map-side partial combine, and the join back is a streaming
    * hash-join that AQE can skew-split — no single-task group anywhere.
    */
  def exactDedup(docs: DataFrame): DataFrame = {
    // null text hashes as empty text (md5(NULL) is NULL, and a
    // null-keyed equi-join would drop the row from BOTH the dup and
    // non-dup partitions — the doc would silently vanish from a
    // keep/drop pipeline); conflating null with "" is the intended
    // semantic: both are "no content", so they dedup together
    val hashed = docs.select(col("doc_id"),
      md5(coalesce(col("text"), lit(""))).as("content_hash"))
    val groups = hashed.groupBy(col("content_hash"))
      .agg(count(lit(1)).as("group_size"), min(col("doc_id")).as("rep_id"))
    hashed.join(groups, Seq("content_hash"))
      .withColumn("is_dup", col("doc_id") =!= col("rep_id"))
      .select("doc_id", "content_hash", "group_size", "rep_id", "is_dup")
  }

  /** Word k-shingles per doc: (doc_id, shingle) distinct. Docs shorter
    * than k tokens yield no shingles (the `when` guard: Spark's
    * `sequence(0, n)` with n < 0 would otherwise count DOWN and produce
    * negative slice indices).
    */
  def shingles(docs: DataFrame, k: Int): DataFrame =
    shinglesRaw(docs, k).distinct()

  /** Shingles WITHOUT the distinct (one full shuffle cheaper). Safe for
    * consumers that are insensitive to per-doc duplicates — min-hashing
    * (min over a multiset == min over its set) and collect_set.
    */
  private[ops] def shinglesRaw(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"),
        explode(shingleArrayCol(col("toks"), k)).as("shingle"))

  /** The k-shingle array of a token-array column — ONE implementation of
    * the guarded window expression (the `when` keeps sub-k docs from a
    * DESCENDING `sequence`, which would produce negative slice indices),
    * shared by shinglesRaw, spanWindows and TextOps.repetitionScore so
    * the subtle guard cannot drift between consumers.
    */
  private[ops] def shingleArrayCol(toks: org.apache.spark.sql.Column,
      k: Int): org.apache.spark.sql.Column =
    transform(
      when(size(toks) >= k, sequence(lit(0), size(toks) - k))
        .otherwise(array().cast("array<int>")),
      i => concat_ws(" ", slice(toks, i + 1, lit(k))))

  /** MinHash signatures: n independent 60-bit min-hashes over a doc's
    * shingle set, computed in ONE narrow typed pass with ZERO shuffles
    * (round 6): a document's shingle stream fits in its task, so the
    * element-wise min folds locally per doc — no explode relation, no
    * hash-aggregate exchange. Per-shingle hash values come from the
    * family's [[graft.core.HashFamily.signatureKernel]], whose parity
    * with the column forms (xxhash64(lit(i), c) / StableHash h60) is
    * pinned by HashFamilySpec, so signatures are bit-identical to the
    * former explode + n-min-aggregates shape (DedupSpec pins the shape
    * equivalence directly). The hash family is pluggable
    * ([[graft.core.HashFamily]]): xxhash64 is the production default
    * (several times cheaper); the md5 family — h_i(x) =
    * StableHash.h60(s"$i:$x"), reproducible by the DuckDB oracle
    * bit-for-bit — is pinned by graft.Verify for correctness rows.
    *
    * Parity notes (the old relational shape's exact semantics, kept):
    * split on the single-space REGEX with limit -1 (trailing empty
    * tokens survive, as Spark's `split(text, " ")` keeps them); docs
    * with fewer than k tokens — and null-text docs — emit NO row;
    * duplicate shingles are kept (min over a multiset == min over its
    * set).
    */
  def minHashSignatures(docs: DataFrame, k: Int = 3, nHashes: Int = 32,
      family: graft.core.HashFamily = graft.core.HashFamily.default): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = nHashes
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val kernel = family.signatureKernel(n)
        val sb = new java.lang.StringBuilder
        it.flatMap { case (id, text) =>
          if (text == null) Iterator.empty
          else {
            val toks = text.split(" ", -1)
            if (toks.length < k) Iterator.empty
            else {
              val mins = Array.fill(n)(Long.MaxValue)
              var i = 0
              val last = toks.length - k
              while (i <= last) {
                sb.setLength(0)
                var j = 0
                while (j < k) {
                  if (j > 0) sb.append(' ')
                  sb.append(toks(i + j))
                  j += 1
                }
                val hs = kernel(sb.toString)
                var h = 0
                while (h < n) {
                  if (hs(h) < mins(h)) mins(h) = hs(h)
                  h += 1
                }
                i += 1
              }
              Iterator.single((id, mins.toSeq))
            }
          }
        }
      }
      .toDF("doc_id", "signature")
  }

  /** The pre-round-6 relational MinHash shape (explode + n min
    * aggregates / kernel + reduceGroups), kept PRIVATE as the
    * bit-identity reference for [[minHashSignatures]] — DedupSpec
    * asserts new == old for both families on shaped corpora (empty
    * docs, sub-k docs, duplicate shingles, trailing spaces).
    */
  private[ops] def minHashSignaturesRelational(docs: DataFrame, k: Int,
      nHashes: Int, family: graft.core.HashFamily): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = nHashes
    // raw shingles: the element-wise min is duplicate-insensitive, so the
    // distinct's full (doc_id, shingle) shuffle is pure overhead here
    val raw = shinglesRaw(docs, k)
    val colHashes = (0 until n).map(i => family.h60iCol(i, col("shingle")))
    if (colHashes.forall(_.isDefined)) {
      val aggs = colHashes.zipWithIndex.map { case (h, i) => min(h.get).as(s"_h$i") }
      raw.groupBy(col("doc_id"))
        .agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id"),
          array((0 until n).map(i => col(s"_h$i")): _*).as("signature"))
    } else raw.as[(Long, String)]
      .mapPartitions { it =>
        val kernel = family.signatureKernel(n)
        it.map { case (id, sh) => (id, kernel(sh)) }
      }
      .groupByKey(_._1)
      .reduceGroups { (a: (Long, Array[Long]), b: (Long, Array[Long])) =>
        val m = new Array[Long](a._2.length)
        var i = 0
        while (i < m.length) { m(i) = math.min(a._2(i), b._2(i)); i += 1 }
        (a._1, m)
      }
      .map { case (id, (_, sig)) => (id, sig.toSeq) }
      .toDF("doc_id", "signature")
  }

  /** Restrict a banded relation to buckets with at most `maxBucket`
    * members. A degenerate bucket with B members yields B^2 join rows —
    * at 100 TB, boilerplate-heavy corpora routinely produce million-member
    * buckets, turning one reducer into a 10^12-pair hotspot. Standard LSH
    * practice drops (or sub-splits) such buckets: their members are
    * near-identical to huge cluster anyway, and exact-dedup or a
    * cheaper representative pass handles them. Dropped buckets are
    * observable via [[oversizedBuckets]] — report them, don't hide them.
    */
  private[ops] def capBuckets(banded: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame = {
    // uncapped (the star-edge callers' default): nothing to drop, so
    // skip the no-op cap aggregate + anti-join entirely — ONE home for
    // this check, so no caller can forget it
    if (maxBucket == Int.MaxValue) return banded
    // anti-join against the (tiny) oversized-key relation instead of a
    // count() window: the window sort-shuffles the WHOLE banded relation,
    // while the groupBy is map-side-combined and the oversized keys are
    // bounded by rows/maxBucket (AQE broadcasts the anti side).
    val over = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_bucket_n"))
      .filter(col("_bucket_n") > maxBucket)
      .select(keys.map(col): _*)
    banded.join(over, keys, "left_anti")
  }

  /** Distinct member→bucket-min-rep edges over a banded LSH relation —
    * the ONE home for the linear star shape all three LSH families'
    * star-edge operators share: reps via a map-side-combined
    * groupBy(min), members joined to their rep, self-edges dropped,
    * DISTINCT taken on bare (id, rep) BEFORE any signature joins back
    * for verification (so no per-bucket self-join exists anywhere in
    * the plan — PlanSpec "star edges join members to a per-bucket
    * aggregate, never a bucket self-join"). Every stage is linear in
    * bucket size; `maxBucket` = Int.MaxValue (the callers' default)
    * adds no cap stage at all.
    */
  private[ops] def starEdgesFromBanded(allBanded: DataFrame,
      keys: Seq[String], idCol: String, maxBucket: Int): DataFrame = {
    val banded = capBuckets(allBanded, keys, maxBucket)
      .select((keys :+ idCol).map(col): _*)
    val reps = banded.groupBy(keys.map(col): _*)
      .agg(min(col(idCol)).as("rep"))
    banded.join(reps, keys)
      .filter(col(idCol) =!= col("rep"))
      .select(col(idCol), col("rep")).distinct()
  }

  /** Buckets that exceed `maxBucket` (for skew reporting/auditing):
    * (band, bucket, n_members). The pipeline that calls a capped
    * candidate generator should surface these counts.
    */
  def oversizedBuckets(banded: DataFrame, keys: Seq[String],
      maxBucket: Int): DataFrame =
    banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBucket)

  /** Banded MinHash signatures: (doc_id, signature, band, bucket) with
    * bucket = the family's hash of the band's signature slice
    * (md5 hex under the Md5 family — engine-portable).
    */
  def minHashBanded(signatures: DataFrame, bands: Int, rowsPerBand: Int,
      family: graft.core.HashFamily = graft.core.HashFamily.default): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands/rowsPerBand must be positive: $bands x $rowsPerBand")
    signatures.select(col("doc_id"), col("signature"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => family.bucketCol(array_join(
          transform(slice(col("signature"), b * rowsPerBand + 1, lit(rowsPerBand)),
            v => v.cast("string")), ","))))
      .as(Seq("band", "bucket")))
      // a band whose slice runs past the signature would hash a
      // TRUNCATED (or empty) slice — with bands*rowsPerBand > nHashes,
      // every doc's overflow bands share one degenerate bucket and the
      // candidate self-join goes O(n^2); emit only complete bands
      // (recall from the valid bands is unaffected)
      .filter(size(col("signature")) >= (col("band") + 1) * lit(rowsPerBand))
  }

  /** MinHash LSH candidate pairs: split the signature into `bands` bands
    * of `rowsPerBand` values; docs sharing any band bucket become a
    * candidate pair. Self-join is keyed on (band, bucket-hash) — the
    * classic MinHash-LSH shuffle shape (Broder '97 / MMDS ch.3) — with
    * buckets larger than `maxBucket` dropped (see [[capBuckets]]).
    * Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b, where
    * est_jaccard = fraction of matching signature positions (rounded to
    * 4 decimals for cross-engine comparability).
    */
  def minHashCandidates(signatures: DataFrame, bands: Int, rowsPerBand: Int,
      minEstJaccard: Double = 0.0, maxBucket: Int = 100000,
      family: graft.core.HashFamily = graft.core.HashFamily.default): DataFrame = {
    // ids ONLY through the (band, bucket) self-join: riding both full
    // signature arrays through the band shuffle costs 2*nHashes longs
    // per banded row and re-evaluates est_jaccard once per SHARED band
    // before the distinct; deduping the bare pairs first and joining
    // the signatures back scores each pair exactly once (the
    // knnCandidatePairs/knnRank two-step, Similarity.scala)
    val banded = capBuckets(
      minHashBanded(signatures, bands, rowsPerBand, family)
        .select(col("band"), col("bucket"), col("doc_id")),
      Seq("band", "bucket"), maxBucket)
    val pairs = banded.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("doc_b")),
        Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    pairs
      .join(signatures.select(col("doc_id").as("doc_a"),
        col("signature").as("sig_a")), Seq("doc_a"))
      .join(signatures.select(col("doc_id").as("doc_b"),
        col("signature").as("sig_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y),
          (m: org.apache.spark.sql.Column) => m)).cast("double") /
          size(col("sig_a")), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Exact k-shingle Jaccard for a given pair relation (doc_a, doc_b) —
    * the verification step after LSH candidate generation.
    */
  def jaccardForPairs(docs: DataFrame, pairs: DataFrame, k: Int): DataFrame = {
    // raw shingles: collect_set dedups by definition, so the distinct's
    // full (doc_id, shingle) pre-shuffle was pure overhead — and this
    // relation is evaluated once per pair side (two joins below), so
    // the removed exchange is saved twice (guide §2.4)
    val sets = shinglesRaw(docs, k).groupBy("doc_id")
      .agg(collect_set(col("shingle")).as("sh"))
    pairs
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))), 4).as("jaccard"))
  }

  /** n-gram Jaccard similarity of consecutive doc_id pairs — a cheap,
    * fully-oracle-able slice of the Jaccard machinery (the LSH pipeline
    * above covers the at-scale path).
    */
  def jaccardAdjacent(docs: DataFrame, k: Int): DataFrame = {
    val pairs = docs.select(col("doc_id").as("doc_a"),
      (col("doc_id") + 1).as("doc_b"))
    jaccardForPairs(docs, pairs, k)
    // (no doc_b existence filter needed: jaccardForPairs inner-joins
    // both sides against the shingle-set relation, which only contains
    // real docs — a former trailing left_semi here could never filter
    // anything and just added a join to the plan)
  }

  /** SimHash: 64-bit signature where bit j is the sign of the tf-weighted
    * sum of token-hash bit j (Charikar '02). Near-dups = small Hamming
    * distance. Term hash = the family's u64 (first 64 md5 bits under the
    * Md5 family, so the DuckDB oracle reproduces signatures exactly).
    */
  def simHash(docs: DataFrame,
      family: graft.core.HashFamily = graft.core.HashFamily.default): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // One typed map, ZERO shuffles: a doc's token stream fits in a task,
    // so the tf-weighted bit-majority folds locally.
    // coalesce: a null-text row must not NPE the typed map
    docs.select(col("doc_id"), coalesce(col("text"), lit("")))
      .as[(Long, String)]
      .map { case (id, text) =>
        val tf = scala.collection.mutable.HashMap.empty[String, Int]
        text.split(' ').foreach(t => if (t.nonEmpty) tf(t) = tf.getOrElse(t, 0) + 1)
        val w = new Array[Long](64)
        tf.foreach { case (term, n) =>
          val h = family.u64(term)
          var j = 0
          while (j < 64) {
            if (((h >>> j) & 1L) == 1L) w(j) += n else w(j) -= n
            j += 1
          }
        }
        var sig = 0L
        var j = 0
        while (j < 64) { if (w(j) > 0) sig |= (1L << j); j += 1 }
        (id, sig)
      }.toDF("doc_id", "simhash")
  }

  /** (offset, width) per block for a `blocks`-way partition of the 64
    * signature bits — widths as equal as possible, the first 64 % blocks
    * blocks carrying the extra bit. blocks >= 4 keeps every width <= 16
    * so [[bandCombos]] can pack block values 16 bits apart in one Long.
    */
  private[graft] def blockLayout(blocks: Int): Seq[(Int, Int)] = {
    require(blocks >= 4 && blocks <= 64, s"blocks must be in [4, 64]: $blocks")
    val w = 64 / blocks
    val widths = Seq.tabulate(blocks)(i => if (i < 64 % blocks) w + 1 else w)
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** The (blocks - maxHam)-subsets of block indices, ascending
    * lexicographic — one band per subset (Manku/Jain/Das Sarma, WWW '07:
    * a pair at Hamming <= maxHam differs in <= maxHam blocks, so some
    * subset of this size is untouched on both sides and its band keys
    * collide — recall 1.0). Subset size is capped at 4 because a band
    * key packs its blocks 16 bits apart in a single Long.
    */
  private[graft] def bandCombos(blocks: Int, maxHam: Int): Seq[Seq[Int]] = {
    require(maxHam >= 0 && maxHam < blocks,
      s"maxHam must be in [0, blocks): $maxHam vs $blocks blocks")
    require(blocks - maxHam <= 4,
      s"band key packs <= 4 blocks of 16 bits into a Long: blocks - maxHam = ${blocks - maxHam}")
    (0 until blocks).combinations(blocks - maxHam).map(_.toSeq).toSeq
  }

  /** SimHash banded keys via block-combination banding: the 64 signature
    * bits split into `blocks` near-equal blocks; one band per
    * (blocks - maxHam)-subset of blocks, key = that subset's block
    * values packed 16 bits apart. Defaults (blocks=4, maxHam=3) are the
    * classic 4 x 16-bit single-block bands.
    *
    * Scale guidance: key entropy is what bounds RANDOM collisions, and
    * 16-bit keys stop scaling near n ~ 2^16 — at n docs, expected
    * random same-bucket pairs ~ bands * n^2 / 2^keyBits, so 4.2M docs
    * under the default put ~16 docs in the AVERAGE bucket (~10^8 pure
    * noise pairs; measured 1.24e9 verified pairs on the 4.2M-turn
    * synthetic corpus, BENCH.md). blocks=6 gives C(6,3)=20 bands of
    * ~32-bit keys: 5x the banded rows, but noise pairs drop by 2^16 —
    * the right trade for any corpus past ~10^5 docs.
    */
  def simHashBanded(sim: DataFrame, blocks: Int = 4, maxHam: Int = 3): DataFrame = {
    val layout = blockLayout(blocks)
    def blockVal(i: Int): Column = {
      val (o, w) = layout(i)
      call_function("shiftright", col("simhash"), lit(o))
        .bitwiseAND(lit((1L << w) - 1L))
    }
    val keys = bandCombos(blocks, maxHam).map { combo =>
      combo.zipWithIndex.map { case (blk, slot) =>
        shiftleft(blockVal(blk), 16 * slot)
      }.reduce(_ bitwiseOR _)
    }
    sim.select(col("doc_id"), col("simhash"),
      posexplode(array(keys: _*)).as(Seq("band", "key")))
  }

  /** SimHash near-dup candidate pairs: pairs sharing a band key,
    * checked for Hamming <= maxHam; buckets above maxBucket dropped
    * (see [[capBuckets]]). `blocks` tunes the banding (see
    * [[simHashBanded]] — use 6 past ~10^5 docs). NOTE the output is
    * all VERIFIED pairs, inherently quadratic in genuine near-dup
    * cluster size; for boilerplate-heavy corpora whose clusters reach
    * 10^4+ members, generate [[simHashStarEdges]] instead and cluster.
    */
  def simHashCandidates(sim: DataFrame, maxHam: Int = 3,
      maxBucket: Int = 100000, blocks: Int = 4): DataFrame = {
    val banded = capBuckets(simHashBanded(sim, blocks, maxHam),
      Seq("band", "key"), maxBucket)
    val a = banded.select(col("band"), col("key"), col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = banded.select(col("band"), col("key"), col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("band", "key")).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHam)
  }

  /** Star (canopy) edges per banded bucket: every member links to its
    * bucket's MIN doc_id, verified against that representative only.
    * Σ|bucket| rows where all-pairs is Σ|bucket|^2/2 — on the 4.2M-turn
    * synthetic corpus the pair form emits 1.24e9 rows (and that is the
    * CAPPED count; cluster sizes imply 1.17e12 true pairs), the star
    * form 3.9e6 (BENCH.md). The price is canopy semantics: a kept edge
    * proves hamming(member, rep) <= maxHam, so two members of one
    * bucket are only within 2*maxHam of EACH OTHER, and a member at
    * <= maxHam of some non-rep is linked only if it also sits within
    * maxHam of a rep. Both the pair and star graphs chain under
    * [[connectedComponents]]; star is the standard keep-the-rep dedup
    * shape at web scale, pair + [[jaccardForPairs]] the exact audit at
    * sampled scale.
    *
    * UNCAPPED by default: the bucket cap exists to protect the pair
    * form's per-bucket self-join (quadratic in |bucket|), but every
    * star stage is linear — groupBy(min) is map-side combined, the
    * rep join-back is one row per key (AQE broadcast or skew-split),
    * verification is one row per distinct edge. Capping HERE only
    * loses recall: at 4.2M docs the 100k cap drops 2.8M banded rows
    * under blocks=4 and the star covers 73k docs instead of 1.54M
    * (BENCH.md). Pass a finite maxBucket only to bound verification
    * work on genuinely adversarial key collisions.
    */
  def simHashStarEdges(sim: DataFrame, maxHam: Int = 3,
      maxBucket: Int = Int.MaxValue, blocks: Int = 4): DataFrame = {
    // ids only through the shuffle; signatures joined back per DISTINCT
    // edge (the minHashCandidates two-step)
    starEdgesFromBanded(simHashBanded(sim, blocks, maxHam),
      Seq("band", "key"), "doc_id", maxBucket)
      .join(sim.select(col("doc_id"), col("simhash").as("sh_d")), Seq("doc_id"))
      .join(sim.select(col("doc_id").as("rep"), col("simhash").as("sh_r")), Seq("rep"))
      .select(col("doc_id"), col("rep"),
        bit_count(col("sh_d").bitwiseXOR(col("sh_r"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHam)
  }

  /** MinHash star (canopy) edges: [[simHashStarEdges]]'s linear-output
    * shape over [[minHashBanded]] buckets, verified by estimated
    * Jaccard against the bucket representative. Feed to
    * [[clusterDocs]]/[[connectedComponents]] when genuine dup clusters
    * are large enough that [[minHashCandidates]]'s pair output goes
    * quadratic. Uncapped by default for the same reason as
    * [[simHashStarEdges]]: every stage is linear in bucket size.
    *
    * `signatures` is referenced once for banding and twice for edge
    * verification; pass a MATERIALIZED table (parquet read, not the
    * inlined [[minHashSignatures]] lineage) at scale, or the signature
    * pipeline re-evaluates per reference — the signatures relation is
    * n x nHashes longs, far cheaper to rescan than to recompute or to
    * ride through the band shuffle (same contract as
    * [[minHashCandidates]]).
    */
  def minHashStarEdges(signatures: DataFrame, bands: Int, rowsPerBand: Int,
      minEstJaccard: Double = 0.0, maxBucket: Int = Int.MaxValue,
      family: graft.core.HashFamily = graft.core.HashFamily.default): DataFrame = {
    starEdgesFromBanded(minHashBanded(signatures, bands, rowsPerBand, family),
      Seq("band", "bucket"), "doc_id", maxBucket)
      .join(signatures.select(col("doc_id"), col("signature").as("sig_d")), Seq("doc_id"))
      .join(signatures.select(col("doc_id").as("rep"), col("signature").as("sig_r")), Seq("rep"))
      .select(col("doc_id"), col("rep"),
        round(size(filter(zip_with(col("sig_d"), col("sig_r"), (x, y) => x === y),
          (m: org.apache.spark.sql.Column) => m)).cast("double") /
          size(col("sig_d")), 4).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Embedding near-dup: pairs with cosine >= minCos. Candidates via
    * BANDED random-hyperplane LSH (OR across `bands` bands of
    * nPlanes/bands planes each — like MinHash banding), exact cosine
    * verification on candidates only. Banding matters: bucketing on the
    * full signature only ever pairs identical-signature vectors, so a
    * genuine near-dup (cos 0.99, one flipped plane) would be missed;
    * with 3 OR'd 8-plane bands, a cos>=0.999 pair collides in >=1 band
    * w.p. ~0.999 while random pairs meet in a band w.p. 2^-8.
    * Oversized buckets are dropped (see [[capBuckets]]).
    */
  def embeddingNearDups(embeddings: DataFrame, minCos: Double,
      nPlanes: Int = 24, bands: Int = 3, dim: Int = 64,
      maxBucket: Int = 100000): DataFrame = {
    // ids ONLY through the (band, key) self-join (the minHashCandidates
    // two-step): riding both 64-float embedding arrays through the band
    // shuffle costs ~2x512 bytes per banded row and evaluates the
    // cosine once per SHARED band before the distinct; deduping the
    // bare pairs first and joining the embeddings back scores each
    // pair exactly once — identical output (cos is a deterministic
    // function of the pair, so distinct pairs == distinct triples).
    val banded = Similarity.bandedHyperplane(embeddings, nPlanes, bands,
      dim, maxBucket)
    val a = banded.select(col("band"), col("key"), col("vec_id").as("id_a"))
    val b = banded.select(col("band"), col("key"), col("vec_id").as("id_b"))
    val pairs = a.join(b, Seq("band", "key")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(embeddings.select(col("vec_id").as("id_a"),
        col("embedding").as("e_a")), Seq("id_a"))
      .join(embeddings.select(col("vec_id").as("id_b"),
        col("embedding").as("e_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Similarity.cosineCol(col("e_a").cast("array<double>"),
          col("e_b").cast("array<double>")), 4).as("cos"))
      .filter(col("cos") >= minCos)
  }

  /** UNVERIFIED star candidates for the embedding family: distinct
    * (vec_id, rep) with rep = the banded-hyperplane bucket's MIN vec_id.
    * Ids only through the shuffle; verification is a separate stage
    * ([[verifyEmbeddingStar]]) so an oracle can re-score a persisted
    * candidate set (the q20/q41 pattern — the hyperplanes are SplitMix64
    * pseudo-randoms a SQL oracle can't cheaply reproduce, so the oracle
    * contract is re-scoring the same pairs, and banding recall is pinned
    * by the planted-dup tests).
    */
  def embeddingStarCandidates(embeddings: DataFrame, nPlanes: Int = 24,
      bands: Int = 3, dim: Int = 64,
      maxBucket: Int = Int.MaxValue): DataFrame =
    starEdgesFromBanded(
      // cap applied ONCE, in starEdgesFromBanded (bandedHyperplane's own
      // capBuckets call no-ops at the uncapped sentinel)
      Similarity.bandedHyperplane(embeddings, nPlanes, bands, dim,
        Int.MaxValue),
      Seq("band", "key"), "vec_id", maxBucket)

  /** Exact-cosine verification of star candidate edges against their
    * representatives: one cosine per distinct edge, keep cos >= minCos
    * (rounded to 4 dp, the cross-engine-stable form every embedding op
    * here scores with).
    */
  def verifyEmbeddingStar(candidates: DataFrame, embeddings: DataFrame,
      minCos: Double): DataFrame =
    candidates
      .join(embeddings.select(col("vec_id"), col("embedding").as("e_d")),
        Seq("vec_id"))
      .join(embeddings.select(col("vec_id").as("rep"),
        col("embedding").as("e_r")), Seq("rep"))
      .select(col("vec_id"), col("rep"),
        round(Similarity.cosineCol(col("e_d").cast("array<double>"),
          col("e_r").cast("array<double>")), 4).as("cos"))
      .filter(col("cos") >= minCos)

  /** Star (canopy) edges for the embedding family: every banded-LSH
    * bucket member links to its bucket's MIN vec_id, verified by exact
    * cosine against that representative only — the linear cluster-feed
    * form of [[embeddingNearDups]], with the same canopy-semantics trade
    * and uncapped default as [[simHashStarEdges]] (every stage linear in
    * bucket size). Output (vec_id, rep, cos); feed to [[clusterDocs]] /
    * [[connectedComponents]].
    */
  def embeddingStarEdges(embeddings: DataFrame, minCos: Double,
      nPlanes: Int = 24, bands: Int = 3, dim: Int = 64,
      maxBucket: Int = Int.MaxValue): DataFrame =
    verifyEmbeddingStar(
      embeddingStarCandidates(embeddings, nPlanes, bands, dim, maxBucket),
      embeddings, minCos)

  /** Cross-document duplicated n-gram spans — the fixed-granularity,
    * distributable form of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * length-`n` token window of every document is fingerprinted (the
    * family's 60-bit hash of the space-joined window), and a fingerprint
    * seen in >= `minDocs` DISTINCT documents is a duplicated span.
    *
    * Output is per-fingerprint AGGREGATE stats, never span PAIRS — for a
    * boilerplate span in d documents the pair count is O(d^2) while the
    * stats row is O(1), which is what survives web-scale boilerplate:
    * (span_fp, n_docs, n_occs, first_doc, first_pos), first_* = the
    * earliest occurrence position within the lowest doc_id.
    *
    * Scale shape: one projection+explode (|tokens| rows per doc — the
    * same weight class as the index build's posting stream) into two
    * hash-partitioned aggregations with map-side partial combine; no
    * joins. The second groupBy runs on data the first already reduced to
    * one row per (span, doc).
    */
  def duplicateSpans(docs: DataFrame, n: Int, minDocs: Int = 2,
      family: graft.core.HashFamily = graft.core.HashFamily.default): DataFrame =
    spanWindows(docs, n, family)
      .groupBy(col("span_fp"), col("doc_id"))
      .agg(count(lit(1)).as("occs"), min(col("pos")).as("min_pos"))
      .groupBy(col("span_fp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("occs")).as("n_occs"),
        min(struct(col("doc_id"), col("min_pos"))).as("first"))
      .filter(col("n_docs") >= minDocs)
      .select(col("span_fp"), col("n_docs"), col("n_occs"),
        col("first.doc_id").as("first_doc"), col("first.min_pos").as("first_pos"))

  /** All length-`n` token windows: (doc_id, pos, span_fp). The shared
    * explode behind [[duplicateSpans]] and [[spanDedupCoverage]] —
    * |tokens| rows per doc, the index build's posting-stream weight
    * class. The `when` guard keeps sub-n docs from a descending
    * `sequence` (negative slice indices).
    */
  private[ops] def spanWindows(docs: DataFrame, n: Int,
      family: graft.core.HashFamily): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), posexplode(shingleArrayCol(col("toks"), n)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        family.h60Col(col("col")).as("span_fp"))

  /** Per-document duplicated-span coverage: how many of a document's
    * tokens sit inside at least one cross-document duplicated n-gram
    * span ([[duplicateSpans]] with the same n/minDocs). The interval
    * union folds in ONE window pass — duplicated windows sorted by
    * position contribute min(n, next_pos - pos) tokens each (n for the
    * last) — so no per-doc interval lists materialize anywhere.
    *
    * Returns every input doc: (doc_id, n_tokens, dup_tokens,
    * dup_fraction). Downstream filter `dup_fraction <= maxFrac` is the
    * standard "drop boilerplate-heavy documents" gate.
    *
    * Scale shape: windows join the (already aggregated) duplicated-fp
    * relation on span_fp — a hash join Catalyst/AQE sizes (broadcast
    * when the dup set is small, shuffle otherwise); the interval union
    * is a doc-partitioned window; one final join back to doc lengths.
    */
  def spanDedupCoverage(docs: DataFrame, n: Int, minDocs: Int = 2,
      family: graft.core.HashFamily = graft.core.HashFamily.default): DataFrame = {
    val dupFps = duplicateSpans(docs, n, minDocs, family).select(col("span_fp"))
    val dupWins = spanWindows(docs, n, family)
      .join(dupFps, Seq("span_fp"), "left_semi")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val covered = dupWins
      .withColumn("covered",
        least(lit(n.toLong), coalesce(lead(col("pos"), 1).over(w) - col("pos"),
          lit(n.toLong))))
      .groupBy(col("doc_id"))
      .agg(sum(col("covered")).as("dup_tokens"))
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 4)
          .as("dup_fraction"))
  }

  /** Connected components over an undirected duplicate-pair graph —
    * the step that turns pairwise near-dup CANDIDATES (minhash/simhash/
    * embedding bands all emit pairs) into dedup CLUSTERS with one
    * representative each. Alternating large-star / small-star rounds
    * (the MapReduce CC algorithm of Kiveris et al., SoCC 2014):
    * O(log^2 n) rounds on any graph, each round two groupBy(min)+join
    * passes (large-star, then small-star) plus their distincts and one
    * fingerprint aggregation — and crucially no `collect_set`, so a
    * boilerplate hub with 10^8 neighbors never materializes its
    * adjacency list in one task buffer, and every shuffle is keyed on
    * a node id that AQE can skew-split.
    *
    * `edges`: two LongType columns (endpoint ids, any names); direction,
    * duplicates and self-loops are ignored. `nodes` (one LongType
    * column, optional): isolated ids to carry through as their own
    * singleton components.
    *
    * Returns `(doc_id, component)` with component = MIN id reachable —
    * deterministic regardless of partitioning or edge order.
    *
    * Iteration count is data-dependent, so each round runs one action
    * (count + xxhash64 fingerprint) to test convergence; `maxIter` is a
    * safety valve that throws rather than return a half-contracted
    * graph.
    *
    * `localMaxEdges`: cap-gated driver union-find fast path (the
    * dictLocalCap / bm25TopKLocal pattern). When the CANONICAL edge set
    * fits under the cap — established by ONE limit(cap+1) collect, so
    * the driver transfer is bounded by the cap (16 bytes/edge: the
    * 2M default is ~32 MB), never the graph size — components are
    * solved in-process with path-compressed union-find and joined back
    * as one small relation: star-contraction's per-round fixed cost
    * (~6 exchanges + an action per round, O(log^2 n) rounds) collapses
    * to a single job. Results are bit-identical (min reachable id,
    * asserted against the distributed path in OpsSpec); graphs above
    * the cap (web-scale boilerplate) take the distributed rounds
    * unchanged. 0 disables.
    *
    * `checkpointDir`: when set, round lineage is truncated with a
    * RELIABLE checkpoint into this directory instead of
    * localCheckpoint — executor-local blocks are not fault-tolerant,
    * so a long CC job on a preemptible cluster should pass a
    * persistent dir (round-5 verdict finding #3). Unset keeps the
    * cheaper localCheckpoint.
    */
  /** The cap-gated union-find half of the local fast path, shared by
    * [[connectedComponents]] and [[clusterDocs]]: collect the CANONICAL
    * edge set under `localMaxEdges` (ONE limit(cap+1) collect — the
    * driver transfer is bounded by the cap, never the graph size) and
    * solve components in-process with path compression. Returns one
    * (id, min-reachable-id) row per distinct endpoint (roots map to
    * self), or None when the canonical edge set exceeds the cap.
    */
  private[ops] def localComponentAssign(edges: DataFrame,
      localMaxEdges: Long): Option[Seq[(Long, Long)]] = {
    val spark = edges.sparkSession
    import spark.implicits._
    val cap = math.min(localMaxEdges, Int.MaxValue - 2L).toInt
    val local = edges.toDF("u", "v")
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .limit(cap + 1).as[(Long, Long)].collect()
    if (local.length > cap) return None
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.getOrDefault(c, c) != c) {
        val n = parent.get(c); parent.put(c, r); c = n
      }
      r
    }
    local.foreach { case (u, v) =>
      val ru = find(u); val rv = find(v)
      if (ru != rv) parent.put(math.max(ru, rv), math.min(ru, rv))
    }
    val seen = new java.util.HashSet[Long]()
    Some(local.iterator.flatMap { case (u, v) => Iterator(u, v) }
      .filter(seen.add).map(id => (id, find(id))).toSeq)
  }

  def connectedComponents(edges: DataFrame, nodes: Option[DataFrame] = None,
      maxIter: Int = 50, localMaxEdges: Long = 2000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    val spark = edges.sparkSession
    val allIds = {
      val fromEdges = edges.toDF("u", "v")
        .select(col("u")).union(edges.toDF("u", "v").select(col("v")))
      nodes.map(n => fromEdges.union(n.toDF("u"))).getOrElse(fromEdges)
        .distinct()
    }

    // canonical directed form: larger -> smaller, no self-loops
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()

    // ---- cap-gated driver union-find (see scaladoc): routing +
    // materialization in one cap-limited collect, the WAND tier-1 /
    // bm25ScoresFiltered pattern. Over-cap graphs fall through to the
    // distributed star-contraction below with nothing wasted but the
    // bounded collect.
    if (localMaxEdges > 0) {
      localComponentAssign(edges, localMaxEdges) match {
        case Some(assign) =>
          val spark0 = spark
          import spark0.implicits._
          lastCcRounds = 0
          // assign has one row per distinct endpoint (roots map to
          // self), so the left join needs no groupBy — isolated `nodes`
          // ids fall through the coalesce.
          return allIds.select(col("u").as("doc_id"))
            .join(assign.toDF("doc_id", "component"), Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("component"), col("doc_id")).as("component"))
        case None => () // over cap: distributed star-contraction below
      }
    }

    // large-star(u): attach every neighbor v > u to m = min(Γ(u) ∪ {u}).
    // m <= u < v, so no self-loops can appear.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      sym.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // small-star(u): attach u and all its smaller neighbors to m = min
    // of those neighbors. PRECONDITION: input already canonical
    // (u > v, distinct) — true of canon() and of largeStar's output
    // (it emits (v_orig, m) with m <= u_orig < v_orig, distinct'd), so
    // re-canonicalizing here would only add a redundant distinct
    // shuffle to every round.
    def smallStar(dir: DataFrame): DataFrame = {
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      dir.join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // order-free set fingerprint: count + xor-fold of row hashes (the
    // edge sets are distinct, so xor never pair-cancels a duplicate;
    // xor also can't overflow under ANSI mode, unlike sum)
    def fingerprint(e: DataFrame): (Long, Long) = {
      val row = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).head()
      (row.getLong(0), row.getLong(1))
    }

    // Each round MUST truncate lineage: largeStar/smallStar reference
    // their input several times (self-union + join-back), so the logical
    // plan grows ~6x per iteration — persist alone caches data but keeps
    // the plan, and ten rounds of a path graph OOM the driver just
    // STRINGIFYING it. localCheckpoint rebases the plan on the
    // materialized RDD; LAZY (eager = false) so the fingerprint action
    // both materializes the checkpoint and tests convergence in a
    // single job per round. (On a real cluster with a checkpoint dir,
    // `checkpoint` adds executor-loss fault tolerance at the cost of a
    // write; iteration state here is cheap to recompute from `edges`.)
    // Unpersist round i-1's checkpoint blocks once round i is
    // materialized: dropping the DataFrame reference alone leaves the
    // blocks to the ContextCleaner's GC cadence, which a tight driver
    // loop rarely triggers — 14 rounds on a 10M-edge graph would hold
    // 15 copies of the edge relation in executor storage. The final
    // `cur` stays persisted: the returned plan reads it.
    def unpersistCheckpoint(df: DataFrame): Unit =
      df.queryExecution.analyzed.collect {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }.foreach(_.unpersist(blocking = false))

    // reliable-checkpoint mode (finding #3): same LAZY semantics — the
    // fingerprint action both materializes the checkpoint and tests
    // convergence in one job per round
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def truncate(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(false)
      else df.localCheckpoint(false)

    var cur = truncate(canon(edges.toDF("u", "v")))
    var fp = fingerprint(cur)
    var converged = fp._1 == 0L
    var it = 0
    while (!converged) {
      it += 1
      if (it > maxIter)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds")
      val next = truncate(smallStar(largeStar(cur)))
      val nextFp = fingerprint(next)
      unpersistCheckpoint(cur)
      converged = nextFp == fp
      fp = nextFp
      cur = next
    }
    lastCcRounds = it

    // Converged edge set = disjoint stars rooted at each component min:
    // every non-root has exactly one out-edge (u -> root). Roots and
    // isolated nodes get component = self via the left join.
    allIds.select(col("u").as("doc_id"))
      .join(cur.select(col("u").as("doc_id"), col("v").as("component")),
        Seq("doc_id"), "left")
      .groupBy(col("doc_id"))
      .agg(coalesce(min(col("component")), first(col("doc_id")))
        .as("component"))
  }

  /** Rounds the last [[connectedComponents]] call took to converge
    * (includes the final no-change confirming round) — diagnostic
    * only, for tests and latency attribution. */
  @volatile var lastCcRounds: Int = 0

  /** Cluster assignment for every doc: component id, cluster size, and
    * a deterministic representative flag (min doc_id — the doc a
    * keep-one-per-cluster dedup retains). `pairs` carries near-dup
    * edges as its first two Long columns (e.g. [[minHashCandidates]]
    * output); docs in no pair become singleton clusters.
    *
    * Cluster size is a skew-safe groupBy+join (the [[exactDedup]]
    * shape), never a component-partitioned window.
    */
  def clusterDocs(docs: DataFrame, pairs: DataFrame,
      localMaxEdges: Long = 2000000L,
      checkpointDir: Option[String] = None): DataFrame = {
    val edges = pairs.select(pairs.columns(0), pairs.columns(1))
    // Local fast path (round 6): when the canonical edge set fits under
    // the cap, fold CLUSTER SIZES into the driver map too — every member
    // of a multi-node component is an edge endpoint (it is incident to
    // an edge by definition), so per-root member counts over the assign
    // rows ARE the cluster sizes, and docs outside the assign are
    // singletons of size 1. The former shape re-derived sizes
    // distributed (groupBy(component) + join back) from a relation whose
    // non-singleton part already lived on the driver — two exchanges
    // per query for arithmetic the driver map answers directly.
    // Distributed path above the cap is unchanged.
    if (localMaxEdges > 0) {
      localComponentAssign(edges, localMaxEdges) match {
        case Some(assign) =>
          val spark = docs.sparkSession
          import spark.implicits._
          lastCcRounds = 0
          val sizes = new java.util.HashMap[Long, Long]()
          assign.foreach { case (_, r) =>
            sizes.put(r, sizes.getOrDefault(r, 0L) + 1L) }
          val assignDf = assign
            .map { case (id, r) => (id, r, sizes.get(r)) }
            .toDF("doc_id", "component", "cluster_size")
          // allIds = endpoints ∪ docs, exactly the CC relation's node
          // universe (endpoints may lie outside docs; dup doc rows
          // dedup), then ONE broadcast join against the driver map.
          val endpointsDf = assign.map(_._1).toDF("doc_id")
          return docs.select(col("doc_id")).union(endpointsDf).distinct()
            .join(broadcast(assignDf), Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("component"), col("doc_id")).as("component"),
              coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
            .withColumn("is_representative", col("doc_id") === col("component"))
            .select("doc_id", "component", "cluster_size", "is_representative")
        case None => () // over cap: the distributed shape below
      }
    }
    // localMaxEdges = 0: the cap probe above already established the
    // graph is over cap — don't pay a second bounded collect inside CC
    val cc = connectedComponents(edges,
      Some(docs.select(col("doc_id"))),
      localMaxEdges = 0L, checkpointDir = checkpointDir)
    val sizes = cc.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, Seq("component"))
      .withColumn("is_representative", col("doc_id") === col("component"))
      .select("doc_id", "component", "cluster_size", "is_representative")
  }
}
