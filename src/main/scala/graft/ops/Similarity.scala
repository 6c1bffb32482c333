package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.corpus.Transcripts.mix

/** Similarity search over an embedding column (`array<float>`).
  *
  *  - Brute-force cosine top-k: one scan + TakeOrderedAndProject — the
  *    exact baseline; the dot product is an `aggregate(zip_with)`
  *    expression, no UDF. Over parquet input its projection runs
  *    outside whole-stage code generation (interpreted per row).
  *  - LSH-bucketed ANN: deterministic random-hyperplane signatures;
  *    query probes its own bucket plus all Hamming-1 neighbor buckets,
  *    then exact-scores candidates. At 100 TB the bucketed path turns a
  *    full scan into a handful of bucket lookups (bucket column is
  *    writable/partitionable for storage-side pruning).
  */
object Similarity {

  /** Cosine similarity of two float-array columns, as a single
    * expression: dot / (|a| * |b|). Its higher-order functions do not
    * take part in whole-stage code generation, so over parquet input
    * the projection is interpreted.
    */
  def cosineCol(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v * v))
    dot / (na * nb)
  }

  /** Exact top-k by cosine against a literal query vector. Planner emits
    * TakeOrderedAndProject (bounded heap per partition + merge).
    */
  def bruteForceTopK(embeddings: DataFrame, query: Array[Float], k: Int,
      excludeId: Option[Long] = None): DataFrame = {
    val q = array(query.toIndexedSeq.map(v => lit(v.toDouble)): _*)
    val base = excludeId.map(id => embeddings.filter(col("vec_id") =!= id))
      .getOrElse(embeddings)
    base.select(col("vec_id"),
        round(cosineCol(col("embedding").cast("array<double>"), q), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim d weight =
    * mapped SplitMix64 of (p, d) to [-1, 1). Same planes on every
    * executor / run — no wall-clock, no RNG state.
    */
  def planeWeight(p: Int, d: Int): Double =
    (mix(0x9E37L * (p.toLong << 20) + d).toDouble / Long.MaxValue)

  /** The hyperplane signature of `emb`: bit p = sign of its dot product
    * with `planes(p)`, over the dimensions both hold.
    */
  private def signature(planes: Array[Array[Double]], emb: Seq[Float]): Long = {
    var sig = 0L
    var p = 0
    while (p < planes.length) {
      var dot = 0.0
      val w = planes(p)
      var d = 0
      val n = math.min(w.length, emb.length)
      while (d < n) { dot += emb(d) * w(d); d += 1 }
      if (dot > 0) sig |= (1L << p)
      p += 1
    }
    sig
  }

  /** Adds an integer LSH signature column `sig`: bit p = sign of the dot
    * product with hyperplane p. Typed mapPartitions with a precomputed
    * plane matrix — a (nPlanes x dim) expression tree would defeat
    * codegen and was ~10x slower at sf0.1.
    */
  def withHyperplaneSig(embeddings: DataFrame, nPlanes: Int, dim: Int): DataFrame = {
    // a 64-bit signature holds at most 63 usable planes: `1L << p` wraps
    // at 64 (shift mod 64), silently aliasing plane 64 onto plane 0 and
    // degrading candidate recall with no error
    require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1, 63]: $nPlanes")
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val planes = Array.tabulate(nPlanes, dim)((p, d) => planeWeight(p, d))
        it.map { case (id, emb) => (id, emb, signature(planes, emb)) }
      }.toDF("vec_id", "embedding", "sig")
  }

  /** ANN top-k: candidates = vectors whose signature is within Hamming
    * distance `probeHamming` of the query signature (enumerated buckets,
    * so the scan prunes on `sig IN (...)`), exact cosine on candidates.
    * Recall is tested against bruteForceTopK in AnnSpec.
    */
  def annTopK(embeddings: DataFrame, query: Array[Float], k: Int,
      nPlanes: Int = 12, probeHamming: Int = 2,
      excludeId: Option[Long] = None): DataFrame = {
    val cand = annCandidates(embeddings, query, nPlanes, probeHamming)
    val base = excludeId.map(id => cand.filter(col("vec_id") =!= id)).getOrElse(cand)
    val q = array(query.toIndexedSeq.map(v => lit(v.toDouble)): _*)
    base.select(col("vec_id"),
        round(cosineCol(col("embedding").cast("array<double>"), q), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The ANN candidate set alone (vec_id, embedding, sig): vectors whose
    * signature lies within `probeHamming` of the query's. Exposed so a
    * pipeline can persist/audit the pruned set — e.g. the driver oracle
    * re-scores exactly this set in DuckDB to verify the top-k math.
    */
  def annCandidates(embeddings: DataFrame, query: Array[Float],
      nPlanes: Int = 12, probeHamming: Int = 2): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1, 63]: $nPlanes")
    // only distances 0-2 are enumerated below; silently honoring a
    // larger request at distance 2 would deliver lower recall than the
    // caller asked for (C(nPlanes, 3)+ buckets are the IVF path's job)
    require(probeHamming >= 0 && probeHamming <= 2,
      s"probeHamming must be in [0, 2] (use IVF for wider probes): $probeHamming")
    val dim = query.length
    val qSig = (0 until nPlanes).map { p =>
      val dot = (0 until dim).map(d => query(d) * planeWeight(p, d)).sum
      if (dot > 0) 1L << p else 0L
    }.sum

    // enumerate probe buckets: all signatures within hamming distance
    val buckets = scala.collection.mutable.ArrayBuffer(qSig)
    if (probeHamming >= 1)
      (0 until nPlanes).foreach(i => buckets += (qSig ^ (1L << i)))
    if (probeHamming >= 2)
      for (i <- 0 until nPlanes; j <- (i + 1) until nPlanes)
        buckets += (qSig ^ (1L << i) ^ (1L << j))

    withHyperplaneSig(embeddings, nPlanes, dim)
      .filter(col("sig").isin(buckets.toSeq: _*))
  }

  /** [[withHyperplaneSig]] WITHOUT re-emitting the embedding: the typed
    * map is opaque to Catalyst, so an embedding column in its output is
    * serialized (object -> unsafe row, 64 floats per row) even when
    * every downstream operator prunes it — and [[bandedHyperplane]]'s
    * consumers all join embeddings back by id for scoring instead of
    * riding them through the band shuffle (guide §2.3 / §4: shuffle
    * keys, not payloads; select before an opaque map). Same signature
    * values by construction (same planes, same fold).
    */
  private[ops] def hyperplaneSigsOnly(embeddings: DataFrame, nPlanes: Int,
      dim: Int): DataFrame = {
    require(nPlanes >= 1 && nPlanes <= 63, s"nPlanes must be in [1, 63]: $nPlanes")
    val spark = embeddings.sparkSession
    import spark.implicits._
    embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val planes = Array.tabulate(nPlanes, dim)((p, d) => planeWeight(p, d))
        it.map { case (id, emb) => (id, signature(planes, emb)) }
      }.toDF("vec_id", "sig")
  }

  /** Banded hyperplane signatures with the oversized-bucket cap — the
    * shared candidate-generation relation for embeddingNearDups and
    * knnJoin: (vec_id, band, key), where key is the band's
    * nPlanes/bands-bit slice of the signature and (band, key) groups
    * larger than maxBucket are dropped (B^2 join-row blowup guard; see
    * Dedup.capBuckets / oversizedBuckets for the reporting side).
    * Ids-only (round 6): every consumer joins embeddings back by id,
    * so the 64-float array never rides the banding explode or the cap
    * anti-join.
    */
  private[ops] def bandedHyperplane(embeddings: DataFrame, nPlanes: Int,
      bands: Int, dim: Int, maxBucket: Int): DataFrame = {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    val bits = nPlanes / bands
    require(bits <= 62, "band key must fit a long")
    val mask = (1L << bits) - 1
    // sig relation materialized ONCE (localCheckpoint): every caller's
    // plan references the banded relation repeatedly (self-join sides,
    // the cap's count aggregate and its anti-join), and once the rows
    // are this narrow AQE broadcasts the small sides — which defeats
    // exchange reuse, so WITHOUT materialization the opaque typed sig
    // map re-ran up to four times per query (observed in the q21
    // explain). 16 bytes/vector (MEMORY_AND_DISK, executor-local,
    // deterministically recomputable), orders of magnitude smaller
    // than the embeddings input at any scale.
    val sig = hyperplaneSigsOnly(embeddings, nPlanes, dim).localCheckpoint()
    val banded = sig.select(col("vec_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => call_function("shiftright", col("sig"), b * bits).bitwiseAND(mask)))
      .as(Seq("band", "key")))
    // one cap implementation for every LSH family (reporting side:
    // Dedup.oversizedBuckets over the same keys); capBuckets itself
    // no-ops at the uncapped Int.MaxValue sentinel
    Dedup.capBuckets(banded, Seq("band", "key"), maxBucket)
  }

  /** IVF (inverted-file) ANN index: deterministic Lloyd k-means (fixed
    * seeded init from SplitMix64-picked rows, fixed iteration count — no
    * RNG state, identical on every run/executor), producing a `cell`
    * column. Queries probe the nProbe nearest centroids and exact-score
    * only those cells — the classic IVF-Flat layout; at scale, writing
    * the table partitioned by `cell` turns a query into a few partition
    * reads.
    */
  final case class IvfModel(centroids: Array[Array[Double]]) {
    def nearestCells(q: Array[Double], nProbe: Int): Seq[Int] =
      centroids.zipWithIndex
        .map { case (c, i) => (i, cosineScalar(q, c)) }
        .sortBy { case (i, s) => (-s, i) }
        .take(nProbe).map(_._1).toSeq
  }

  private[ops] def cosineScalar(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Train deterministic k-means centroids (driver-side Lloyd over a
    * collected sample — the centroid set is tiny; assignments stay
    * distributed).
    */
  def trainIvf(embeddings: DataFrame, k: Int, iters: Int = 8,
      sampleSize: Int = 4096): IvfModel = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val total = embeddings.count()
    val fraction = math.min(1.0, sampleSize.toDouble / math.max(1L, total))
    val sample = embeddings.select(col("embedding"))
      .sample(withReplacement = false, fraction, 42L)
      .as[Seq[Float]].collect().map(_.map(_.toDouble).toArray)
    require(sample.nonEmpty, "empty embedding table")
    // deterministic init: SplitMix64-picked sample rows
    var centroids = Array.tabulate(math.min(k, sample.length))(i =>
      // .abs has a Long.MinValue hole (abs(MinValue) is negative and
      // would index out of bounds); mapping that one value to 0 keeps
      // every other draw's index — and thus the deterministic
      // centroids — bit-identical
      sample({
        val h = mix(0xCE11L + i)
        ((if (h == Long.MinValue) 0L else h.abs) % sample.length).toInt
      }).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(centroids.length)(new Array[Double](sample.head.length))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        var best = 0; var bestScore = Double.NegativeInfinity
        var c = 0
        while (c < centroids.length) {
          val s = cosineScalar(v, centroids(c))
          if (s > bestScore) { bestScore = s; best = c }
          c += 1
        }
        counts(best) += 1
        // min-length bound (the file's ragged-dims convention, as in
        // cosineScalar/withHyperplaneSig): a row longer than the first
        // sampled row must not overrun the accumulator
        var d = 0
        val lim = math.min(v.length, sums(best).length)
        while (d < lim) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    IvfModel(centroids)
  }

  /** Assign each vector to its nearest centroid (adds `cell`). */
  def withIvfCell(embeddings: DataFrame, model: IvfModel): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model.centroids)
    embeddings.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])]
      .mapPartitions { it =>
        val cents = bc.value
        it.map { case (id, emb) =>
          val v = emb.map(_.toDouble).toArray
          var best = 0; var bestScore = Double.NegativeInfinity
          var c = 0
          while (c < cents.length) {
            val s = cosineScalar(v, cents(c))
            if (s > bestScore) { bestScore = s; best = c }
            c += 1
          }
          (id, emb, best)
        }
      }.toDF("vec_id", "embedding", "cell")
  }

  /** IVF ANN top-k: probe the nProbe nearest cells, exact cosine within. */
  def ivfTopK(cells: DataFrame, model: IvfModel, query: Array[Float], k: Int,
      nProbe: Int = 4, excludeId: Option[Long] = None): DataFrame = {
    val probes = model.nearestCells(query.map(_.toDouble), nProbe)
    val q = array(query.toIndexedSeq.map(v => lit(v.toDouble)): _*)
    val base = excludeId.map(id => cells.filter(col("vec_id") =!= id))
      .getOrElse(cells)
    base.filter(col("cell").isin(probes: _*))
      .select(col("vec_id"),
        round(cosineCol(col("embedding").cast("array<double>"), q), 4).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** All-pairs top-k neighbors via BANDED LSH buckets (batch kNN join):
    * each vector meets only vectors sharing at least one band key (OR
    * across `bands` bands of nPlanes/bands planes — full-signature
    * bucketing would only ever pair identical-signature vectors), exact
    * cosine on the distinct candidate pairs, per-vector top-k via window
    * rank. Buckets above `maxBucket` members are dropped (B^2 join-row
    * blowup guard; see Dedup.capBuckets). The at-scale alternative to a
    * quadratic cross join.
    */
  def knnJoin(embeddings: DataFrame, k: Int, nPlanes: Int = 24,
      bands: Int = 3, dim: Int = 64, maxBucket: Int = 100000): DataFrame =
    knnRank(embeddings,
      knnCandidatePairs(embeddings, nPlanes, bands, dim, maxBucket), k)

  /** The kNN join's candidate-generation half: distinct (id_a, id_b)
    * pairs sharing at least one LSH band key (both directions, so every
    * vector gets its own neighbor list). Split out so callers can
    * persist the candidate set — the driver oracle re-scores EXACTLY the
    * pairs the engine generated (q41), the same pattern as q20/q26.
    */
  def knnCandidatePairs(embeddings: DataFrame, nPlanes: Int = 24,
      bands: Int = 3, dim: Int = 64, maxBucket: Int = 100000): DataFrame = {
    val banded = bandedHyperplane(embeddings, nPlanes, bands, dim, maxBucket)
    val a = banded.select(col("band"), col("key"), col("vec_id").as("id_a"))
    val b = banded.select(col("band"), col("key"), col("vec_id").as("id_b"))
    a.join(b, Seq("band", "key")).filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** The kNN join's scoring half: exact cosine on candidate pairs, then
    * per-vector top-k via window rank (cos desc, id_b asc). `roundTo`
    * >= 0 ranks on the ROUNDED cosine — what an engine-comparison oracle
    * needs (two engines' fp sums can differ in the last ulp and flip
    * near-tied ranks); production keeps full precision (-1).
    */
  def knnRank(embeddings: DataFrame, pairs: DataFrame, k: Int,
      roundTo: Int = -1): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ea = embeddings.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val eb = embeddings.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    val rawCos = cosineCol(col("e_a").cast("array<double>"),
      col("e_b").cast("array<double>"))
    val cos = if (roundTo >= 0) round(rawCos, roundTo) else rawCos
    val scored = pairs.join(ea, Seq("id_a")).join(eb, Seq("id_b"))
      .select(col("id_a"), col("id_b"), cos.as("cos"))
    val w = Window.partitionBy(col("id_a")).orderBy(col("cos").desc, col("id_b").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("id_a"), col("id_b"), col("cos"), col("rank"))
  }
}
