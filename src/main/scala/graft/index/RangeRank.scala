package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

/** Dense 1-based rank over a sort key WITHOUT a global single-partition
  * window (SURVEY.md §7.3(1)): a `Window.orderBy(...)` over 10^12 rows
  * collapses to one partition; instead we
  *
  *  1. sample the key column(s) and pick explicit range boundaries
  *     (collected to the driver, so both later passes use the SAME
  *     partitioning — no reliance on RangePartitioner re-sampling);
  *  2. count rows per range (a tiny aggregate);
  *  3. broadcast cumulative offsets and assign ids with a per-partition
  *     counter inside `mapPartitions` (typed Dataset API, no RDD).
  *
  * The key is compared as a tuple of Spark's default orderings (strings
  * byte-order = Rust String Ord, matching the reference's term order,
  * reference: src/dictionary/mod.rs:193-203).
  */
object RangeRank {

  /** Compare two key tuples field-wise. Strings compare as UTF-8 BYTES
    * (graft.core.Tokenizer.compareUtf8) so the driver-side boundary
    * routing agrees with Spark's binary StringType collation used by
    * sortWithinPartitions — Java's UTF-16 compareTo would mis-route keys
    * containing supplementary characters.
    */
  private def cmpKey(a: Seq[Any], b: Seq[Any]): Int = {
    var i = 0
    while (i < a.length) {
      val c = (a(i), b(i)) match {
        case (x: String, y: String) => graft.core.Tokenizer.compareUtf8(x, y)
        case (x: Int, y: Int) => java.lang.Integer.compare(x, y)
        case (x: Long, y: Long) => java.lang.Long.compare(x, y)
        case (x, y) => graft.core.Tokenizer.compareUtf8(x.toString, y.toString)
      }
      if (c != 0) return c
      i += 1
    }
    0
  }

  /** A ranked relation: `df` carries the rank column, `rows` is its row
    * count, and `single` says the small-relation path produced it as ONE
    * partition sorted by the key.
    */
  final case class Ranked(df: DataFrame, rows: Long, single: Boolean)

  /** Returns `df` with an extra LongType column `rankCol` = dense 1-based
    * rank of the row under ascending `keyCols` order, with its row count
    * and partition shape. Rows must be UNIQUE on keyCols (postings/doc
    * identity guarantees this at call sites).
    */
  def withRank(df: DataFrame, keyCols: Seq[String], rankCol: String,
      numParts: Int, sampleSeed: Long = 42L,
      smallThreshold: Long = 0L): Ranked = {
    val spark = df.sparkSession
    val total = df.count()
    if (total == 0) return Ranked(df.withColumn(rankCol, lit(0L)), 0L, single = false)

    // Opt-in small-relation fast path (narrow rows only, e.g. the term
    // dictionary): a single sorted partition, skipping the sample +
    // per-range count jobs. It stays ONE partition: a caller that wants
    // several files bounds the file size at the write (maxRecordsPerFile),
    // which keeps every file key-contiguous without a second shuffle.
    // Above the threshold (or when rows are wide, like documents with
    // text), the scalable boundary path runs.
    if (total <= smallThreshold) {
      val sortCols = keyCols.map(col)
      val sorted = df.repartition(1).sortWithinPartitions(sortCols: _*)
      val outSchema = sorted.schema.add(rankCol, org.apache.spark.sql.types.LongType)
      implicit val enc = Encoders.row(outSchema)
      return Ranked(sorted.mapPartitions { it =>
        var counter = 0L
        it.map { r => counter += 1L; Row.fromSeq(r.toSeq :+ counter) }
      }, total, single = true)
    }

    // 1. explicit boundaries from a driver-collected sample
    val targetSample = math.min(total, math.max(numParts * 200L, 10000L))
    val fraction = math.min(1.0, targetSample.toDouble / total)
    val sampled = df.select(keyCols.map(col): _*)
      .sample(withReplacement = false, fraction, sampleSeed)
      .collect()
      .map(r => Seq.tabulate(r.length)(r.get))
      .sortWith((a, b) => cmpKey(a, b) < 0)
    val p = math.max(1, math.min(numParts, math.max(1, sampled.length)))
    val boundaries: Array[Seq[Any]] =
      if (p <= 1 || sampled.isEmpty) Array.empty
      else (1 until p).map(i => sampled((i.toLong * sampled.length / p).toInt)).toArray

    val bcBounds = spark.sparkContext.broadcast(boundaries)
    val keyStruct = struct(keyCols.map(col): _*)
    val partOf = udf { (key: Row) =>
      val k = Seq.tabulate(key.length)(key.get)
      val bs = bcBounds.value
      // first boundary > key  => partition index
      var lo = 0
      var hi = bs.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cmpKey(bs(mid), k) <= 0) lo = mid + 1 else hi = mid
      }
      lo
    }
    val withPart = df.withColumn("__part", partOf(keyStruct))

    // 2. counts per range -> cumulative offsets
    val counts = withPart.groupBy("__part").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).toMap
    val offsets = new Array[Long](p + 1)
    (0 until p).foreach(i => offsets(i + 1) = offsets(i) + counts.getOrElse(i, 0L))
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    // 3. all rows of a range land in one partition (hash of __part);
    //    sort within partition, then assign with local counters.
    val sortCols = col("__part") +: keyCols.map(col)
    val parted = withPart
      .repartition(p, col("__part"))
      .sortWithinPartitions(sortCols: _*)
    val outSchema = parted.schema.add(rankCol, org.apache.spark.sql.types.LongType)
    implicit val enc = Encoders.row(outSchema)
    val partIdx = parted.schema.fieldIndex("__part")
    Ranked(parted.mapPartitions { it =>
      var curPart = -1
      var counter = 0L
      it.map { r =>
        val part = r.getInt(partIdx)
        if (part != curPart) { curPart = part; counter = bcOffsets.value(part) }
        counter += 1L
        Row.fromSeq(r.toSeq :+ counter)
      }
    }.drop("__part"), total, single = false)
  }
}
