package perfbench

import scala.util.Random

import Program.{Query, Turn}

/** The seeded inputs of a run: transcript turns and a query stream over
  * them. Both are pure functions of the seed, built on the driver
  * without Spark, so the self-tests can compare them across seeds.
  */
object Inputs {

  /** Term vocabulary of a corpus split into document-frequency bands. */
  final case class Bands(nDocs: Int, stop: Vector[String], mid: Vector[String],
      rare: Vector[String], docs: Vector[Vector[(Int, String)]]) {
    /** term -> (document, token index) of each occurrence. */
    lazy val occurrences: Map[String, Vector[(Int, Int)]] =
      docs.zipWithIndex.flatMap { case (d, doc) => d.indices.map(i => d(i)._2 -> (doc, i)) }
        .groupMap(_._1)(_._2)
  }

  def bands(turns: Seq[Turn]): Bands = {
    val docs = turns.map(t => Program.tokens(t.text).toVector).toVector
    val df = scala.collection.mutable.HashMap.empty[String, Int]
    docs.foreach(_.map(_._2).distinct.foreach(t => df(t) = df.getOrElse(t, 0) + 1))
    val n = docs.size
    val stopSet = Program.stopwords.toSet
    val sorted = df.toVector.sortBy { case (t, d) => (-d, t) }
    val stop = sorted.collect { case (t, _) if stopSet(t) => t }
    val content = sorted.filterNot { case (t, _) => stopSet(t) }
    // rare: the 5% of content terms with the lowest df; mid: the others
    // in at least 0.2% of documents, but no more than 5%
    val rare = content.takeRight(math.max(1, content.size / 20)).map(_._1)
    val rareSet = rare.toSet
    val mid = content.collect {
      case (t, d) if d >= math.max(4, n / 500) && d <= n / 20 && !rareSet(t) => t
    }
    require(stop.nonEmpty && mid.nonEmpty && rare.nonEmpty,
      s"corpus too small for the query bands (stop ${stop.size}, mid ${mid.size}, rare ${rare.size})")
    Bands(n, stop, mid, rare, docs)
  }

  val BandNames: Vector[String] = Vector("rare", "mid", "stop")

  /** The mixed query stream: the kind cycles with period 7, the df band
    * with period 3 and the term count (1-4) with period 4, so every 21
    * consecutive queries hold each (kind, band) pair once and any prefix
    * covers kinds, bands and shapes evenly.
    *
    * Terms are drawn stratified: each term slot has a fixed position in
    * its band's df ranking (a golden-ratio sequence that covers the band
    * evenly), and the seed picks among the neighbouring terms. Every seed
    * then asks queries of the same df profile over its own corpus, so
    * runs with different seeds measure the same work.
    */
  def stream(b: Bands, seed: Long, length: Int): Vector[Query] = {
    val rnd = new Random(seed * 0x9e3779b97f4a7c15L + 1)
    var slot = 0
    def pick(v: Vector[String]) = {
      slot += 1
      val u = (slot * 0.6180339887498949) % 1.0
      val at = (u * v.size).toInt + rnd.nextInt(5) - 2
      v(math.min(v.size - 1, math.max(0, at)))
    }
    def terms(band: String, n: Int): Seq[String] = band match {
      case "stop" => pick(b.stop) +: Seq.fill(n - 1)(pick(b.mid))
      case "mid" => Seq.fill(n)(pick(b.mid))
      case _ => Seq.fill(n)(pick(b.rare))
    }
    (0 until length).toVector.map { i =>
      val kind = Program.Kinds(i % Program.Kinds.size)
      val band = BandNames(i % 3)
      val n = 1 + i % 4
      val text = kind match {
        case "phraseMatch" => phrase(b, rnd, terms(band, 1).head, math.max(2, n))
        case "suggest" =>
          val t = terms(band, 1).head
          t.take(if (band == "stop") 1 else if (band == "mid") 2 else 4)
        case "fuzzyTerms" => misspell(terms(band, 1).head, rnd)
        case _ => terms(band, n).mkString(" ")
      }
      Query(kind, text)
    }
  }

  /** `n` consecutive tokens starting at an occurrence of `anchor` (the
    * first whose window fits, from a random one on), so the phrase occurs
    * at least once; any window of a random document if none fits.
    */
  private def phrase(b: Bands, rnd: Random, anchor: String, n: Int): String = {
    def window(d: Vector[(Int, String)], i: Int): Option[String] =
      if (i + n <= d.size && d(i + n - 1)._1 - d(i)._1 == n - 1)
        Some(d.slice(i, i + n).map(_._2).mkString(" "))
      else None
    val occ = b.occurrences.getOrElse(anchor, Vector.empty)
    val from = if (occ.isEmpty) 0 else rnd.nextInt(occ.size)
    (occ.iterator.drop(from) ++ occ.iterator.take(from))
      .flatMap { case (doc, i) => window(b.docs(doc), i) }.nextOption()
      .getOrElse(Iterator.continually(b.docs(rnd.nextInt(b.docs.size)))
        .flatMap(d => d.indices.iterator.flatMap(window(d, _)).take(1)).next())
  }

  /** One substituted letter (edit distance 1) for terms longer than two
    * letters; short terms are kept as they are.
    */
  private def misspell(t: String, rnd: Random): String =
    if (t.length <= 2) t
    else {
      val i = rnd.nextInt(t.length)
      t.updated(i, ('a' + rnd.nextInt(26)).toChar)
    }

  /** Which band a query falls in by the summed df of its terms. */
  def bandOf(totalDf: Long, nDocs: Long): String =
    if (totalDf * 100 < nDocs) "rare"
    else if (totalDf * 10 >= nDocs) "stop"
    else "mid"

  /** Kinds whose query text is a term list (the df band applies). */
  val TermKinds: Set[String] = Set("bm25TopK", "handleQuery", "phraseMatch",
    "searchWithSnippets", "bm25TopKFiltered")

  def hash(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update(0.toByte) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def corpusHash(turns: Seq[Turn]): String =
    hash(turns.iterator.map(t => s"${t.conv_id}\t${t.turn_idx}\t${t.role}\t${t.text}"))

  def streamHash(qs: Seq[Query]): String = hash(qs.iterator.map(q => s"${q.kind}\t${q.text}"))
}
