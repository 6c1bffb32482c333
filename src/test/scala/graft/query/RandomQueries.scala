package graft.query

/** The seeded query generator of the randomized differential specs: a
  * pure function of the vocabulary and the generator state, so a
  * failing query reproduces exactly from its seed.
  */
object RandomQueries {

  /** One query word: a near-miss typo of a corpus term (20%), an
    * absent junk term (10%), else an in-domain corpus term.
    */
  def word(vocab: IndexedSeq[String], rnd: scala.util.Random): String =
    rnd.nextInt(10) match {
      case 0 | 1 => // near-miss typo of a corpus term
        val w = vocab(rnd.nextInt(vocab.size))
        if (w.length > 3) w.dropRight(1) + "q" else w + "q"
      case 2 => s"zzjunk${rnd.nextInt(100)}" // absent
      case _ => vocab(rnd.nextInt(vocab.size)) // in-domain
    }

  /** `n` queries of one to four [[word]]s each. */
  def queries(vocab: IndexedSeq[String], rnd: scala.util.Random, n: Int): Seq[String] =
    Seq.fill(n)(Seq.fill(1 + rnd.nextInt(4))(word(vocab, rnd)).mkString(" "))
}
