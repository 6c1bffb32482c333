package perfbench

/** Prints, for each seed given, the hashes of the inputs both workloads
  * generate from it (corpus and query stream), as one JSON object per
  * line. No Spark session is started: the inputs are driver-side pure
  * functions of the seed.
  */
object InputsCheck {
  def main(args: Array[String]): Unit = args.map(_.toLong).foreach { seed =>
    val search = Program.turns(0, Search.NConvs, seed)
    val base = Program.turns(0, Ingest.BaseConvs, seed)
    val stream = Inputs.stream(Inputs.bands(search), seed, 7 * 3 * 4 * 10)
    val burst = Inputs.stream(Inputs.bands(base), seed, 7 * 3 * 4 * 10)
    println(s"""{"seed":$seed,"search_corpus":"${Inputs.corpusHash(search)}",""" +
      s""""search_stream":"${Inputs.streamHash(stream)}",""" +
      s""""ingest_corpus":"${Inputs.corpusHash(base)}",""" +
      s""""ingest_stream":"${Inputs.streamHash(burst)}"}""")
  }
}
