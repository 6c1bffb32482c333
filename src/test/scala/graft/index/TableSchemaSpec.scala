package graft.index

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.SparkSpecBase
import graft.corpus.Transcripts
import graft.query.QueryEngine

/** Every index table is read with a schema constant, not with the one
  * parquet infers (an inference is a Spark job per table per open).
  * These tests keep the constants honest: each must equal, nullability
  * aside, what parquet infers from freshly written files, so a writer
  * column change fails here instead of in a query. They also keep the
  * read path free of schema-less index reads.
  */
class TableSchemaSpec extends SparkSpecBase {

  private val lemmas = Transcripts.lemmas
  private val conf = IndexConf(numParts = 4, skewDfThreshold = 300, nSalts = 4)
  private lazy val allTurns = Transcripts.generateLocal(24L)
  private val q = "the of table"

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  private def assertSchema(dir: String, schema: StructType, recursive: Boolean = false): Unit = {
    assert(Fs.exists(dir), s"fixture: $dir was not written")
    val inferred = spark.read.option("recursiveFileLookup", recursive.toString).parquet(dir).schema
    assert(nullable(schema) == nullable(inferred),
      s"$dir: reader schema\n  ${schema.simpleString}\nwriter schema\n  ${inferred.simpleString}")
  }

  private def assertIndexTables(root: String): Unit = {
    val p = IndexPaths(root)
    assertSchema(p.docs, IndexBuilder.DocsSchema)
    assertSchema(p.dictionary, IndexBuilder.DictionarySchema)
    assertSchema(p.postings, IndexBuilder.PostingsSchema, recursive = true)
    assertSchema(p.segments, IndexBuilder.SegmentsSchema, recursive = true)
  }

  /** The derived tables a reader writes on first use. */
  private def assertDerivedTables(root: String): Unit = {
    val p = IndexPaths(root)
    assertSchema(p.fuzzy(conf.fuzzyMaxDistance), IndexBuilder.FuzzySchema)
    assertSchema(p.dictByLen, IndexBuilder.DictByLenSchema)
  }

  /** Writes the fuzzy tables of every generation under `root`: a Spark
    * lookup at d = 1 writes fuzzy_d1, one at d = 4 dict_by_len.
    */
  private def writeFuzzyTables(root: String): Unit = {
    val e = new QueryEngine(spark, root, lemmas)
    Seq(1, 4).foreach(d => e.fuzzyTerms("tabel", d).collect())
  }

  /** The Parquet files under `dir` whose footers record a column chunk
    * in a codec other than zstd, with that codec.
    */
  private def notZstd(dir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val hconf = spark.sparkContext.hadoopConfiguration
    Fs.listFilesRecursive(dir, ".parquet").map(_._1).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), hconf))
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
        .filter(_ != CompressionCodecName.ZSTD).map(c => s"$f: $c").distinct
      finally r.close()
    }
  }

  test("each reader schema equals what parquet infers from the written tables") {
    import spark.implicits._
    val single = tmpDir("graft-schema-single")
    new IndexBuilder(spark, lemmas, conf).build(spark.createDataset(allTurns), single)
    assertIndexTables(single)
    // the fuzzy tables and vsm_norms are backfilled on first use
    writeFuzzyTables(single)
    assertDerivedTables(single)
    val e = new QueryEngine(spark, single, lemmas)
    e.vsmScores(e.queryTerms(q)).collect()
    assertSchema(IndexPaths(single).vsmNorms, IndexBuilder.VsmNormsSchema)

    val gens = tmpDir("graft-schema-gens")
    val (b1, b2) = allTurns.splitAt(allTurns.size / 2)
    Seq(b1, b2).foreach(b =>
      Generations.append(spark, spark.createDataset(b), gens, lemmas, conf))
    Generations.deleteDocs(spark, spark.createDataset(Seq(3L, 40L)), gens)
    Generations.deleteWhere(spark, gens, col("conv_id") === "conv-00000002")
    Generations.genDirs(gens).foreach(assertIndexTables)
    writeFuzzyTables(gens)
    Generations.genDirs(gens).foreach(assertDerivedTables)
    val dels = Generations.delDirs(gens)
    assert(dels.size == 2)
    dels.foreach(d => assertSchema(s"$d/ids", Generations.DeletedIdsSchema))
  }

  test("writers commit no derived table, and every table is written in zstd pages") {
    import spark.implicits._
    val single = tmpDir("graft-codec-single")
    new IndexBuilder(spark, lemmas, conf).build(spark.createDataset(allTurns), single)
    val gens = tmpDir("graft-codec-gens")
    val (base, fresh) = allTurns.splitAt(allTurns.size / 2)
    Generations.append(spark, spark.createDataset(base), gens, lemmas, conf)
    Generations.upsert(spark, spark.createDataset(
      fresh ++ base.take(5).map(t => t.copy(text = t.text + " corrected"))), gens, lemmas, conf)
    Generations.deleteDocs(spark, spark.createDataset(Seq(3L, 40L)), gens)
    assert(Generations.delDirs(gens).nonEmpty)
    Compactor.mergeSmallest(spark, gens, 2, lemmas, conf)
    val written = single +: Generations.genDirs(gens)
    assert(written.size == 2, s"expected one merged generation: ${Generations.genDirs(gens)}")
    written.foreach { dir =>
      val derived = new java.io.File(dir).listFiles().map(_.getName)
        .filter(n => n == "dict_by_len" || n.startsWith("fuzzy_d"))
      assert(derived.isEmpty, s"$dir: a writer committed ${derived.mkString(", ")}")
    }
    // the lazily written tables too
    Seq(single, gens).foreach(writeFuzzyTables)
    val e = new QueryEngine(spark, single, lemmas)
    e.vsmScores(e.queryTerms(q)).collect()
    written.foreach(assertDerivedTables)
    assert(Fs.exists(IndexPaths(single).vsmNorms))
    Seq(single, gens).foreach { root =>
      assert(Fs.listFilesRecursive(root, ".parquet").size > 10)
      val bad = notZstd(root)
      assert(bad.isEmpty, s"part files not in zstd pages:\n${bad.mkString("\n")}")
    }
  }

  test("a root whose docs files predate ts opens and serves snippets and filtered search") {
    import spark.implicits._
    val dir = tmpDir("graft-schema-no-ts")
    val (b1, b2) = allTurns.splitAt(allTurns.size / 2)
    Seq(b1, b2).foreach(b =>
      Generations.append(spark, spark.createDataset(b), dir, lemmas, conf))
    val withTs = cloneRoot(dir, "graft-schema-with-ts")
    // rewrite the first generation's docs files without ts, as they were
    // written before ts joined the docs schema (manifest and marker kept)
    val docsDir = IndexPaths(Generations.genDirs(dir).head).docs
    val noTs = s"${tmpDir("graft-schema-no-ts-docs")}/docs"
    spark.read.parquet(docsDir).drop("ts").write.parquet(noTs)
    def parts(d: String) = new java.io.File(d).listFiles()
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith(".part-"))
    parts(docsDir).foreach(f => assert(f.delete()))
    parts(noTs).foreach(f => copyTree(f, new java.io.File(docsDir, f.getName)))
    assert(!spark.read.parquet(docsDir).columns.contains("ts"))

    val old = new QueryEngine(spark, dir, lemmas)
    old.warmDictionaryLocal()
    val cur = new QueryEngine(spark, withTs, lemmas)
    cur.warmDictionaryLocal()
    val snippets = old.searchWithSnippets(q, 10).collect().toSeq
    assert(snippets.nonEmpty && snippets.forall(r => r.getAs[String]("snippet") != null))
    assert(snippets == cur.searchWithSnippets(q, 10).collect().toSeq)
    val user = col("role") === "user"
    assert(old.bm25TopKFiltered(q, 10, user).collect().toSeq ==
      cur.bm25TopKFiltered(q, 10, user).collect().toSeq)
    // the older generation's docs read ts as null
    val hits = old.bm25TopKFiltered(q, 1000, col("ts").isNull).collect().map(_.getLong(0))
    val firstGen = b1.size.toLong
    assert(hits.nonEmpty && hits.forall(_ <= firstGen), s"ts-null hits: ${hits.toSeq}")
  }

  /** Schema-less parquet reads in `src` (comments dropped): a `.read`
    * chain that reaches `.parquet(` without a `.schema(`.
    */
  private def schemaLessReads(src: String): Seq[String] = {
    val code = src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
    "(?s)\\.read\\b((?:(?!\\.parquet\\().){0,400}?)\\.parquet\\(".r
      .findAllMatchIn(code).filterNot(_.group(1).contains(".schema(")).map(_.matched).toSeq
  }

  test("the query and index packages read no index table without its schema") {
    assert(schemaLessReads("val d = spark.read.parquet(dir)").size == 1)
    assert(schemaLessReads("spark.read\n  .option(\"a\", \"b\").parquet(dir)").size == 1)
    assert(schemaLessReads("spark.read.schema(s)\n  .option(\"a\", \"b\").parquet(dirs: _*)").isEmpty)
    val files = Seq("query", "index").flatMap { pkg =>
      new java.io.File(s"src/main/scala/graft/$pkg").listFiles()
        .filter(_.getName.endsWith(".scala")).toSeq
    }
    assert(files.size > 5, s"found only ${files.map(_.getName)}")
    val hits = files.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      schemaLessReads(src).map(m => s"${f.getName}: $m")
    }
    assert(hits.isEmpty, s"schema-less parquet reads:\n${hits.mkString("\n")}")
  }
}
