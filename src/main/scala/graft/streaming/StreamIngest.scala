package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.corpus.Turn
import graft.index.{Generations, IndexConf}

/** Structured Streaming ingest: new transcript files landing under a
  * directory are indexed incrementally — each micro-batch becomes one
  * immutable index generation (graft.index.Generations), queryable mid-
  * stream via QueryEngine and compactable via Compactor.
  *
  * The reference has no streaming (SURVEY.md §2.8); this is the Spark-
  * native extension of its mpsc-channel pipelining (src/indexer/
  * indexer.rs:195-204): the channel becomes a checkpointed file stream,
  * and doc_ids keep the reference's arrival-order semantics across
  * batches (each generation's ids start where the previous ended).
  */
object StreamIngest {

  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType),
    StructField("turn_idx", IntegerType),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** Start the ingest stream. `Trigger.AvailableNow()` drains what is
    * present and stops (batch-catchup mode); a processing-time trigger
    * keeps it running.
    */
  /** Stable per-checkpoint stream id: created once inside the checkpoint
    * dir, so restarts from the SAME checkpoint reuse it (batchId replay
    * stays idempotent) while a fresh/deleted checkpoint — whose batchIds
    * restart at 0 — gets a NEW id and therefore fresh generation names.
    * Without it, a restarted-from-scratch stream's batch 0 would collide
    * with the previous stream's complete gen dir and appendAt's
    * idempotency skip would silently DROP the batch.
    */
  private def streamId(checkpointDir: String): String = {
    val p = s"$checkpointDir/graft_stream_id"
    graft.index.Fs.mkdirs(checkpointDir)
    if (!graft.index.Fs.exists(p))
      graft.index.IndexBuilder.writeAtomic(p,
        java.util.UUID.randomUUID().toString.take(8))
    graft.index.Fs.readString(p).trim
  }

  def start(spark: SparkSession, inputDir: String, indexRoot: String,
      lemmas: Map[String, String], conf: IndexConf = IndexConf(),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    // the stream-id marker, generation meta markers, and appendAt's
    // idempotency check go through the Hadoop FileSystem API (Fs), so
    // the exactly-once seam holds on local AND distributed-FS roots
    val checkpoint = s"$indexRoot/_stream_checkpoint"
    val sid = streamId(checkpoint)
    spark.readStream
      .schema(turnSchema)
      .parquet(inputDir)
      .as[Turn]
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Turn], batchId: Long) =>
        // Generation dir keyed by (stream id, batchId) => micro-batch
        // REPLAY after a crash between append and checkpoint commit is
        // idempotent (appendAt skips dirs with a complete
        // index_meta.json), while a fresh checkpoint (batchIds restart)
        // gets new names instead of colliding with — and being silently
        // swallowed by — the previous stream's generations. The "gen-b"
        // prefix keeps the namespace disjoint from manual
        // Generations.append names.
        if (!batch.isEmpty)
          Generations.appendAt(batch.sparkSession, batch, indexRoot,
            f"$indexRoot/gen-b$sid-$batchId%05d", lemmas, conf)
        ()
      }
      .start()
  }

  val deleteSchema: StructType =
    StructType(Seq(StructField("doc_id", LongType)))

  /** Streaming takedowns: doc_id files landing under `inputDir` become
    * tombstone batches, mirroring [[start]]'s exactly-once seam —
    * `deleteDocsAt` skips replayed (committed) batch dirs, and the
    * per-checkpoint stream id keeps a restarted-from-scratch stream's
    * batch 0 from colliding with (and being swallowed by) a previous
    * stream's committed tombstone batch. Deletes take effect on the
    * NEXT QueryEngine construction (engines resolve tombstones at
    * startup, like Lucene reopening a reader after deleteDocuments).
    */
  def startDeletes(spark: SparkSession, inputDir: String, indexRoot: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import spark.implicits._
    val checkpoint = s"$indexRoot/_delete_checkpoint"
    val sid = streamId(checkpoint)
    spark.readStream
      .schema(deleteSchema)
      .parquet(inputDir)
      .as[Long]
      .writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Long], batchId: Long) =>
        if (!batch.isEmpty)
          Generations.deleteDocsAt(batch.sparkSession, batch, indexRoot,
            f"$indexRoot/del-b$sid-$batchId%05d")
        ()
      }
      .start()
  }
}
