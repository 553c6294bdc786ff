package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.StoreManifest

/** Exactly-once APPEND sink for `foreachBatch` — the protection
  * [[Materializer.startSnapshot]]'s keyed merge gives keyed state, for
  * sinks that append FACTS (no natural idempotence key): Structured
  * Streaming guarantees at-least-once delivery to foreachBatch, so a
  * crash between the write and the checkpoint advance REDELIVERS the
  * same (batchId, data) — an unguarded append duplicates it.
  *
  * Protocol: the sink is a [[graft.ops.StoreManifest]] store, and each
  * batch is one [[graft.ops.StoreManifest.commit]] whose meta carries
  * the applied-batch watermark (`last_batch`, the rule of
  * [[graft.log.EventLog.mergeAggregateOnce]]) — data and watermark
  * publish in ONE rename. Redelivery of a batch at or below the
  * watermark is skipped; readers pin the manifest, so a torn write (a
  * batch dir from a crash mid-batch) is an orphan no version references
  * and stays invisible, while its redelivery commits a fresh dir.
  * Requires monotone batch ids (Structured Streaming's contract per
  * checkpoint). Writer idempotence + reader pinning = exactly-once end
  * to end, spec-asserted by replaying every batch twice.
  *
  * Scale: one manifest version per micro-batch (metadata-sized); the
  * read path is one manifest read and starts no Spark job until the
  * query does.
  */
object IdempotentSink {

  /** Write `df` as batch `batchId` exactly once: returns true when this
    * call committed, false when the batch was already committed (the
    * redelivery no-op).
    */
  def writeBatch(out: String, batchId: Long, df: DataFrame): Boolean = {
    val spark = df.sparkSession
    val (files, meta) = StoreManifest.pinOrEmpty(spark, out)
    if (meta.get(StoreManifest.LastBatchKey).exists(_.toLong >= batchId)) false
    else {
      StoreManifest.commit(spark, out, files,
        Map(StoreManifest.LastBatchKey -> batchId.toString))(df.write.parquet(_))
      true
    }
  }

  /** foreachBatch adapter: `.foreachBatch(IdempotentSink.into(out))`. */
  def into(out: String): (DataFrame, Long) => Unit =
    (df, batchId) => { writeBatch(out, batchId, df); () }

  /** Read the committed batches (empty when nothing is committed). */
  def readCommitted(spark: SparkSession, out: String): DataFrame = {
    val (files, _) = StoreManifest.pinOrEmpty(spark, out)
    if (files.isEmpty) spark.emptyDataFrame
    else StoreManifest.readFiles(spark, out, files)
  }
}
