package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trainer-facing corpus materialization: the storage layout a training
  * job actually reads. [[Extensions6.trainingOrder]] decides WHERE each
  * document goes (shard) and WHEN it is seen (ord); this writes that
  * decision down — `partitionBy(shard)`, rows sorted by `ord` INSIDE
  * each shard file — so the trainer streams shard directories in
  * filename order and consumes a reproducible global shuffle with zero
  * read-time sorting.
  *
  * Scale: one hash exchange on shard + per-shard sort (the same cost the
  * order assignment already paid), then a partitioned write. Reads are
  * pure sequential scans; the `ord` column stays in the data as the
  * resume cursor (skip rows with ord <= checkpoint after a restart).
  *
  * All writes commit through [[StoreManifest]] (fresh batch dir +
  * write-last rename): a trainer mid-epoch keeps its pinned corpus
  * across a re-materialization, and a resume after restart reads a
  * committed pack, never a torn one.
  */
object TrainStore {

  /** Assign the training order and write ordered shard directories
    * (partitionBy(shard), ord-sorted files).
    * `columns` picks the payload to materialize (ids and order columns
    * are always kept).
    */
  def writeShards(
      corpus: DataFrame, idCol: String, nShards: Int, path: String,
      columns: Seq[String]): Unit = {
    val spark = corpus.sparkSession
    val ordered = Extensions6.trainingOrder(corpus, idCol, nShards)
      .select((Seq(idCol, "shard", "ord") ++ columns).distinct.map(col): _*)
    // fresh batch dir + manifest rename: a trainer mid-epoch on the old
    // corpus keeps its pinned files; the rewrite REPLACES the manifest
    // list (a full materialization, not an append)
    StoreManifest.commit(spark, path, Nil)(
      ordered
        .repartition(nShards, col("shard"))
        .sortWithinPartitions(col("shard"), col("ord"))
        .write.partitionBy("shard").parquet(_))
  }

  /** Materialize PACKED shard directories from written shards: each
    * shard's documents concatenate in `ord` order and split into fixed
    * `ctxLen`-token chunks — the batches a trainer actually feeds, laid
    * down as `partitionBy(shard)` dirs with rows chunk-ordered, so the
    * read side does zero packing and zero sorting. `chunk_ord` is the
    * resume cursor at BATCH granularity (skip chunks <= checkpoint
    * after a restart; TrainStoreSpec proves byte-equal batches across
    * a simulated restart). Every chunk except each shard's last holds
    * exactly `ctxLen` tokens (the x23 packing semantics at token
    * granularity: a document split across a chunk boundary contributes
    * its head to one chunk and its tail to the next — no padding, no
    * token dropped).
    *
    * Scale: one per-shard cumsum window over the ordered shard (the
    * same exchange the order assignment paid), a bounded explode —
    * each doc lands in ⌈len/ctx⌉+1 ≤ chunks it overlaps, never token
    * rows — a map-side slice, and ONE (shard, chunk) hash-agg that
    * reassembles pieces in doc order. [[Extensions20.packingCurve]] is
    * the planning view of the same cumsum; this is the materialization.
    */
  def packShards(
      spark: SparkSession, shardsPath: String, ctxLen: Int,
      outPath: String, textCol: String = "text"): Unit = {
    require(ctxLen > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("ord"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val base = StoreManifest.readPinned(spark, shardsPath)
      .select(col("shard"), col("ord"), split(col(textCol), " ").as("tk"))
      .withColumn("len", size(col("tk")).cast("long"))
      .withColumn("start", coalesce(sum(col("len")).over(w), lit(0L)))
    val pieces = base
      .select(col("shard"), col("ord"), col("tk"), col("len"), col("start"),
        explode(sequence(floor(col("start") / ctxLen),
          floor((col("start") + col("len") - 1L) / ctxLen))).as("chunk_ord"))
      .select(col("shard"), col("chunk_ord"), col("ord"),
        slice(col("tk"),
          (greatest(col("chunk_ord") * ctxLen - col("start"), lit(0L)) + 1L).cast("int"),
          (least((col("chunk_ord") + 1L) * ctxLen - col("start"), col("len")) -
            greatest(col("chunk_ord") * ctxLen - col("start"), lit(0L))).cast("int"))
          .as("piece"))
    StoreManifest.commit(spark, outPath, Nil)(
      pieces
        .groupBy(col("shard"), col("chunk_ord"))
        .agg(
          array_join(flatten(transform(
            array_sort(collect_list(struct(col("ord"), col("piece")))),
            s => s.getField("piece"))), " ").as("chunk_text"),
          sum(size(col("piece"))).cast("long").as("n_tokens"),
          count(lit(1)).as("n_docs"))
        .repartition(col("shard"))
        .sortWithinPartitions(col("shard"), col("chunk_ord"))
        .write.partitionBy("shard").parquet(_))
  }

  /** Read one packed shard's batches in training order, resuming after
    * `afterChunk` (the persisted cursor; -1 = from the start). The read
    * pins the manifest snapshot — a re-pack racing a resuming trainer
    * serves the old pack or the new pack, never a mix (which would
    * corrupt the byte-equal-restart contract).
    */
  def readPackedShard(
      spark: SparkSession, path: String, shard: Long,
      afterChunk: Long = -1L): DataFrame =
    StoreManifest.readPinned(spark, path)
      .filter(col("shard") === shard && col("chunk_ord") > afterChunk)
      .orderBy(col("chunk_ord"))

  /** Read one shard in training order. Files carry rows ord-sorted, but
    * a multi-file shard (appends, or file splits at read time)
    * interleaves across read partitions — the trainer's contract is the
    * `ord` column, so this sorts GLOBALLY on it. Cheap: the sort spans
    * one shard (corpus/nShards rows), and each input split is already
    * ord-sorted so the exchange feeds nearly-sorted runs.
    */
  def readShard(spark: SparkSession, path: String, shard: Long): DataFrame =
    StoreManifest.readPinned(spark, path)
      .filter(col("shard") === shard)
      .orderBy(col("ord"))
}
