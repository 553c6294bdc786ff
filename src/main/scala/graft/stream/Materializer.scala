package graft.stream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.model.{Event, Schemas}
import graft.state.Materialize

/** Structured Streaming materializer — the engine's analog of the
  * reference's query-side service, which builds its read model *solely* by
  * consuming the Kafka topic (reference: start_container.sh:95 — the query
  * container is wired to Kafka only; replay-from-zero on boot because it
  * owns no durable store).
  *
  * Transport mapping (SURVEY §7.0): no Kafka jar ships offline, so the bus
  * is a file-spool directory tailed by the parquet file source (production:
  * swap `format("parquet")` for `format("kafka")` — nothing else changes),
  * and `MemoryStream[Event]` in tests. The reference leaned on its single
  * Kafka partition for total order (start_container.sh:56); this fold
  * orders by `version` per key instead, so it is free to consume from any
  * number of partitions in any order — the property that lets the read
  * side scale horizontally.
  *
  * The read model ([[startSnapshot]]) is one per-key rule: the latest
  * version wins; on an equal version the committed snapshot row wins
  * over an incoming one; a delete is a tombstone. The bucketed parquet
  * snapshot IS the fold's state. Each micro-batch is mapped to read-model
  * rows and merged into the touched buckets, so the stream is stateless
  * and its checkpoint holds offsets only.
  */
object Materializer {

  /** S4: tail the event spool as an unbounded stream (schema pinned —
    * never inferred — matching the DDL-defined envelope).
    */
  def readEventStream(spark: SparkSession, spoolDir: String): Dataset[Event] = {
    import spark.implicits._
    spark.readStream.schema(Schemas.event).parquet(spoolDir).as[Event]
  }

  /** ST5: watermarked tumbling event-time aggregation over the stream.
    * Late events beyond the watermark are dropped and window state is
    * evicted — bounded state at any volume.
    */
  def windowedCounts(events: Dataset[Event], watermark: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("date", watermark)
      .groupBy(window(col("date"), windowLen).as("w"), col("name"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("name"), col("n"))

  /** Choose the watermark delay from MEASURED arrival lateness — the
    * [[graft.ops.Extensions107.watermarkPlan]] card wired into the
    * parameter it prices (round-9 item 5: the planner measured
    * drop-per-delay but the delay stayed caller-supplied). The plan
    * replays `history` (an observed arrival log: arrival order column +
    * event time) through the high-watermark model Spark applies — a
    * row is dropped when its lateness against the running max event
    * time of PRIOR batches exceeds the delay — and this picks the
    * SMALLEST bound whose measured drop share meets `targetDropShare`
    * (the largest bound when none does, with its residual share).
    * Returns (delayMinutes, predicted drops at that delay).
    *
    * Scale: the plan is one pass over the history + an O(batches) grid;
    * run it on a sampled arrival window, not the full log — lateness is
    * a property of the transport, not the volume.
    */
  def plannedWatermark(
      history: DataFrame, arrivalCol: String, tsCol: String,
      batchSize: Long, boundsMinutes: Seq[Long],
      targetDropShare: Double): (Long, Long) = {
    require(boundsMinutes.nonEmpty && targetDropShare >= 0.0)
    val plan = graft.ops.Extensions107
      .watermarkPlan(history, arrivalCol, tsCol, batchSize, boundsMinutes)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val chosen = plan.find(_._3 <= targetDropShare).getOrElse(plan.last)
    (chosen._1, chosen._2)
  }

  /** [[windowedCounts]] under a PLANNED watermark: measure the arrival
    * history, pick the cheapest delay meeting the drop target, apply
    * it. Returns the delay so the caller can log/assert the decision;
    * StreamingSpec proves the measured late-drop on the planted-latency
    * fixture stays within the plan's prediction.
    */
  def windowedCountsPlanned(
      events: Dataset[Event], history: DataFrame, arrivalCol: String,
      batchSize: Long, boundsMinutes: Seq[Long], targetDropShare: Double,
      windowLen: String = "1 hour"): (DataFrame, Long) = {
    val (mins, _) = plannedWatermark(history, arrivalCol, "date",
      batchSize, boundsMinutes, targetDropShare)
    (windowedCounts(events, s"$mins minutes", windowLen), mins)
  }

  /** Stream-stream interval join: correlate two event streams on key within
    * an event-time bound. Both sides carry watermarks so Spark can bound the
    * join state (rows older than watermark+interval are evicted) — the
    * at-scale requirement for any stream-stream join. Output columns:
    * `id` (the shared key), `l_version`/`l_date` from the left event and
    * `r_version`/`r_date` from the right; `leftName`/`rightName` filter the
    * event types being correlated (e.g. click → purchase attribution).
    */
  def intervalJoin(
      events: Dataset[Event],
      leftName: String,
      rightName: String,
      watermark: String = "10 minutes",
      withinSeconds: Long = 3600): DataFrame = {
    val left = events.filter(col("name") === leftName)
      .withWatermark("date", watermark)
      .select(col("id").as("l_id"), col("version").as("l_version"), col("date").as("l_date"))
    val right = events.filter(col("name") === rightName)
      .withWatermark("date", watermark)
      .select(col("id").as("r_id"), col("version").as("r_version"), col("date").as("r_date"))
    left.join(right,
        col("l_id") === col("r_id") &&
          col("r_date") >= col("l_date") &&
          col("r_date") <= col("l_date") + expr(s"interval $withinSeconds seconds"))
      .select(col("l_id").as("id"), col("l_version"), col("l_date"),
        col("r_version"), col("r_date"))
  }

  /** Streaming exact-dedup with BOUNDED state: drop redelivered events by
    * (id, version) inside the watermark horizon. Unlike plain
    * `dropDuplicates` (whose key state grows forever),
    * `dropDuplicatesWithinWatermark` evicts keys once the watermark passes
    * them — the only dedup shape that survives an unbounded at-least-once
    * transport. A2 on the stream.
    */
  def dedupStream(events: Dataset[Event], watermark: String = "10 minutes"): Dataset[Event] =
    events
      .withWatermark("date", watermark)
      .dropDuplicatesWithinWatermark("id", "version")

  /** Stream-static enrichment join: the static dimension is re-planned per
    * micro-batch and BROADCAST (no shuffle of the stream, no join state
    * to checkpoint) — the standard shape for decorating an event stream
    * with reference data at scale.
    */
  def enrichStream(events: Dataset[Event], dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("id"), "left")

  /** The durable read model: each micro-batch maps its events to
    * read-model rows (`id, version, firstName, lastName, deleted` — the
    * payload and tombstone rule of [[graft.state.Materialize.playerState]],
    * per event) and merges them into a parquet snapshot keyed by id —
    * the store a serving layer scans via [[readSnapshot]].
    *
    * The snapshot IS the fold's state. The merge is
    * [[graft.log.EventLog.mergeSnapshotKeyed]]: its latest-wins
    * `max_by` over (the touched buckets' committed rows ∪ the batch's
    * rows) is the fold, so the stream itself is stateless and the
    * checkpoint holds source offsets only — no state store, no second
    * copy of the read model. Tie rule: on an equal version the
    * committed row wins over the incoming one, so a same-version
    * redelivery never overwrites a committed row, and replaying the
    * spool from a fresh checkpoint into the existing snapshot leaves it
    * unchanged (StreamingSpec asserts both).
    *
    * Upgrading a snapshot written by the earlier stateful plan (a keyed
    * state-store fold before the merge): Spark refuses that plan's
    * checkpoint
    * (STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA), so point
    * this at a fresh checkpoint dir and keep the snapshot. The first
    * run replays the whole spool once — idempotent by the tie rule, so
    * only events past the old checkpoint change rows.
    *
    * The snapshot is bucketed by `pmod(id, numBuckets)` and each
    * micro-batch rewrites ONLY the buckets its keys touch, committed by
    * one StoreManifest rename — O(batch), not O(table), per trigger, and
    * a serving reader racing a trigger sees pre- or post-batch state,
    * never a torn bucket mix. Tombstones stay in the snapshot as rows
    * with `deleted = true` (latest version wins, so a delete durably
    * shadows earlier versions even if the checkpoint is lost and history
    * replays); [[readSnapshot]] filters them out of the served model, the
    * reference's drop-deleted-aggregates read behavior.
    */
  def startSnapshot(
      events: Dataset[Event],
      snapshotDir: String,
      checkpointDir: String,
      numBuckets: Int = 64): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Event], _: Long) =>
        graft.log.EventLog.mergeSnapshotKeyed(
          Materialize.playerRow(batch.toDF()), snapshotDir, "id", "version", numBuckets)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** The serving read model over a [[startSnapshot]] snapshot: live
    * (non-tombstoned) players only, bucket column dropped.
    */
  def readSnapshot(spark: SparkSession, snapshotDir: String): DataFrame =
    graft.log.EventLog.readSnapshot(spark, snapshotDir)
      .filter(!col("deleted"))
      .drop("bucket")

  /** Streaming INCREMENTAL-AGGREGATE maintenance, exactly-once: each
    * micro-batch monoid-folds into the bucketed aggregate snapshot via
    * [[graft.log.EventLog.mergeAggregateOnce]] — the batch-id
    * watermark commits in the SAME manifest rename as the merged data,
    * so foreachBatch's at-least-once redelivery can never double-count
    * a sum (the failure mode the keyed latest-wins snapshot is immune
    * to and a monoid fold is not; StreamingSpec delivers every batch
    * twice to prove it). The aggregate spec is the mergeAggregate
    * contract: (outCol, srcCol, op) with op ∈ sum|count|min|max.
    */
  def startAggregateSnapshot(
      rows: DataFrame,
      snapshotDir: String,
      checkpointDir: String,
      idCol: String,
      aggs: Seq[(String, String, String)],
      numBuckets: Int = 64): StreamingQuery =
    rows.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.log.EventLog.mergeAggregateOnce(
          batch, snapshotDir, idCol, aggs, batchId, numBuckets)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
