package graft.log

import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode, SparkSession}
import graft.model.{Event, Schemas}

/** Append-only Parquet event log — the engine's stand-in for the reference's
  * Cassandra `EVENTS` store (reference: initial_db.sql:5-12; command-side
  * wiring start_container.sh:80).
  *
  * Cassandra gave the reference two properties that we must re-create:
  *   1. idempotent upserts on PRIMARY KEY(ID, NAME, VERSION) — re-delivered
  *      events never double-apply (initial_db.sql:11);
  *   2. rows clustered (sorted) by (NAME, VERSION) inside each ID partition.
  *
  * On Spark, (1) moves to read time ([[pkDedup]] before any fold) because a
  * distributed append cannot cheaply check for duplicates, and (2) becomes a
  * `sortWithinPartitions` applied at write so Parquet row groups carry tight
  * min/max stats on the key columns — which is what makes key-predicate
  * pushdown (the analog of Cassandra partition pruning) effective at scale.
  */
object EventLog {

  /** S1: append a batch of events. Layout choice: repartition by aggregate id
    * so one aggregate's history is co-located, then sort within partitions by
    * (id, version) — at 100 TB this keeps a findById scan to a handful of row
    * groups via Parquet min/max stats instead of the whole log.
    */
  def append(events: Dataset[Event], path: String, numPartitions: Int = 0): Unit = {
    val spark = events.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    events
      .repartition(parts, $"id")
      .sortWithinPartitions($"id", $"version")
      .write.mode(SaveMode.Append).parquet(path)
  }

  /** S2: scan the log back as a typed Dataset. The explicit schema (never
    * inference) mirrors the DDL-defined envelope of the reference.
    */
  def scan(spark: SparkSession, path: String): Dataset[Event] = {
    import spark.implicits._
    spark.read.schema(Schemas.event).parquet(path).as[Event]
  }

  /** A2: PK-idempotence. Cassandra upserted on (ID, NAME, VERSION); a Parquet
    * log appends blindly, so duplicate delivery is collapsed here before any
    * fold. `dropDuplicates` is a partial-aggregate (map-side combine) hash
    * dedup — one shuffle on the PK, no sort.
    */
  def pkDedup(events: DataFrame): DataFrame =
    events.dropDuplicates("id", "name", "version")

  /** Incremental read-model maintenance WITHOUT a table format: the
    * snapshot is parquet partitioned by `bucket = id % numBuckets`; an
    * incremental merge folds a batch of new events against ONLY the buckets
    * those events touch and rewrites just those partition directories
    * (dynamic partition overwrite). At 100 TB this is the difference
    * between an O(new-data) nightly merge and an O(table) rewrite — the
    * same partition-pruned upsert a Delta/Iceberg MERGE performs, expressed
    * with stock Spark.
    *
    * Contract: snapshot rows are the latest-version event per id (tombstone
    * rows retained with their `name`; readers filter like q47). Returns the
    * set of bucket ids rewritten.
    */
  def mergeSnapshot(
      newEvents: DataFrame,
      snapshotPath: String,
      numBuckets: Int = 64): Set[Int] =
    mergeSnapshotKeyed(newEvents, snapshotPath, "id", "version", numBuckets)

  /** [[mergeSnapshot]] generalized to ANY latest-state table keyed by
    * (`idCol`, `versionCol`): all other columns ride along and the
    * highest-version row per id wins. Same bucketed dynamic-partition
    * overwrite — only touched buckets are rewritten.
    *
    * Tie rule: on an equal version the COMMITTED snapshot row wins over
    * an incoming one, so a same-version redelivery can never overwrite a
    * committed row and re-merging already-applied updates is a no-op.
    * Ties inside one batch pick either row, as the batch fold does.
    *
    * Robustness contract: a path with no committed version and no data
    * means "first merge"; a directory holding data but no manifest is
    * refused, naming the path, and any other read failure propagates —
    * treating an unreadable snapshot as empty would silently overwrite
    * touched buckets with only the new batch. The bucket modulus commits
    * with every version (`#buckets=` meta) and is enforced on every
    * merge: merging with a different modulus would leave stale rows in
    * old-modulus directories, yielding duplicate ids on read.
    */
  def mergeSnapshotKeyed(
      updates: DataFrame,
      snapshotPath: String,
      idCol: String,
      versionCol: String,
      numBuckets: Int = 64): Set[Int] = {
    import org.apache.spark.sql.functions._
    val dataCols = updates.columns.filter(_ != idCol).toSeq
    mergeBucketed(updates, snapshotPath, idCol, numBuckets) { combined =>
      combined
        .groupBy(col(idCol))
        .agg(max_by(struct(dataCols.map(col): _*),
          struct(col(versionCol), col(CommittedCol))).as("s"))
        .select(col(idCol) +: dataCols.map(c => col(s"s.$c").as(c)): _*)
    }
  }

  /** Incremental aggregate maintenance — [[mergeSnapshotKeyed]]'s merge
    * rule swapped from latest-wins to MONOID FOLD: the snapshot holds
    * one aggregate-state row per id (`(outCol, srcCol, op)` with op ∈
    * sum|count|min|max), and each new batch partially aggregates then
    * merges into ONLY the touched buckets (sum+sum, count+count,
    * min min, max max — all associative+commutative, so incremental ≡
    * full recompute, which the spec asserts). This is O(delta)
    * maintenance of a grouped-aggregation view — the nightly "update
    * the per-user totals" job priced by the batch, not the table.
    * Derived measures (avg = sum/count) belong at read time.
    *
    * Integral columns fold exactly; float sums carry the usual
    * accumulation-order caveat (same as any Spark sum — keep money in
    * longs).
    */
  def mergeAggregate(
      newRows: DataFrame,
      snapshotPath: String,
      idCol: String,
      aggs: Seq[(String, String, String)],
      numBuckets: Int = 64,
      extraMeta: Map[String, String] = Map.empty): Set[Int] = {
    import org.apache.spark.sql.functions._
    require(aggs.nonEmpty, "mergeAggregate needs at least one aggregate")
    def fold(op: String, c: Column): Column = op match {
      case "sum" | "count" => sum(c)
      case "min" => min(c)
      case "max" => max(c)
      case other => throw new IllegalArgumentException(
        s"mergeAggregate op '$other' — supported: sum, count, min, max")
    }
    val delta = newRows.groupBy(col(idCol)).agg(
      fold(aggs.head._3, if (aggs.head._3 == "count") lit(1L)
        else col(aggs.head._2)).as(aggs.head._1),
      aggs.tail.map { case (out, src, op) =>
        fold(op, if (op == "count") lit(1L) else col(src)).as(out)
      }: _*)
    mergeBucketed(delta, snapshotPath, idCol, numBuckets, extraMeta) { combined =>
      // merging two states re-applies the fold, except count-states ADD
      combined.groupBy(col(idCol)).agg(
        fold(if (aggs.head._3 == "count") "sum" else aggs.head._3,
          col(aggs.head._1)).as(aggs.head._1),
        aggs.tail.map { case (out, _, op) =>
          fold(if (op == "count") "sum" else op, col(out)).as(out)
        }: _*)
    }
  }

  /** Read the committed snapshot — the ONLY supported read path once
    * merges commit through [[graft.ops.StoreManifest]]: a raw
    * `spark.read.parquet(dir)` would see every batch directory ever
    * written, including superseded bucket states. One manifest read
    * pins the snapshot and the pin IS the file index: building the
    * DataFrame costs O(pinned files) driver metadata calls plus one
    * footer read, and no Spark job runs until the query does. The pin's
    * `#bucket_key=` meta makes the key a file index: a query whose
    * filter is `key = literal` or `key IN (literals)` scans only those
    * keys' bucket files, the partition-key read of the reference's
    * Cassandra table; any other predicate scans every pinned file.
    * A snapshot last merged before the key was recorded is served
    * unpruned until its next merge records it.
    */
  def readSnapshot(spark: SparkSession, snapshotPath: String): DataFrame =
    graft.ops.StoreManifest.readPinned(spark, snapshotPath)

  /** [[mergeAggregate]] made EXACTLY-ONCE for streaming redelivery:
    * foreachBatch is at-least-once, and a redelivered micro-batch
    * re-folded into a sum/count aggregate double-counts — the one
    * failure mode the keyed latest-wins merge is naturally immune to
    * and the monoid fold is not. The applied-batch watermark commits
    * INSIDE the same manifest rename as the merged data (meta
    * `last_batch`), so there is NO window between "data merged" and
    * "batch recorded": a crash anywhere leaves either the old manifest
    * (redelivery re-merges cleanly) or the new one (redelivery is a
    * no-op). Requires monotone batch ids (Structured Streaming's
    * contract per checkpoint). Returns the touched buckets, or None
    * when the batch had already been applied.
    */
  def mergeAggregateOnce(
      newRows: DataFrame,
      snapshotPath: String,
      idCol: String,
      aggs: Seq[(String, String, String)],
      batchId: Long,
      numBuckets: Int = 64): Option[Set[Int]] = {
    import graft.ops.StoreManifest.{meta, LastBatchKey}
    if (meta(newRows.sparkSession, snapshotPath).get(LastBatchKey)
        .exists(_.toLong >= batchId)) None
    else Some(mergeAggregate(newRows, snapshotPath, idCol, aggs, numBuckets,
      extraMeta = Map(LastBatchKey -> batchId.toString)))
  }

  /** Marks the rows [[mergeBucketed]] hands to `mergeStates`: true for
    * a committed snapshot row, false for an incoming one.
    */
  private val CommittedCol = "_committed"

  /** The shared bucketed-snapshot commit: the modulus guard, the
    * touched-bucket read, and one [[graft.ops.StoreManifest.commit]].
    * `mergeStates` receives (touched snapshot rows ∪ the new state
    * rows), with [[CommittedCol]] telling them apart, and must return
    * one row per id in the schema of `updates`.
    *
    * Commit protocol (the same discipline as the serving stores): the
    * merged touched buckets land in a FRESH batch directory, then ONE
    * manifest rename publishes (untouched buckets' files) + (the new
    * batch). A reader concurrent with the merge sees the pre- or
    * post-state, never a mix of pre/post buckets. The modulus commits
    * INSIDE the manifest (`#buckets=`), so data and guard can never
    * tear; crash windows reduce to "orphan batch dir no manifest
    * references" (invisible, reclaimed by vacuum). The key column
    * commits with it (`#bucket_key=`), which is what lets a pinned read
    * prune a key predicate to the key's bucket files.
    */
  private def mergeBucketed(
      updates: DataFrame,
      snapshotPath: String,
      idCol: String,
      numBuckets: Int,
      extraMeta: Map[String, String] = Map.empty)(
      mergeStates: DataFrame => DataFrame): Set[Int] = {
    import org.apache.spark.sql.functions._
    import graft.ops.StoreManifest
    val spark = updates.sparkSession
    // (no files, no meta) = first merge: an absent or empty dir, or
    // orphan batch dirs no manifest references
    val (pinned, meta) = StoreManifest.pinOrEmpty(spark, snapshotPath)
    if (pinned.nonEmpty || meta.nonEmpty) {
      val nb = StoreManifest.metaValue(snapshotPath, meta, StoreManifest.BucketsKey).toInt
      require(nb == numBuckets,
        s"snapshot at $snapshotPath was written with numBuckets=$nb, " +
          s"merge called with $numBuckets — refusing (stale-bucket corruption)")
    }
    Seq("bucket", "batch", CommittedCol).foreach { reserved =>
      require(!updates.columns.contains(reserved),
        s"bucketed snapshot merge reserves the column name '$reserved' for " +
          "the snapshot layout — rename the input column")
    }
    val bucketed = updates.withColumn("bucket", pmod(col(idCol), lit(numBuckets)).cast("int"))
    // one action yields BOTH the touched-bucket set and the per-bucket min
    // id — the id-sign guard costs no extra pass. The contract is ids >= 0.
    val touchStats = bucketed.groupBy("bucket")
      .agg(min(col(idCol).cast("long")).as("min_id")).collect()
    touchStats.foreach { r =>
      require(r.isNullAt(1) || r.getLong(1) >= 0L,
        s"bucketed snapshot merge requires non-negative ids (bucket layout " +
          s"is pmod-based); batch contains id ${r.getLong(1)}")
    }
    val touched = touchStats.map(_.getInt(0)).toSet
    def inTouched(f: String) =
      StoreManifest.partValueOf(f, "bucket").exists(v => touched.contains(v.toInt))
    val incoming = bucketed.withColumn(CommittedCol, lit(false))
    // read ONLY the touched buckets' files — pruned at the file list,
    // before the scan even plans
    val touchedFiles = pinned.filter(inTouched)
    val combined =
      if (touchedFiles.isEmpty) incoming
      else StoreManifest.readFiles(spark, snapshotPath, touchedFiles)
        .select(bucketed.columns.map(col): _*)
        .withColumn(CommittedCol, lit(true))
        .unionByName(incoming)
    val merged = mergeStates(combined)
      .withColumn("bucket", pmod(col(idCol), lit(numBuckets)).cast("int"))
    // Carry the PINNED version's meta forward under the new keys: a plain
    // mergeAggregate interleaved between two mergeAggregateOnce calls must
    // not drop the `last_batch` watermark — losing it re-enables exactly
    // the redelivery double-fold mergeAggregateOnce exists to prevent.
    StoreManifest.commit(spark, snapshotPath, pinned.filterNot(inTouched),
      meta ++ extraMeta + (StoreManifest.BucketsKey -> numBuckets.toString) +
        (StoreManifest.BucketKeyKey -> idCol)) { dir =>
      // one task per touched bucket keeps the steady-state file count at
      // one file per bucket per merge
      merged.repartition(col("bucket")).write.partitionBy("bucket").parquet(dir)
    }
    touched
  }

  /** Log compaction — the Kafka compacted-topic / Cassandra
    * tombstone-GC analog the reference topology implies but never had
    * to run (its query side replays the WHOLE topic from offset 0 on
    * boot, `start_container.sh:94-96`; at 100 TB of history that cold
    * start is the outage). Rewrite the log keeping, per aggregate id,
    * ONLY the latest-version event after PK dedup; with
    * `dropTombstones` the aggregates whose latest event is a delete
    * (name ends `Deleted` — the playerState convention) vanish
    * entirely (delete-retention). The read-model contract holds by
    * construction — latestState(compacted) ≡ latestState(original),
    * and playerState agrees row-for-row (EventLogSpec asserts both) —
    * while replay cost drops from O(history) to O(live aggregates).
    *
    * Scale: one PK-dedup + one max_by hash-agg (partial+final — the
    * same fold the read model runs), written back in the [[append]]
    * layout (id-partitioned, (id, version)-sorted row groups).
    * Returns (events before, events after).
    */
  def compact(
      spark: SparkSession, path: String, outPath: String,
      dropTombstones: Boolean = false): (Long, Long) = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The kept set is written via append(); compacting into a non-empty
    // outPath — the natural call for PERIODIC re-compaction — would
    // silently merge with stale prior contents and grow the log instead
    // of shrinking it. Fail loudly: each compaction targets a fresh
    // (e.g. versioned) directory, and the caller swaps paths on success.
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val outFs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!outFs.exists(outP) || outFs.listStatus(outP).isEmpty,
      s"EventLog.compact: outPath $outPath already has contents; " +
        "compact into a fresh directory and swap on success")
    val events = scan(spark, path)
    val before = events.count()
    val latest = graft.state.Materialize
      .latestState(pkDedup(events.toDF()), "id", "version")
    val kept =
      if (dropTombstones) latest.filter(!col("name").endsWith("Deleted"))
      else latest
    append(kept.as[Event], outPath)
    (before, scan(spark, outPath).count())
  }

  /** M1: id assignment for create commands. The reference's command service
    * allocates the new aggregate id at POST time (PlayerResourceIT.java:
    * 123-128 — the Location header carries it); the engine analog assigns
    * ids = max(existing) + dense position within the create batch.
    *
    * Deliberately serial semantics: the single global window mirrors the
    * reference's single serialized writer. Id allocation is the one step a
    * CQRS command side cannot parallelize without coordination — at scale
    * you shard the id space per writer (prefix ids with a writer epoch),
    * which composes with this exact code run per shard. The batch being
    * windowed is the CREATE batch (requests in flight), never the log.
    */
  def allocateIds(
      newRows: DataFrame, existing: Dataset[Event], orderCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val base: Long = existing.agg(max(col("id")).cast("long")).head() match {
      case r if r.isNullAt(0) => 0L
      case r => r.getLong(0)
    }
    // ties on orderCol break on a stable whole-row hash, so the assignment
    // is deterministic across runs/retries (bit-identical rows remain
    // interchangeable — they tie everywhere and either order is the same
    // assignment); without this, row_number over a tied orderBy is
    // partition-arrival order, which changes run to run
    val tiebreak = xxhash64(struct(newRows.columns.map(col): _*))
    newRows.withColumn("id",
      lit(base) + row_number().over(Window.orderBy(col(orderCol), tiebreak)).cast("long"))
  }

  /** Sharded id allocation — the composition [[allocateIds]]' docstring
    * promises, shipped: id = (writerEpoch << seqBits) | dense position
    * within this writer's create batch. Two writers holding DIFFERENT
    * epochs allocate from disjoint id ranges by construction — no
    * coordination, no max(existing) read, no collision possible
    * (EventLogIdSpec proves it over interleaved random batches) — which
    * is exactly how a CQRS command side scales past one serialized
    * writer: the epoch comes from a tiny external assignment (one per
    * writer lease), the per-batch window stays over in-flight requests
    * only, never the log.
    *
    * Bounds are ENFORCED, not documented: the epoch must fit in
    * 63−seqBits bits (ids stay positive), and a batch larger than
    * 2^seqBits raises inside the expression rather than silently
    * wrapping into the next epoch's range. With the default 40 seq
    * bits, 2^23 writer epochs × 10¹² ids each.
    */
  def allocateIdsSharded(
      newRows: DataFrame, orderCol: String,
      writerEpoch: Long, seqBits: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(seqBits >= 1 && seqBits <= 62, s"seqBits out of range: $seqBits")
    require(writerEpoch >= 0L && writerEpoch < (1L << (63 - seqBits)),
      s"writerEpoch $writerEpoch does not fit in ${63 - seqBits} bits")
    val cap = 1L << seqBits
    val tiebreak = xxhash64(struct(newRows.columns.map(col): _*))
    val seq = row_number().over(Window.orderBy(col(orderCol), tiebreak)).cast("long")
    // strict seq < cap, not <=: at the extreme epoch 2^(63-seqBits)-1 a
    // full batch's last id (epoch<<seqBits)+2^seqBits equals 2^63 and
    // wraps to Long.MinValue — the positivity guarantee the requires
    // exist to enforce. One id per epoch is the price of the guarantee.
    newRows.withColumn("id",
      when(seq < lit(cap),
        lit(writerEpoch << seqBits) + seq)
        .otherwise(raise_error(concat(
          lit(s"allocateIdsSharded: batch exceeds 2^$seqBits - 1 ids for epoch "),
          lit(writerEpoch)))))
  }

  /** Right-to-erasure rewrite: a new log at `outPath` with EVERY event of
    * the given aggregate ids removed — unlike a tombstone delete (M3),
    * which hides the aggregate from reads but keeps its history, this
    * leaves no trace, which is what an erasure obligation (GDPR art. 17)
    * actually requires of the system of record.
    *
    * Same fresh-directory discipline as [[compact]] (rewriting in place
    * under readers is the torn-store bug the manifest stores exist to
    * prevent); the anti-join streams the log once, so cost is O(log),
    * and the id set broadcasts when small. Returns (before, dropped,
    * after); spec-asserted: the read model of every SURVIVING aggregate
    * is bit-identical pre/post, and a second forget of the same ids is
    * a no-op rewrite.
    */
  def forget(
      spark: SparkSession, path: String, outPath: String,
      ids: DataFrame): (Long, Long, Long) = {
    import spark.implicits._
    val outP = new org.apache.hadoop.fs.Path(outPath)
    val outFs = outP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!outFs.exists(outP) || outFs.listStatus(outP).isEmpty,
      s"EventLog.forget: outPath $outPath already has contents; " +
        "rewrite into a fresh directory and swap on success")
    val events = scan(spark, path)
    val before = events.count()
    val idCol = ids.columns.head
    val kept = events.toDF()
      .join(ids.select(ids(idCol).as("id")), Seq("id"), "left_anti")
    append(kept.as[Event], outPath)
    val after = scan(spark, outPath).count()
    (before, before - after, after)
  }
}
