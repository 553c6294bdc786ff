package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted mergeable distinct-count sketches — the incremental
  * cardinality layer over the event log: each ingested batch folds to
  * one Apache DataSketches HLL sketch per group (Spark 4's native
  * `hll_sketch_agg`, codegen'd, no UDF), appended as a tiny parquet row
  * per (group, batch). Serving unions the stored sketches per group
  * (`hll_union_agg`) and estimates — history is NEVER rescanned; the
  * read cost is O(groups · batches) sketch bytes regardless of how many
  * trillions of rows produced them.
  *
  * The algebra that makes this exact-as-one-pass: an HLL union is a
  * register-wise max, so union(sketch(A), sketch(B)) is BIT-IDENTICAL
  * to sketch(A ∪ B) — appending batches loses nothing versus a full
  * rescan (SketchStoreSpec asserts estimate equality, batched vs
  * direct, including overlapping batches). Estimates are deterministic
  * for a given value set (order-insensitive register maxes), so serving
  * results are stable across retries and partitionings.
  *
  * No DuckDB oracle exists for DataSketches registers, so this store is
  * spec-verified (the COVERAGE discipline for store components), not
  * oracle-checked.
  */
object SketchStore {

  /** One sketch row per group for a batch: (group, sketch binary). */
  def sketchBatch(
      batch: DataFrame, groupCol: String, valueCol: String,
      lgK: Int = 12): DataFrame =
    batch.groupBy(col(groupCol).as("g"))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))

  /** Append a batch's per-group sketches (one sketch row per (group,
    * batch)) to the store — one
    * [[StoreManifest.commit]] (fresh batch dir + write-last manifest
    * rename), so a concurrent [[estimate]] unions the sketches of a
    * committed prefix of batches, never a half-written one (a raw
    * parquet append could expose a partially-visible batch whose
    * missing groups read as silently-lower estimates). The first append
    * creates the store.
    */
  def append(
      store: String, batch: DataFrame, groupCol: String, valueCol: String,
      lgK: Int = 12): Unit = {
    val spark = batch.sparkSession
    val (pinned, _) = StoreManifest.pinOrEmpty(spark, store)
    StoreManifest.commit(spark, store, pinned)(
      sketchBatch(batch, groupCol, valueCol, lgK).write.parquet(_))
  }

  /** Serve distinct-count estimates from the store: union the stored
    * sketches per group, estimate once — over the PINNED snapshot (one
    * manifest read). Output: (g, estimate).
    */
  def estimate(spark: SparkSession, store: String): DataFrame =
    StoreManifest.readPinned(spark, store)
      .groupBy(col("g"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"))).as("estimate"))
}
