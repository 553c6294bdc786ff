package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorFunctions.cosine_similarity

/** Persisted IVF index: the serving layout for ANN at rest. The index is
  * written `partitionBy(cell)` so a query batch reads ONLY its probed
  * cells from storage — at 100 TB the difference between scanning the
  * whole vector store per query batch and scanning `probes/k_cells` of
  * it. Centroids ride along as a versioned table next to the index,
  * named by the index manifest's meta (train once with
  * [[Extensions3.trainCentroids]], write once, serve many query
  * batches).
  *
  * Cell pruning is STATIC: the probed cell set (≤ queries × probes ids,
  * driver-side — the same bounded-collect shape as the event log's
  * touched-bucket list) becomes an `isin` literal filter, which the
  * Parquet source turns into partition-directory pruning — visible as
  * `PartitionFilters` in the scan and asserted in IvfStoreSpec. A join
  * against the probe table would need dynamic partition pruning to fire;
  * the literal filter prunes unconditionally.
  */
object IvfStore {

  private def cosine(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    cosine_similarity(a, b)

  /** The manifest meta key naming the centroid table directory (relative
    * to the store root) a given index version was assigned under.
    */
  private val CentroidsKey = "centroids"

  /** The centroid table a pinned index version was built against.
    * Versioned: each [[writeIndex]] lands centroids in a fresh
    * `centroids-<rand>` dir and the index manifest commit names it —
    * so a reader pinning any index version reads the EXACT centroids
    * its cells were assigned under, never a mid-rewrite mix (the
    * reader-vs-writer race a mutable centroid table has: publish
    * first and a concurrent search pins the new index over the old
    * centroids; publish last and vice versa). A version without the
    * pointer is refused.
    */
  private def centroidsFor(
      spark: SparkSession, path: String, meta: Map[String, String]): DataFrame =
    spark.read.parquet(s"$path/${StoreManifest.metaValue(s"$path/index", meta, CentroidsKey)}")

  /** Assign every vector to its best centroid cell and write the index
    * partitioned by cell. The centroid table lands FIRST in a fresh
    * versioned dir; the index manifest commit then names it in its
    * meta — one rename publishes a consistent (centroids, index) pair.
    */
  def writeIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, path: String): Unit = {
    val base = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val centDir = s"centroids-${java.util.UUID.randomUUID.toString.take(8)}"
    centroids.select(col("cell"), col("cvec"))
      .write.parquet(s"$path/$centDir")
    StoreManifest.commit(corpus.sparkSession, s"$path/index", Nil,
        Map(CentroidsKey -> centDir))(
      Extensions2.assignCells(base, broadcast(centroids.select(col("cell"), col("cvec"))))
        .write.partitionBy("cell").mode("overwrite").parquet(_))
  }

  /** Append new vectors to an existing index: assign against the STORED
    * centroids (so old and new rows agree on cell geometry); the batch
    * lands in a fresh dir and one manifest rename publishes it
    * ([[StoreManifest]]), centroid pointer carried forward. The index
    * grows without rewriting — the steady-state ingest path; retrain
    * centroids and rewrite only when the cell-size balance drifts.
    */
  def appendToIndex(
      newVecs: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = newVecs.sparkSession
    val root = s"$path/index"
    val (pinned, meta) = StoreManifest.pin(spark, root)
    val cents = broadcast(centroidsFor(spark, path, meta))
    val base = newVecs.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    StoreManifest.commit(spark, root, pinned, meta)(
      Extensions2.assignCells(base, cents)
        .write.partitionBy("cell").mode("overwrite").parquet(_))
  }

  /** Compact deleted vectors OUT of the index (the [[SignatureStore.compact]]
    * discipline): the removed vectors' embeddings re-assign against the
    * STORED centroids to the exact cells their rows live in, so only
    * those cells' files are read (pinned via the manifest) and
    * anti-joined on vec_id — never a full-index rewrite. Survivors land
    * in a fresh batch dir; one manifest rename publishes (untouched
    * files) + (compacted batch), so emptied cells simply drop out and a
    * concurrent reader keeps its pinned snapshot. Returns the touched
    * cell ids.
    */
  def compactIndex(
      removeVecs: DataFrame, idCol: String, vecCol: String, path: String): Set[Int] = {
    val spark = removeVecs.sparkSession
    val root = s"$path/index"
    val (pinned, meta) = StoreManifest.pin(spark, root)
    val cents = broadcast(centroidsFor(spark, path, meta))
    val base = removeVecs.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
    val assigned = Extensions.materialized(Extensions2.assignCells(base, cents))
    // normalize to int: the assign side inherits the centroid table's cell
    // type (long in the x16 geometry) while the read-back partition column
    // infers int — the driver-side lists must agree
    val cells = assigned.select(col("cell").cast("int")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (cells.isEmpty) return Set.empty
    val cellSet = cells.map(_.toString).toSet
    val removeIds = broadcast(assigned.select(col("vec_id")).distinct())
    val kept = StoreManifest.readFiles(spark, root, pinned)
      .filter(col("cell").isin(cells: _*))
      .join(removeIds, Seq("vec_id"), "left_anti")
    val untouched = pinned.filterNot(f =>
      StoreManifest.partValueOf(f, "cell").exists(cellSet.contains))
    StoreManifest.commit(spark, root, untouched, meta)(
      kept.repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(_))
    cells.toSet
  }

  /** Store-level vacuum: reclaim superseded index batch dirs AND the
    * versioned `centroids-<rand>` quantizer dirs no surviving manifest
    * meta names (each [[writeIndex]] lands a fresh one; without this
    * they leak forever — the quantizers live at `path`, outside the
    * `path/index` root [[StoreManifest.vacuum]] sweeps). Same retention
    * clock on both. Returns (deleted data files, deleted sidecar dirs).
    */
  def vacuumStore(spark: SparkSession, path: String, keepVersions: Int = 1,
      retentionMs: Long = StoreManifest.DefaultRetentionMs): (Seq[String], Seq[String]) = {
    val root = s"$path/index"
    val sidecars = StoreManifest.vacuumSidecars(
      spark, path, root, Seq(CentroidsKey), keepVersions, retentionMs)
    val files = StoreManifest.vacuum(spark, root, keepVersions, retentionMs)
    (files, sidecars)
  }

  /** Top-k cosine neighbors for a query batch against a written index,
    * reading only the probed cells. Same semantics as
    * [[Extensions2.ivfTopK]] (round-before-rank, id tie-break) — the two
    * are asserted equal in IvfStoreSpec.
    */
  def topKFromIndex(
      spark: SparkSession, path: String, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, probes: Int): DataFrame = {
    // ONE pin for (centroids, files): a concurrent writeIndex can no
    // longer hand this query the new index under the old centroids
    val (pinned, meta) = StoreManifest.pin(spark, s"$path/index")
    val cents = broadcast(centroidsFor(spark, path, meta))
    val wProbe = Window.partitionBy(col("q_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probed = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("qvec"))
      .join(cents)
      .withColumn("csim", round(cosine(col("qvec"), col("cvec")), 6))
      .withColumn("rk", row_number().over(wProbe))
      .filter(col("rk") <= probes)
      .select(col("q_id"), col("qvec"), col("cell"))
    // bounded driver-side cell list -> literal isin -> static partition pruning
    val cells = probed.select(col("cell")).distinct()
      .collect().map(_.get(0)).toSeq
    val idx = StoreManifest.readFiles(spark, s"$path/index", pinned)
      .filter(col("cell").isin(cells: _*))
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("sim").desc, col("c_id"))
    probed.join(idx, Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("c_id"),
        round(cosine(col("qvec"), col("embedding")), 4).as("sim"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("c_id"), col("sim"), col("rk").cast("long").as("rk"))
  }
}
